package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.{functions => F}
import org.apache.spark.storage.StorageLevel

import graft.graph.{KVGraphMutations, KVGraphQueries, PropertyGraph, Traversal}
import graft.kv.{KVDeltaStore, KVStore, KVStoreManager}
import graft.sources.kvconnector.{KVScan, KVSegmentStore}

/** The seeded KCV store: keys with power-law (Zipf-like) column counts in
  * the adjacency-cell encoding — 8-byte key, 16-byte qualifier
  * (label ++ neighbour), 8-byte value. Key bytes are a bijective scramble
  * of the key index over all 64 bits, so about half the keys start with a
  * byte ≥ 0x80 and unsigned order matters. Every cell is a pure function
  * of (seed, key index): executors generate the store and the driver
  * builds its model from the same function. */
object KcvCells {
  val Keys = 10000
  val MinDegree = 8
  val MaxDegree = 2000
  val Alpha = 2.5
  val Labels = 2

  def key(i: Long): Array[Byte] = KcvModel.be(i * 0x9E3779B97F4A7C15L)

  def qualifier(label: Long, dst: Long): Array[Byte] =
    java.nio.ByteBuffer.allocate(16).putLong(label).putLong(dst).array()

  /** Cells of key `i`, distinct by qualifier. */
  def cellsOf(seed: Long, i: Long): Iterator[(Array[Byte], Array[Byte], Array[Byte])] = {
    val rnd = new SplittableRandom(seed * 1000003L + i)
    val u = 1.0 - rnd.nextDouble()
    val deg = math.min(MaxDegree, (MinDegree / math.pow(u, 1.0 / (Alpha - 1))).toInt)
    val k = key(i)
    val seen = mutable.HashSet.empty[(Long, Long)]
    Iterator.fill(deg) {
      val label = 1L + rnd.nextInt(Labels)
      val dst = rnd.nextLong(Keys.toLong)
      val w = 1L + rnd.nextInt(5)
      (label, dst, w)
    }.filter { case (l, d, _) => seen.add((l, d)) }
      .map { case (l, d, w) => (k, qualifier(l, d), KcvModel.be(w)) }
  }

  def frame(spark: SparkSession, seed: Long): DataFrame = {
    import spark.implicits._
    spark.range(0, Keys, 1, Session.cores * 4).as[Long]
      .flatMap(i => cellsOf(seed, i))
      .toDF("k", "c", "v")
  }
}

/** Zipf(s) over ranks 0..n-1, each rank mapped to an item through a
  * seeded permutation so hot items are spread over the key space — or,
  * with `shuffle = false`, item r is rank r (item 0 is the hottest). */
final class Zipf(n: Int, s: Double, seed: Long, shuffle: Boolean = true) extends Serializable {
  // rebuilt where used rather than shipped inside every task
  @transient private lazy val cdf = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / tot }
  }
  @transient private lazy val perm = {
    val p = Array.range(0, n)
    val rnd = new SplittableRandom(seed)
    if (shuffle) for (i <- n - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = p(i); p(i) = p(j); p(j) = t
    }
    p
  }

  def sample(rnd: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    perm(math.min(n - 1, if (i >= 0) i else -i - 1))
  }
}

/** Scan counters of the graft-kv reads in an executed plan. */
object ScanStats extends AdaptiveSparkPlanHelper {
  /** (segments scheduled, rows the scan produced), one per kv scan that
    * planned partitions. */
  def apply(ds: Dataset[_]): Seq[(Int, Long)] =
    collect(ds.queryExecution.executedPlan) {
      case b: BatchScanExec if b.scan.isInstanceOf[KVScan] =>
        (b.scan.asInstanceOf[KVScan].lastPlanned,
          b.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
    }.filter(_._1 >= 0)

  /** Record an executed read's scan counters on the innermost span. */
  def record(tr: Tracer, ds: Dataset[_], segmentsPerScan: Int, rowsReturned: Long): Unit =
    if (tr.on) {
      val st = apply(ds)
      tr.add("scans", st.size)
      tr.add("segments_planned", st.map(_._1).sum)
      tr.add("segments_total", st.size.toDouble * segmentsPerScan)
      tr.add("rows_scanned", st.map(_._2).sum)
      tr.add("rows_returned", rowsReturned)
    }
}

/** kcv_serve: one closed-loop client over the KCV read path, the way a
  * JanusGraph instance waits on each storage call. Reads go through the
  * graft-kv connector (segment pruning, segment reader) and KVStore slice
  * windows; about a tenth of requests mutate a KVDeltaStore holding the
  * same cells and read the merged view back. Every answer is compared
  * with a driver-side model after the clock stops. */
final class KcvServe(spark: SparkSession, env: Env, tr: Tracer) extends Workload {
  import KcvServe._
  import spark.implicits._

  private val seed = env.seed
  private val model = new KcvModel
  (0L until KcvCells.Keys).foreach(i => KcvCells.cellsOf(seed, i).foreach {
    case (k, c, v) => model.put(k, c, v)
  })
  /** The delta store's state: the base cells plus every mutation. */
  private val deltaModel = new Overlay(model)
  private val sortedKeys: Array[Array[Byte]] =
    (0L until KcvCells.Keys).map(KcvCells.key).sortWith(KcvModel.Unsigned.compare(_, _) < 0).toArray
  private val keyZipf = new Zipf(KcvCells.Keys, 1.0, seed + 1)
  private val cells = KcvCells.frame(spark, seed).persist(StorageLevel.MEMORY_AND_DISK)
  private val cellCount = cells.count()

  // the property graph the traversals walk, and its driver-side reference
  private val nationOf: Map[Long, Long] = {
    val cust = spark.read.parquet(s"${env.data}/customer.parquet")
      .select((F.col("c_custkey") * 4).as("vid"), (F.col("c_nationkey") * 4 + 2).as("n"))
    val supp = spark.read.parquet(s"${env.data}/supplier.parquet")
      .select((F.col("s_suppkey") * 4 + 1).as("vid"), (F.col("s_nationkey") * 4 + 2).as("n"))
    cust.unionByName(supp).as[(Long, Long)].collect().toMap
  }
  private val byNation: Map[Long, Set[Long]] =
    nationOf.groupBy(_._2).map { case (n, m) => n -> m.keySet }
  private val vids: Array[Long] = nationOf.keys.toArray.sorted
  private val vidZipf = new Zipf(vids.length, 1.0, seed + 2)

  private var wh: String = _
  /** The graph and delta stores, built once and kept across builds. */
  private val shared = env.dir("kcv_shared")
  private var store: DataFrame = _
  private var manifestSegments = 0
  private var graph: PropertyGraph.G = _
  private var graphSegments = 0
  private var ds: KVDeltaStore = _
  private var wts = 0L
  private var phase = 0

  override def build(rep: Int): Unit = {
    if (wh != null) graft.ScenarioDirs.delete(java.nio.file.Paths.get(wh))
    wh = env.dir(s"kcv_$rep")
    val mgr = new KVStoreManager(spark, wh)
    tr.span("kvconnector.segment_write")(mgr.writeSegmentStore(StoreName, cells, Segments))
    store = mgr.openSegmentStore(StoreName)
    manifestSegments = KVSegmentStore.readManifest(s"$wh/$StoreName").size
  }

  /** Built once: the property graph's adjacency store, and the delta
    * store's base holding the same cells as the segment store. */
  override def prepare(): Unit = {
    val graphPath = s"$shared/graph"
    val e = PropertyGraph(spark, env.data).edges
    tr.span("kvconnector.segment_write")(KVSegmentStore.write(
      KVGraphMutations.edgeAdditions(e).unionByName(KVGraphMutations.edgeRevAdditions(e)),
      graphPath, 0))
    graph = KVGraphQueries.kvBackedGraphBoth(spark, env.data, graphPath)
    graphSegments = KVSegmentStore.readManifest(graphPath).size
    ds = new KVDeltaStore(spark, shared)
    tr.span("kv.base_write") {
      ds.appendMutation(DeltaName, cells, cells.select("k", "c").limit(0), wts = 0L)
      ds.compact(DeltaName)
    }
  }

  override def warmup(): Unit = {
    val rnd = new SplittableRandom(seed ^ 0x5eed)
    Round.distinct.foreach(runOp(_, rnd, new Recorder))
  }

  override def measure(seconds: Double, rec: Recorder): Unit = {
    phase += 1
    val rnd = new SplittableRandom(seed * 31 + phase)
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    while (System.nanoTime() < end) {
      val round = Round.toArray
      for (i <- round.length - 1 to 1 by -1) {
        val j = rnd.nextInt(i + 1)
        val t = round(i); round(i) = round(j); round(j) = t
      }
      round.iterator.takeWhile(_ => System.nanoTime() < end).foreach(runOp(_, rnd, rec))
    }
    if (tr.tracing) rec.values("kv.space_amp") =
      Proc.du(s"$shared/$DeltaName").toDouble / deltaModel.liveBytes
  }

  private def keysFrame(ks: Seq[Array[Byte]]): DataFrame =
    F.broadcast(ks.map(Tuple1(_)).toDF("k"))

  private def lit(b: Array[Byte]) = F.lit(b)

  private def window(rnd: SplittableRandom): (Array[Byte], Array[Byte]) = {
    val label = 1L + rnd.nextInt(KcvCells.Labels)
    (KcvCells.qualifier(label, 0L), KcvCells.qualifier(label + 1, 0L))
  }

  private def runOp(name: String, rnd: SplittableRandom, rec: Recorder): Unit = {
    tr.newRequest(name)
    tr.span("req." + name) {
      name match {
        case "kcv.slice" =>
          val k = KcvCells.key(keyZipf.sample(rnd))
          val (cs, ce) = window(rnd)
          rec.op(name) {
            val rows = read(KVStore.slice(store, keysFrame(Seq(k)), lit(cs), lit(ce), SliceLimit),
              manifestSegments)
            () => same(rows, model.slice(k, cs, ce, SliceLimit))
          }
        case "kcv.multislice" =>
          val ks = Iterator.continually(keyZipf.sample(rnd)).distinct.take(MultiKeys).toSeq
            .map(KcvCells.key(_))
          val (cs, ce) = window(rnd)
          rec.op(name) {
            val rows = read(KVStore.slice(store, keysFrame(ks), lit(cs), lit(ce), MultiLimit),
              manifestSegments)
            () => same(rows, ks.flatMap(model.slice(_, cs, ce, MultiLimit)))
          }
        case "kcv.keyrange" =>
          val i = rnd.nextInt(sortedKeys.length - RangeKeys)
          val (ks, ke) = (sortedKeys(i), sortedKeys(i + RangeKeys))
          val (cs, ce) = window(rnd)
          rec.op(name) {
            val rows = read(KVStore.keySlices(store, lit(ks), lit(ke), lit(cs), lit(ce), RangeLimit),
              manifestSegments)
            () => same(rows, model.keySlices(ks, ke, cs, ce, RangeLimit))
          }
        case "kcv.traversal" =>
          val a = vids(vidZipf.sample(rnd))
          rec.op(name) {
            val df = Traversal.V(graph, a).as("a").out("in_nation").in("in_nation").as("b")
              .select("a", "b").df
            val got = tr.span("graph.traversal") {
              val ds = df.as[(Long, Long)]
              val r = ds.collect()
              ScanStats.record(tr, ds, graphSegments, r.length)
              r
            }
            () => {
              val want = byNation(nationOf(a))
              if (got.forall(_._1 == a) && got.map(_._2).toSet == want && got.length == want.size) None
              else Some(s"traversal from $a: ${got.length} rows, want ${want.size}")
            }
          }
        case "kcv.mutate" => mutate(rnd, rec)
      }
    }
  }

  /** Run a slice-shaped read through the connector and collect it. */
  private def read(df: DataFrame, segments: Int): Array[(Array[Byte], Array[Byte], Array[Byte])] =
    tr.span("kvconnector.read") {
      val ds = df.select("k", "c", "v").as[(Array[Byte], Array[Byte], Array[Byte])]
      val rows = ds.collect()
      ScanStats.record(tr, ds, segments, rows.length)
      rows
    }

  private def mutate(rnd: SplittableRandom, rec: Recorder): Unit = {
    val k = KcvCells.key(keyZipf.sample(rnd))
    val existing = deltaModel.slice(k, KcvModel.Empty, AllColumns, 2)
    val dels = existing.take(1).map { case (kk, c, _) => (kk, c) }
    val upserts = existing.drop(1).map { case (kk, c, _) => (kk, c, KcvModel.be(100L + rnd.nextInt(100))) }
    val fresh = (k, KcvCells.qualifier(1L, KcvCells.Keys + rnd.nextInt(1 << 20)),
      KcvModel.be(rnd.nextInt(5) + 1L))
    val adds = upserts :+ fresh
    wts += 1
    val userBytes = adds.map { case (a, b, c) => a.length + b.length + c.length }.sum +
      dels.map { case (a, b) => a.length + b.length }.sum
    deltaModel.mutate(adds, dels)
    rec.op("kcv.mutate") {
      tr.span("kv.append") {
        tr.add("user_bytes", userBytes)
        Io.written(tr) {
          ds.appendMutation(DeltaName, adds.toDF("k", "c", "v"), dels.toDF("k", "c"), wts)
        }
      }
      val rows = tr.span("kv.merged_read") {
        if (tr.on) tr.add("log_depth", ds.logDepth(DeltaName))
        ds.openDatabase(DeltaName).transform(d =>
          KVStore.slice(d, keysFrame(Seq(k)), lit(KcvModel.Empty), lit(AllColumns), MutateLimit))
          .select("k", "c", "v").as[(Array[Byte], Array[Byte], Array[Byte])].collect()
      }
      tr.span("kv.compact") {
        val ran = Io.written(tr)(ds.maybeCompact(DeltaName, CompactThreshold))
        if (tr.on && ran) {
          tr.add("runs", 1)
          tr.add("bytes_rewritten", Proc.du(s"$shared/$DeltaName/base"))
        }
      }
      () => same(rows, deltaModel.slice(k, KcvModel.Empty, AllColumns, MutateLimit))
    }
  }

  override def finish(checks: Recorder): Unit = {
    // the whole merged view against the model: its cell count, and every
    // cell of every key a mutation touched
    checks.check("kcv.delta_store_equals_model") {
      val touched = deltaModel.touchedKeys
      val view = ds.openDatabase(DeltaName)
      val n = view.count()
      val got = view.filter(F.col("k").isin(touched: _*))
        .as[(Array[Byte], Array[Byte], Array[Byte])].collect()
      if (n != deltaModel.size) Some(s"merged view holds $n cells, model ${deltaModel.size}")
      else same(got, touched.flatMap(deltaModel.slice(_, KcvModel.Empty, AllColumns, Int.MaxValue)))
    }
  }

  override def info: Map[String, Any] = Map(
    "store_cells" -> cellCount,
    "store_keys" -> KcvCells.Keys,
    "store_bytes" -> Proc.du(s"$wh/$StoreName"),
    "store_segments" -> manifestSegments,
    "delta_store_bytes" -> Proc.du(s"$shared/$DeltaName"),
    "graph_vertices" -> vids.length,
    "graph_segments" -> graphSegments,
    "ram_mb" -> Proc.memTotalMb,
    "model_cells" -> model.size,
    "compact_threshold" -> CompactThreshold)
}

object KcvServe {
  val StoreName = "edgestore"
  val DeltaName = "edgestore_delta"
  /** Explicit segment count, so pruning has segments to drop. */
  val Segments = 32
  val SliceLimit = 64
  val MultiKeys = 64
  val MultiLimit = 16
  /** Keys per key-range scan: 1.5 % of the keys. */
  val RangeKeys: Int = KcvCells.Keys * 3 / 200
  val RangeLimit = 8
  val MutateLimit = 100000
  val CompactThreshold = 2
  val AllColumns: Array[Byte] = Array.fill(17)(0xff.toByte)
  /** The request mix: each round runs these in a seeded order, so every
    * request type is sampled in a short run; a tenth are mutations. */
  val Round: Seq[String] =
    Seq.fill(3)("kcv.slice") ++ Seq.fill(2)("kcv.multislice") ++ Seq.fill(2)("kcv.keyrange") ++
      Seq.fill(2)("kcv.traversal") :+ "kcv.mutate"

  type Row3 = (Array[Byte], Array[Byte], Array[Byte])

  /** Same cells, in any order; a short diff otherwise. */
  def same(got: Seq[Row3], want: Seq[Row3]): Option[String] = {
    def key(r: Row3) = KcvModel.hex(r._1) + "/" + KcvModel.hex(r._2) + "=" + KcvModel.hex(r._3)
    val g = got.map(key).sorted
    val w = want.map(key).sorted
    if (g == w) None
    else Some(s"${g.size} cells, want ${w.size}; first difference " +
      g.diff(w).headOption.getOrElse("-") + " vs " + w.diff(g).headOption.getOrElse("-"))
  }
}

/** A mutable view over an immutable base model: the delta store's state. */
final class Overlay(base: KcvModel) {
  import KcvModel.{Cell, CellOrder}
  private val changes = new java.util.TreeMap[Cell, Option[Array[Byte]]](CellOrder)

  def mutate(additions: Seq[(Array[Byte], Array[Byte], Array[Byte])],
             deletions: Seq[(Array[Byte], Array[Byte])]): Unit = {
    deletions.foreach { case (k, c) => changes.put(Cell(k, c), None) }
    additions.foreach { case (k, c, v) => changes.put(Cell(k, c), Some(v)) }
  }

  def slice(k: Array[Byte], cStart: Array[Byte], cEnd: Array[Byte],
            limit: Int): Seq[(Array[Byte], Array[Byte], Array[Byte])] = {
    import scala.jdk.CollectionConverters._
    val merged = new java.util.TreeMap[Array[Byte], Array[Byte]](KcvModel.Unsigned)
    base.slice(k, cStart, cEnd, Int.MaxValue).foreach { case (_, c, v) => merged.put(c, v) }
    changes.subMap(Cell(k, cStart), true, Cell(k, cEnd), false).asScala.foreach {
      case (cell, Some(v)) => merged.put(cell.c, v)
      case (cell, None) => merged.remove(cell.c)
    }
    merged.asScala.iterator.take(limit).map { case (c, v) => (k, c, v) }.toSeq
  }

  /** Distinct keys with at least one mutation. */
  def touchedKeys: Seq[Array[Byte]] = {
    import scala.jdk.CollectionConverters._
    changes.keySet().asScala.toSeq.map(_.k).distinctBy(KcvModel.hex)
  }

  /** Live cells: the base's, minus deleted ones, plus newly added ones. */
  def size: Long = {
    import scala.jdk.CollectionConverters._
    changes.asScala.foldLeft(base.size.toLong) { case (n, (cell, v)) =>
      val inBase = base.slice(cell.k, cell.c, KcvModel.successor(cell.c), 1).nonEmpty
      n + (if (v.isDefined) 1 else 0) - (if (inBase) 1 else 0)
    }
  }

  /** Bytes of the live cells' k, c and v. */
  def liveBytes: Double = {
    import scala.jdk.CollectionConverters._
    val baseBytes = base.allCells.map { case (k, c, v) => (k.length + c.length + v.length).toLong }.sum
    changes.asScala.foldLeft(baseBytes.toDouble) { case (n, (cell, v)) =>
      val was = base.slice(cell.k, cell.c, KcvModel.successor(cell.c), 1).headOption
        .map { case (k, c, x) => k.length + c.length + x.length }.getOrElse(0)
      n - was + v.map(x => cell.k.length + cell.c.length + x.length).getOrElse(0)
    }
  }
}
