package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

import graft.graph.GraphAlgs
import graft.kv.KVStore.{decLong, encLong}
import graft.sources.kvconnector.KVSegmentStore

/** The seeded power-law graph: every vertex has a power-law out-degree
  * (at least [[MinDegree]]) and picks its neighbours Zipf-skewed, so
  * in-degrees are heavy-tailed too. Vertex 0 is the most popular
  * neighbour: the hub from which connected components' minimum label and
  * the shortest paths spread, so the number of Pregel rounds is about the
  * same for every seed. Each vertex's out-edges are a pure function of
  * (seed, vertex), shared by the executors that write the store and the
  * driver-side reference. */
final case class PowerGraph(seed: Long, vertices: Int) {
  import PowerGraph._

  private lazy val zipf = new Zipf(vertices, 0.8, seed + 5, shuffle = false)

  def outEdges(v: Int): Array[Int] = {
    val rnd = new SplittableRandom(seed * 1000033L + v)
    val u = 1.0 - rnd.nextDouble()
    val deg = math.min(MaxDegree, (MinDegree / math.pow(u, 1.0 / (Alpha - 1))).toInt)
    Iterator.continually(zipf.sample(rnd)).filter(_ != v).take(deg).toArray.distinct.sorted
  }

  /** KCV adjacency cells: k = be(src), c = be(label) ++ be(dst), v = be(1). */
  def cells(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val g = this
    spark.range(0, vertices, 1, Session.cores * 2).as[Long]
      .flatMap(s => g.outEdges(s.toInt).iterator.map(d => (s, d.toLong)))
      .toDF("src", "dst")
      .select(encLong(F.col("src")).as("k"),
        F.concat(encLong(F.lit(Label)), encLong(F.col("dst"))).as("c"),
        encLong(F.lit(1L)).as("v"))
  }
}

object PowerGraph {
  val MinDegree = 2
  val MaxDegree = 1000
  val Alpha = 2.2
  val Label = 1L

  /** The graph read back through the connector as (src, dst) edges. */
  def edges(spark: SparkSession, path: String): DataFrame =
    spark.read.format("graft-kv").load(path)
      .select(decLong(F.col("k"), 1).as("src"), decLong(F.col("c"), 9).as("dst"))

  def undirected(edges: DataFrame): DataFrame =
    edges.unionByName(edges.select(F.col("dst").as("src"), F.col("src").as("dst"))).distinct()
}

/** analytics_batch: time to result for the OLAP side — Pregel fixpoints
  * over a KCV-stored power-law graph, SparkEntry OLAP queries and
  * pipeline entries over the generated tables. A pass runs every job
  * once in a seeded order; a run measures [[Analytics.MinPasses]] passes,
  * and more while measured time is left. Graph results are checked against driver-side references after
  * each call; entry results are checked against their DuckDB oracles by
  * `run.py`, from the warm-up pass. */
final class Analytics(spark: SparkSession, env: Env, tr: Tracer) extends Workload {
  import Analytics._

  private val seed = env.seed
  private val graph = PowerGraph(seed, Vertices)
  private val entriesOut = env.dir("entries")
  private val ref = new GraphReference(graph)
  /** Shortest paths start at the hub. */
  private val source = 0
  private var graphPath: String = _
  private var passes = 0

  override def build(rep: Int): Unit = {
    if (graphPath != null) graft.ScenarioDirs.delete(java.nio.file.Paths.get(graphPath))
    graphPath = env.dir(s"graph_$rep")
    tr.span("kvconnector.segment_write")(KVSegmentStore.write(graph.cells(spark), graphPath, 0))
  }

  /** One untimed pass at full size. It also writes each entry's answer
    * on the measured tables, which run.py compares with the DuckDB
    * oracles after the run. */
  override def warmup(): Unit = {
    Jobs.foreach {
      case ("graph", alg) => runGraph(alg, new Recorder)
      case (_, n) =>
        graft.SparkEntry.queries(n)(spark, env.data).write.parquet(s"$entriesOut/$n")
        sweep()
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (n, _) => (Olap ++ Pipeline).contains(n) }
    Main.write(s"$entriesOut/oracle_sql.json", Json.value(oracle))
  }

  private def sweep(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))

  override def measure(seconds: Double, rec: Recorder): Unit = {
    val t0 = System.nanoTime()
    do {
      passes += 1
      val rnd = new SplittableRandom(seed * 17 + passes)
      val jobs = Jobs.toArray
      for (i <- jobs.length - 1 to 1 by -1) {
        val j = rnd.nextInt(i + 1)
        val t = jobs(i); jobs(i) = jobs(j); jobs(j) = t
      }
      System.gc()
      // a layer's mix is the pass's summed entry times, when all succeeded
      val mix = mutable.Map[String, Option[Double]]("olap.mix" -> Some(0.0),
        "pipeline.mix" -> Some(0.0))
      val calls = mutable.LinkedHashMap.empty[String, Option[(Double, Double)]]
      jobs.foreach { case (layer, name) =>
        tr.newRequest(name)
        val ms = tr.span(s"req.$layer.$name") {
          if (layer == "graph") runGraph(name, rec)
          else rec.op(s"$layer.$name") {
            val df = tr.span(s"$layer.$name.build")(graft.SparkEntry.queries(name)(spark, env.data))
            tr.span(s"$layer.$name.action")(df.count())
            () => None
          }
        }
        sweep()
        Log(s"$layer.$name")
        calls(s"$layer.$name") = rec.withCpu(ms)
        if (layer != "graph") mix(s"$layer.mix") = for (a <- mix(s"$layer.mix"); b <- ms) yield a + b
      }
      mix.foreach { case (k, v) => v.foreach(rec.sample(k, _)) }
      rec.pass(calls)
    } while (System.nanoTime() - t0 < seconds * 1e9 || passes < MinPasses)
  }

  private def runGraph(alg: String, rec: Recorder): Option[Double] = {
    val v = spark.range(Vertices).toDF("vid")
    rec.op(s"graph.$alg") {
      val out = tr.span(s"graph.$alg.build") {
        val e = PowerGraph.edges(spark, graphPath)
        alg match {
          case "pagerank" => GraphAlgs.pagerank(v, e)
          case "cc" => GraphAlgs.connectedComponents(v, PowerGraph.undirected(e))
          case "sssp" => GraphAlgs.sssp(v, PowerGraph.undirected(e), source.toLong, SsspMaxIter)
        }
      }
      val rows = tr.span(s"graph.$alg.action")(out.collect())
      () => {
        val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
        val want = alg match {
          case "pagerank" => ref.pagerank(PagerankIters)
          case "cc" => ref.components
          case "sssp" => ref.bfs(source, SsspMaxIter)
        }
        if (got == want) None
        else Some(s"${got.size} vertices, want ${want.size}; " +
          s"e.g. ${want.find { case (k, x) => !got.get(k).contains(x) }} got " +
          want.find { case (k, x) => !got.get(k).contains(x) }.map(kv => got.get(kv._1)))
      }
    }
  }

  override def finish(checks: Recorder): Unit = ()

  override def info: Map[String, Any] = Map(
    "graph_vertices" -> Vertices,
    "graph_edges" -> ref.edgeCount,
    "graph_segments" -> KVSegmentStore.readManifest(graphPath).size,
    "graph_bytes" -> Proc.du(graphPath),
    "sssp_source" -> source,
    "passes" -> passes,
    "olap_entries" -> Olap,
    "pipeline_entries" -> Pipeline)
}

object Analytics {
  /** Passes a run measures at least, whatever its seconds. */
  val MinPasses = 2
  val Vertices = 8000
  val PagerankIters = 10
  /** Hops of the shortest-path search: at most the hub's eccentricity (3
    * on every seed checked), so every seed runs the same number of Pregel
    * rounds. */
  val SsspMaxIter = 3
  val Olap: Seq[String] = Seq("q1_agg", "q3_topn", "q5_join5", "q_window_topn", "q_asof")
  val Pipeline: Seq[String] = Seq("d_minhash_lsh", "t_cooc", "d_exact_dup")
  val Jobs: Seq[(String, String)] =
    Seq("pagerank", "cc", "sssp").map("graph" -> _) ++ Olap.map("olap" -> _) ++
      Pipeline.map("pipeline" -> _)
}

/** Driver-side graph answers: the integer PageRank recurrence GraphAlgs
  * documents, union-find components labelled by their minimum vertex, and
  * breadth-first hop counts. */
final class GraphReference(g: PowerGraph) {
  private val n = g.vertices
  private val out: Array[Array[Int]] = Array.tabulate(n)(g.outEdges)
  val edgeCount: Long = out.map(_.length.toLong).sum

  /** pr0 = 10^12 div N; pr'(v) = 15·pr0 div 100 + (85·Σ_{u→v} pr(u) div deg(u)) div 100. */
  def pagerank(iters: Int): Map[Long, Long] = {
    val init = 1000000000000L / n
    val base = (15L * init) / 100L
    var pr = Array.fill(n)(init)
    for (_ <- 1 to iters) {
      val m = new Array[Long](n)
      for (u <- 0 until n; d = out(u).length; if d > 0; v <- out(u)) m(v) += pr(u) / d
      pr = m.map(x => base + (85L * x) / 100L)
    }
    pr.indices.map(i => i.toLong -> pr(i)).toMap
  }

  def components: Map[Long, Long] = {
    val parent = Array.range(0, n)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    for (u <- 0 until n; v <- out(u)) {
      val (a, b) = (find(u), find(v))
      if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
    }
    (0 until n).map(i => i.toLong -> find(i).toLong).toMap
  }

  /** Hop counts from `src` over the undirected graph, up to `maxHops`. */
  def bfs(src: Int, maxHops: Int): Map[Long, Long] = {
    val adj = Array.fill(n)(mutable.ArrayBuffer.empty[Int])
    for (u <- 0 until n; v <- out(u)) { adj(u) += v; adj(v) += u }
    val dist = Array.fill(n)(-1)
    dist(src) = 0
    var frontier = Seq(src)
    var d = 0
    while (frontier.nonEmpty && d < maxHops) {
      d += 1
      frontier = frontier.flatMap(u => adj(u)).filter(v => dist(v) < 0).distinct
      frontier.foreach(v => dist(v) = d)
    }
    dist.indices.filter(dist(_) >= 0).map(i => i.toLong -> dist(i).toLong).toMap
  }
}
