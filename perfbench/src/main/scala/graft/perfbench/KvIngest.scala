package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.sql.{functions => F}

import graft.kv.{KVDeltaStore, KVStreamSink}
import graft.streaming.{MarkovSink, RollupSink}

/** kv_ingest: the write side of the `kv` layer plus `streaming`. The
  * `events` table is replayed in arrival order as a closed-loop backlog of
  * fixed-size micro-batches; each batch goes to the delta-log KV sink, the
  * Markov transition sink and the rollup sink, concurrently. After
  * the last batch a CDC replica catches up from the change feed. A pass
  * replays the first [[EventsPerPass]] arrivals into fresh directories;
  * a run measures [[KvIngest.MinPasses]] passes, and more while measured
  * time is left.
  *
  * Arrival order is event time plus a seeded delay below [[JitterUs]],
  * which stays inside MarkovSink's watermark, so no event arrives late.
  * Each batch also deletes or upserts a seeded share of earlier cells.
  *
  * The change feed: `graft-kv-log` cannot replay delta parts that
  * compaction has folded away, so every batch is also appended, outside
  * the timed section, to an uncompacted copy of the log that the replica
  * reads. */
final class KvIngest(spark: SparkSession, env: Env, tr: Tracer) extends Workload {
  import KvIngest._

  private val seed = env.seed
  private val allEvents = arrivals(env.data, seed)
  private val events = allEvents.take(EventsPerPass)
  private val warmEvents = arrivals(env.warmData, seed + 1)
  private var pass = 0
  private var lastPass: Option[PassState] = None

  /** Events in arrival order. */
  private def arrivals(dir: String, seed: Long): IndexedSeq[Event] = {
    val rnd = new SplittableRandom(seed * 7 + 3)
    graft.Tables.events(spark, dir)
      .select(F.col("event_id"), F.unix_micros(F.col("ts")), F.col("user_id"),
        F.col("event_type"), F.col("value"))
      .collect().toIndexedSeq
      .map(r => Event(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4)))
      .sortBy(_.eventId)
      .map(e => (e.tsUs + rnd.nextLong(JitterUs), e)).sortBy { case (t, e) => (t, e.eventId) }
      .map(_._2)
  }

  /** Set-up: one batch into fresh sinks. */
  override def build(rep: Int): Unit = {
    replay(warmEvents.take(WarmEvents), new Recorder, s"build_$rep", catchUpReplica = false)
    graft.ScenarioDirs.delete(java.nio.file.Paths.get(env.dir(s"build_$rep")))
  }

  /** One pass of the measured shape over the warm-up events. */
  override def warmup(): Unit = {
    replay(warmEvents.take(EventsPerPass), new Recorder, "warm")
    graft.ScenarioDirs.delete(java.nio.file.Paths.get(env.dir("warm")))
  }

  override def measure(seconds: Double, rec: Recorder): Unit = {
    val t0 = System.nanoTime()
    do {
      pass += 1
      lastPass.foreach(p => graft.ScenarioDirs.delete(java.nio.file.Paths.get(p.dir)))
      lastPass = Some(replay(events, rec, s"pass_$pass"))
    } while (System.nanoTime() - t0 < seconds * 1e9 || pass < MinPasses)
    // every batch carries BatchEvents events
    rec.samples.get("ingest.batch").foreach { ms =>
      rec.values("ingest.events_per_s") = BatchEvents * ms.size / (ms.sum / 1000.0)
    }
    if (tr.tracing) lastPass.foreach { p =>
      rec.values("kv.space_amp") = Proc.du(s"${p.wh}/$Primary").toDouble / p.model.liveBytes
      rec.values("kv.write_amp") = (p.writtenBytes + p.rewrittenBytes).toDouble / p.userBytes
      rec.values("kv.compact.bytes_rewritten") = p.rewrittenBytes.toDouble / (p.compactions max 1)
      rec.values("streaming.versions_on_disk") = versionsOnDisk(p)
    }
  }

  /** One pass: replay `evs` into fresh sinks, then catch the replica up. */
  private def replay(evs: IndexedSeq[Event], rec: Recorder, tag: String,
                     catchUpReplica: Boolean = true): PassState = {
    val st = PassState(env.dir(tag), new KcvModel, mutable.ArrayBuffer.empty, evs)
    val rnd = new SplittableRandom(seed * 131 + evs.size)
    val batches = evs.grouped(BatchEvents).toIndexedSeq
    val ops = mutable.LinkedHashMap.empty[String, Option[(Double, Double)]]
    batches.zipWithIndex.foreach { case (batch, id) =>
      val cells = batch.map(e => (userKey(e.userId), qualifier(e), valueBytes(e.value)))
      val earlier = Iterator.continually(rnd.nextInt(math.max(1, st.cells.size)))
        .take(if (st.cells.isEmpty) 0 else batch.size * MutationPct / 100).toSeq.distinct
        .map(st.cells)
      val (dels, ups) = earlier.partition(_ => rnd.nextBoolean())
      val upserts = ups.map { case (k, c) => (k, c, valueBytes(rnd.nextInt(49000) / 100.0 + 0.01)) }
      val adds = cells ++ upserts
      val mutations = spark.createDataFrame(
        (adds.map { case (k, c, v) => Row(k, c, v, false) } ++
          dels.map { case (k, c) => Row(k, c, null, true) }).asJava,
        KVStreamSink.MutationSchema)
      val evDf = spark.createDataFrame(batch.map(_.row).asJava, EventSchema)
      val userBytes = adds.map { case (k, c, v) => k.length + c.length + v.length }.sum +
        dels.map { case (k, c) => k.length + c.length }.sum
      tr.newRequest("ingest.batch")
      val ms = rec.op("ingest.batch") {
        tr.span("req.ingest.batch") {
          // the three consumers are independent: fan out like graft's own
          // multi-store writers do (Par.jobs)
          tr.fork(
            () => tr.span("streaming.kvsink.batch") {
              tr.add("user_bytes", userBytes)
              if (tr.on) tr.add("log_depth_before", new KVDeltaStore(spark, st.wh).logDepth(Primary))
              KVStreamSink.applyBatchDelta(mutations, st.wh, Primary, id, CompactThreshold)
              if (tr.on) tr.add("log_depth_after", new KVDeltaStore(spark, st.wh).logDepth(Primary))
            },
            () => tr.span("streaming.markov.batch")(MarkovSink.applyBatch(evDf, st.markov, id)),
            () => tr.span("streaming.rollup.batch")(
              RollupSink.applyBatch(evDf.select("event_type", "value"), st.rollup, id)))
        }
        () => None
      }
      ops(s"ingest.batch_${id + 1}") = rec.withCpu(ms)
      // the retained change feed, outside the timed section
      new KVDeltaStore(spark, st.logWh).appendMutationAt(LogName, id + 1L,
        mutations.filter(!F.col("is_delete")).select("k", "c", "v"),
        mutations.filter(F.col("is_delete")).select("k", "c"), wts = id + 1L)
      if (tr.tracing) {
        // write volume, read from disk: the sinks run concurrently, so the
        // file-system counters cannot be split between them. The batch's
        // delta part is the same size as its copy in the change feed; a
        // compaction rewrote the base it left behind.
        st.userBytes += userBytes
        st.writtenBytes += Proc.du(f"${st.logWh}/$LogName/delta_${id + 1}%05d")
        if (new KVDeltaStore(spark, st.wh).logDepth(Primary) == 0) {
          st.compactions += 1
          st.rewrittenBytes += Proc.du(s"${st.wh}/$Primary/base")
        }
      }
      st.model.mutate(adds, dels)
      st.cells ++= cells.map { case (k, c, _) => (k, c) }
    }
    if (catchUpReplica) {
      tr.newRequest("ingest.replica_catchup")
      val ms = rec.op("ingest.replica_catchup") {
        tr.span("req.ingest.replica_catchup")(tr.span("kvlog.catchup")(catchUp(st)))
        () => None
      }
      ops("ingest.replica_catchup") = rec.withCpu(ms)
      rec.pass(ops)
    }
    st
  }

  private def catchUp(st: PassState): Unit = {
    var batches = 0
    val q = spark.readStream.format("graft-kv-log")
      .option("maxSeqsPerBatch", CdcSeqsPerBatch.toString)
      .load(s"${st.logWh}/$LogName")
      .writeStream
      .foreachBatch((batch: DataFrame, batchId: Long) => {
        batches += 1
        KVStreamSink.applyBatchDelta(KVStreamSink.foldCdc(batch), st.wh, Replica, batchId,
          CompactThreshold)
      })
      .option("checkpointLocation", s"${st.dir}/replica_ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    tr.add("batches", batches)
  }

  private def versionsOnDisk(p: PassState): Int = {
    def count(dir: String, prefix: String): Int =
      Option(new java.io.File(dir).list()).map(_.count(_.startsWith(prefix))).getOrElse(0)
    count(p.markov, "markov_v") + count(p.rollup, "rollup_v") +
      count(s"${p.wh}/$Primary", "delta_") + count(s"${p.wh}/$Primary", "base")
  }

  override def finish(checks: Recorder): Unit = lastPass.foreach { p =>
    import spark.implicits._
    def cells(df: DataFrame) = df.select("k", "c", "v").as[(Array[Byte], Array[Byte], Array[Byte])]
      .collect().toSeq
    val want = p.model.allCells.toSeq
    checks.check("ingest.primary_equals_model")(
      KcvServe.same(cells(KVStreamSink.readDelta(spark, p.wh, Primary)), want))
    checks.check("ingest.replica_equals_model")(
      KcvServe.same(cells(KVStreamSink.readDelta(spark, p.wh, Replica)), want))
    checks.check("ingest.markov_equals_batch") {
      val got = MarkovSink.read(spark, p.markov)
        .select("event_type", "next_type", "n", "p_ppm").as[(String, String, Long, Long)]
        .collect().toSet
      val want = markovOf(p.events)
      if (got == want) None else Some(s"${got.size} pairs, want ${want.size}; " +
        s"e.g. ${got.diff(want).headOption} vs ${want.diff(got).headOption}")
    }
    checks.check("ingest.rollup_equals_batch") {
      val got = RollupSink.read(spark, p.rollup).select("event_type", "n", "sum_c")
        .as[(String, Long, Long)].collect().toSet
      val want = p.events.groupBy(_.eventType).map { case (t, es) =>
        (t, es.size.toLong, es.map(e => math.round(e.value * 100)).sum) }.toSet
      if (got == want) None else Some(s"rollup $got, want $want")
    }
  }

  override def info: Map[String, Any] = Map(
    "events_per_pass" -> events.size,
    "events_in_table" -> allEvents.size,
    "events_per_batch" -> BatchEvents,
    "batches_per_pass" -> (events.size + BatchEvents - 1) / BatchEvents,
    "mutation_pct" -> MutationPct,
    "compact_threshold" -> CompactThreshold,
    "cdc_seqs_per_batch" -> CdcSeqsPerBatch,
    "passes" -> pass)
}

object KvIngest {
  /** Passes a run measures at least, whatever its seconds. */
  val MinPasses = 2
  /** Events replayed per pass: the first ones in arrival order. */
  val EventsPerPass = 8000
  val BatchEvents = 2000
  require(EventsPerPass % BatchEvents == 0, "every batch carries BatchEvents events")
  /** Events per set-up batch. */
  val WarmEvents = 500
  /** Deletes and upserts of earlier cells, as a share of a batch's events. */
  val MutationPct = 5
  val CompactThreshold = 2
  val CdcSeqsPerBatch = 2
  /** Arrival delay bound: 10 minutes, inside MarkovSink's 30-minute watermark. */
  val JitterUs: Long = 10L * 60 * 1000 * 1000
  val Primary = "primary"
  val Replica = "replica"
  val LogName = "log"

  val EventSchema: StructType = StructType(Seq(
    StructField("user_id", LongType), StructField("ts", TimestampType),
    StructField("event_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  final case class Event(eventId: Long, tsUs: Long, userId: Long, eventType: String,
                         value: Double) {
    def row: Row = Row(userId, java.sql.Timestamp.from(
      java.time.Instant.EPOCH.plus(tsUs, java.time.temporal.ChronoUnit.MICROS)),
      eventId, eventType, value)
  }

  final case class PassState(dir: String, model: KcvModel,
                             cells: mutable.ArrayBuffer[(Array[Byte], Array[Byte])],
                             events: IndexedSeq[Event]) {
    var userBytes = 0L
    var writtenBytes = 0L
    var rewrittenBytes = 0L
    var compactions = 0
    val wh = s"$dir/wh"
    val logWh = s"$dir/log"
    val markov = s"$dir/markov"
    val rollup = s"$dir/rollup"
  }

  def userKey(u: Long): Array[Byte] = KcvModel.be(u)
  def qualifier(e: Event): Array[Byte] =
    java.nio.ByteBuffer.allocate(16).putLong(e.tsUs).putLong(e.eventId).array()
  def valueBytes(v: Double): Array[Byte] = f"$v%.2f".getBytes("UTF-8")

  /** The batch transition matrix over `evs`: per user, consecutive pairs
    * in (event time, event id) order; p_ppm = 10^6 · n div row total. */
  def markovOf(evs: Seq[Event]): Set[(String, String, Long, Long)] = {
    val pairs = evs.groupBy(_.userId).values.toSeq.flatMap { es =>
      es.sortBy(e => (e.tsUs, e.eventId)).sliding(2).collect {
        case Seq(a, b) => (a.eventType, b.eventType)
      }
    }.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    val rowTot = pairs.groupBy(_._1._1).map { case (t, m) => t -> m.values.sum }
    pairs.map { case ((a, b), n) => (a, b, n, 1000000L * n / rowTot(a)) }.toSet
  }
}
