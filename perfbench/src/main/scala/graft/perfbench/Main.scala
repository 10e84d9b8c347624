package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: start the session, set up the workload
  * (timed as set-up), warm it, measure it for the given seconds with one
  * closed-loop client, check its answers, and write the raw samples to a
  * result file that `run.py` turns into metrics.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <scratch dir> --data <tables dir> --warm-data <tables dir>
  *
  * With `--trace 1` the measurement runs twice as long and traces half
  * its requests (spans plus a Spark listener), interleaved with untraced
  * ones, so the result carries the tracing overhead next to the traced
  * numbers. */
object Main {
  /** Set-up repetitions per run; set-up time is their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    val work = opt("work")
    val env = Env(seed, work, opt("data"), opt("warm-data"))
    val stamp0 = Proc.stamp()

    Log(s"start $workload")
    val t0 = System.nanoTime()
    val spark = Session.start(work)
    val sessionS = secs(t0)
    val tracer = Tracer(spark.sparkContext, trace)
    Log(s"session started in $sessionS s")
    val wl: Workload = workload match {
      case "kcv_serve" => new KcvServe(spark, env, tracer)
      case "kv_ingest" => new KvIngest(spark, env, tracer)
      case "analytics_batch" => new Analytics(spark, env, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Log("inputs ready")
    val builds = (1 to SetupReps).map { rep =>
      val t = System.nanoTime()
      tracer.span("setup.build")(wl.build(rep))
      secs(t)
    }
    val tp = System.nanoTime()
    tracer.span("setup.prepare")(wl.prepare())
    val prepareS = secs(tp)
    val tw = System.nanoTime()
    tracer.span("setup.warmup")(wl.warmup())
    val warmS = secs(tw)
    val setupS = sessionS + Stats.median(builds) + prepareS + warmS
    Log(s"set up: builds $builds, prepare $prepareS s, warm-up $warmS s")

    // a traced run measures twice as long, half its requests traced
    val rec = new Recorder(if (trace) Some(tracer) else None)
    tracer.alternate(seed)
    wl.measure(if (trace) 2 * seconds else seconds, rec)
    if (trace) tracer.write(s"$work/trace.jsonl")
    Log("measured")
    val heapLiveMb = Proc.heapLiveMb()
    val checks = new Recorder
    wl.finish(checks)
    Log("checked")

    val all = Seq(rec, checks)
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cores" -> Session.cores,
      "setup_s" -> setupS,
      "setup_parts" -> mutable.LinkedHashMap("session_s" -> sessionS,
        "build_s" -> builds, "prepare_s" -> prepareS, "warmup_s" -> warmS),
      "attempted" -> all.map(_.attempted).sum,
      "failed" -> all.map(_.failed).sum,
      "failures" -> all.flatMap(_.failures).take(10),
      "samples" -> rec.samples,
      "samples_cpu" -> rec.samplesCpu,
      "passes" -> rec.passes,
      "passes_cpu" -> rec.passesCpu,
      "heap_live_mb" -> heapLiveMb,
      "traced_samples" -> rec.traced,
      "values" -> rec.values,
      "info" -> wl.info,
      "start" -> stamp0,
      "end" -> Proc.stamp())
    write(s"$work/result.json", Json.value(result))
    spark.stop()
    Log("stopped")
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def write(path: String, s: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), s)
}

/** Where a run reads and writes. `data` holds the measured tables and
  * `warmData` a much smaller set of the same shape for the warm-up. */
final case class Env(seed: Long, work: String, data: String, warmData: String) {
  def dir(name: String): String = {
    val d = new java.io.File(work, name)
    d.mkdirs()
    d.getAbsolutePath
  }
}

/** A workload. Set-up is `build`, run [[Main.SetupReps]] times (its
  * median counts), then `prepare` and `warmup` once; `warmup` runs the
  * measured operation shapes before the clock starts. `measure` runs one
  * closed-loop client for `seconds`, and for at least the workload's
  * minimum number of passes over its fixed work (recorded with
  * [[Recorder.pass]]); `finish` checks end state outside every timed
  * section. */
trait Workload {
  def build(rep: Int): Unit
  def prepare(): Unit = ()
  def warmup(): Unit
  def measure(seconds: Double, rec: Recorder): Unit
  def finish(checks: Recorder): Unit
  def info: Map[String, Any]
}

/** Samples, counts and failures of one measured phase. Given the run's
  * tracer, it files the latency of each operation traced while it ran
  * under `traced`, apart from the untraced `samples`. */
final class Recorder(tracer: Option[Tracer] = None) {
  val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  val traced: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  /** The process CPU time of each untraced sample, in ms. */
  val samplesCpu: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  val values: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  /** Each measured pass's operation latencies and the process CPU time
    * each took, keyed by the operation's place in the pass; only passes in
    * which every operation succeeded. */
  val passes: mutable.ArrayBuffer[Map[String, Double]] = mutable.ArrayBuffer.empty
  val passesCpu: mutable.ArrayBuffer[Map[String, Double]] = mutable.ArrayBuffer.empty
  /** The process CPU time, in ms, of the last successful operation. */
  var lastCpuMs = 0.0
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  var attempted = 0L
  var failed = 0L

  def sample(op: String, ms: Double): Unit =
    samples.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += ms

  /** One attempted operation: `run` is timed and returns a check that
    * runs after the clock stops. An exception or a failed check counts
    * the operation as failed and records no latency. Returns the latency
    * in ms of a successful operation. */
  def op(name: String)(run: => (() => Option[String])): Option[Double] = {
    attempted += 1
    val into = if (tracer.exists(_.on)) traced else samples
    val c0 = Proc.cpuNs()
    val t0 = System.nanoTime()
    val outcome =
      try Right(run)
      catch { case e: Throwable => Left(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    val ms = (System.nanoTime() - t0) / 1e6
    lastCpuMs = (Proc.cpuNs() - c0) / 1e6
    outcome.flatMap(check => check().map(m => s"$name: $m").toLeft(())) match {
      case Right(_) =>
        into.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms
        if (into eq samples) samplesCpu.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += lastCpuMs
        Some(ms)
      case Left(msg) =>
        fail(msg)
        None
    }
  }

  /** One measured pass: the latency and CPU time of each of its
    * operations, or None for one that failed. */
  def pass(ops: scala.collection.Map[String, Option[(Double, Double)]]): Unit =
    if (ops.values.forall(_.isDefined)) {
      passes += ops.map { case (k, v) => k -> v.get._1 }.toMap
      passesCpu += ops.map { case (k, v) => k -> v.get._2 }.toMap
    }

  /** The latency just returned by [[op]] with its CPU time. */
  def withCpu(ms: Option[Double]): Option[(Double, Double)] = ms.map(_ -> lastCpuMs)

  def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 10) failures += msg.take(400)
  }

  /** A check outside any timed section. */
  def check(name: String)(body: => Option[String]): Unit = {
    attempted += 1
    try body.foreach(m => fail(s"$name: $m"))
    catch { case e: Throwable => fail(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}") }
  }
}

/** Progress lines on standard error (the run's log), with run time. */
object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%8.2f s] $msg")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object Session {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** The session exactly as `graft.Bench` configures it, with Spark's
    * scratch space and warehouse inside the run's own directory. */
  def start(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () }
    spark
  }
}

/** Load and memory readings from /proc. */
object Proc {
  private def status(field: String): Double =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith(field + ":")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    catch { case _: Throwable => -1.0 }

  def peakRssMb: Double = status("VmHWM")

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole process (all threads, GC and compiler too). */
  def cpuNs(): Long = os.getProcessCpuTime

  /** Heap in use after a full collection: what the program keeps live. */
  def heapLiveMb(): Double = {
    System.gc()
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
  }

  def memTotalMb: Double =
    try scala.io.Source.fromFile("/proc/meminfo").getLines()
      .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    catch { case _: Throwable => -1.0 }

  def stamp(): Map[String, Any] = Map(
    "loadavg_1m" -> (try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
                     catch { case _: Throwable => -1.0 }),
    "rss_mb" -> status("VmRSS"),
    "peak_rss_mb" -> peakRssMb)

  /** Bytes under a local directory (0 if absent). */
  def du(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val walk = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size).sum
      } finally walk.close()
    }
  }
}

/** Bytes written through Hadoop file systems (parquet parts, markers,
  * checksums) — the store's write volume, as the file system sees it. */
object Io {
  def bytesWritten(): Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.map(_.getBytesWritten).sum
  }

  /** Run `body`; when tracing, add the bytes it wrote to the open span. */
  def written[T](tr: Tracer)(body: => T): T =
    if (!tr.on) body
    else {
      val b0 = bytesWritten()
      try body finally tr.add("fs_bytes_written", (bytesWritten() - b0).toDouble)
    }
}
