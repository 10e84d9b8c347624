package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spans around the benchmark's calls into graft's public functions, plus
  * the Spark jobs each span caused. Spans stay in memory and are written
  * once, when the run ends.
  *
  * Job attribution is exact rather than by time window: entering a span
  * sets the SparkContext local property [[SpanProp]] to the span's id, and
  * a job carries the properties of the thread that submitted it. Local
  * properties are inheritable, so jobs that graft submits from its own
  * short-lived pools (`Par.jobs`) land on the span that started them.
  *
  * A disabled or paused tracer runs every body untouched: no listener, no
  * property writes, no span objects. */
final class Tracer private (sc: Option[SparkContext]) {
  import Tracer._

  /** Whether this run traces at all (`--trace 1`). */
  val tracing: Boolean = sc.isDefined
  private var active = tracing
  /** Whether spans are being recorded right now. */
  def on: Boolean = active
  private var coin: Option[java.util.SplittableRandom] = None
  private val seen = mutable.HashMap.empty[String, Long]
  private val tracedFirst = mutable.HashMap.empty[String, Boolean]

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)
  // the open spans, innermost first, of the calling thread
  private val stacks = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }
  private def stack: List[Span] = stacks.get()
  private def stack_=(s: List[Span]): Unit = stacks.set(s)
  @volatile private var request = 0L
  private val listener = sc.map { c =>
    val l = new JobListener
    c.addSparkListener(l)
    l
  }

  /** Detach the listener and stop recording spans until [[resume]]. */
  def pause(): Unit = if (active) {
    listener.foreach { l => l.awaitQuiet(); sc.get.removeSparkListener(l) }
    active = false
  }

  def resume(): Unit = if (!active && sc.isDefined) {
    listener.foreach(l => sc.get.addSparkListener(l))
    active = true
  }

  /** From now on, trace half the requests of each kind: of every two
    * consecutive requests of a kind, a seeded coin picks the one traced.
    * So every kind is traced, and traced and untraced requests see the
    * same warm-up drift and the same mix of periodic work (compactions);
    * their difference is the tracing overhead. */
  def alternate(seed: Long): Unit =
    if (tracing) coin = Some(new java.util.SplittableRandom(seed))

  /** A new request of `kind`: every span until the next call shares its
    * id. */
  def newRequest(kind: String): Unit = {
    request += 1
    coin.foreach { c =>
      val n = seen.getOrElse(kind, 0L)
      seen(kind) = n + 1
      if (n % 2 == 0) tracedFirst(kind) = c.nextBoolean()
      if (tracedFirst(kind) == (n % 2 == 0)) resume() else pause()
    }
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = new Span(ids.incrementAndGet(), stack.headOption.map(_.id).getOrElse(0),
        name, request, nowUs())
      spans.synchronized(spans += s)
      stack = s :: stack
      sc.get.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.t1 = nowUs()
        stack = stack.tail
        sc.get.setLocalProperty(SpanProp, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Run `thunks` concurrently through `graft.Par.jobs`. A traced span
    * stack is per thread, so each thunk starts under the span open here:
    * its spans record that span as their parent. */
  def fork(thunks: (() => Unit)*): Unit =
    if (!active) graft.Par.jobs(thunks: _*)
    else {
      val parent = stack
      graft.Par.jobs(thunks.map(t => () => {
        stacks.set(parent)
        try t() finally stacks.remove()
      }): _*)
    }

  /** Add `v` to attribute `key` of the innermost open span. */
  def add(key: String, v: Double): Unit =
    stack.headOption.foreach(s => s.synchronized(s.attrs(key) = s.attrs.getOrElse(key, 0.0) + v))

  /** Stop listening and write spans and jobs as JSON lines. */
  def write(path: String): Unit = listener.foreach { l =>
    pause()
    val out = new java.io.PrintWriter(path, "UTF-8")
    try {
      spans.foreach { s =>
        out.println(Json.obj(Seq("type" -> "span", "id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "req" -> s.req, "t0_us" -> s.t0, "t1_us" -> s.t1,
          "attrs" -> s.attrs)))
      }
      l.jobs.values.toSeq.sortBy(_.id).foreach { j =>
        out.println(Json.obj(Seq("type" -> "job", "id" -> j.id, "span" -> j.span,
          "t0_us" -> j.t0, "t1_us" -> j.t1, "tasks" -> j.tasks,
          "task_ms" -> j.taskMs, "gc_ms" -> j.gcMs,
          "shuffle_read_bytes" -> j.shuffleRead, "shuffle_write_bytes" -> j.shuffleWrite,
          "spill_bytes" -> j.spill)))
      }
    } finally out.close()
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  def apply(sc: SparkContext, enabled: Boolean): Tracer =
    new Tracer(if (enabled) Some(sc) else None)

  private val epoch0Us = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  /** Wall-clock microseconds with nanoTime resolution, on the same epoch
    * as Spark's listener event times (milliseconds). */
  def nowUs(): Long = epoch0Us + (System.nanoTime() - nano0) / 1000L

  final class Span(val id: Int, val parent: Int, val name: String, val req: Long,
                   val t0: Long) {
    var t1: Long = 0L
    val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  }

  final class Job(val id: Int, val span: Int, val t0: Long) {
    var t1: Long = 0L
    var tasks = 0L
    var taskMs = 0L
    var gcMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }

  /** Per-job task counters, keyed through the job's stage ids. */
  final class JobListener extends SparkListener {
    val jobs: mutable.Map[Int, Job] = mutable.HashMap.empty
    private val stageJob = mutable.HashMap.empty[Int, Job]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(0)
      val j = new Job(e.jobId, span, e.time * 1000L)
      jobs(e.jobId) = j
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, j))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.t1 = e.time * 1000L)
    }

    /** Events reach listeners asynchronously: wait (bounded) until every
      * started job has been seen to end, then a little longer for the
      * task-end events that trail it. */
    def awaitQuiet(): Unit = {
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (synchronized(jobs.values.exists(_.t1 == 0L)) && System.nanoTime() < deadline)
        Thread.sleep(20)
      Thread.sleep(100)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.taskMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

/** Just enough JSON writing for the result and trace files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
