package graft.perfbench

import java.io.{FilterInputStream, InputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Path
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import graft.streaming.{CommitStore, ExactlyOnceSink}

/** One timed interval at a layer boundary. `trace` is the id of the
  * top-level span the interval belongs to (one benchmark operation);
  * `parent` is -1 for a top-level span or one opened on a thread that has
  * no open span. */
final case class Span(id: Int, parent: Int, trace: Int, name: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder and counter sink for the traced run. With
  * `enabled = false` every call runs its body and records nothing, so
  * the untraced run pays one branch per boundary. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val ids = new AtomicInteger(0)
  private val spans = mutable.ArrayBuffer[Span]()
  private val open = new ThreadLocal[List[(Int, Int)]] { // (id, trace)
    override def initialValue(): List[(Int, Int)] = Nil
  }
  private val counters = mutable.LinkedHashMap[String, Double]()
  private val mute = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled || mute.get()) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      val (parent, trace) = stack.headOption.getOrElse((-1, id))
      open.set((id, trace) :: stack)
      // Spark copies local properties into every job submitted from this
      // thread, so the listener can attribute jobs to the innermost span
      val prev = sc.getLocalProperty(Tracer.SpanProp)
      sc.setLocalProperty(Tracer.SpanProp, s"$id|$name")
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty(Tracer.SpanProp, prev)
        open.set(stack)
        spans.synchronized { spans += Span(id, parent, trace, name, t0, t1) }
      }
    }

  /** The innermost open span of this thread as (id, trace). */
  def current: (Int, Int) = open.get().headOption.getOrElse((-1, -1))

  /** Run `body` on this thread as if `root` (from [[current]] on another
    * thread) were open here: spans opened inside become its children. */
  def adopt[A](root: (Int, Int))(body: => A): A =
    if (!enabled || root._1 < 0) body
    else {
      val stack = open.get()
      open.set(root :: stack)
      try body finally open.set(stack)
    }

  /** Run `body` with this thread's spans and counters off: for calls the
    * harness makes for its own bookkeeping. */
  def muted[A](body: => A): A = {
    val prev = mute.get()
    mute.set(true)
    try body finally mute.set(prev)
  }

  def add(name: String, v: Double): Unit =
    if (enabled && !mute.get()) counters.synchronized {
      counters(name) = counters.getOrElse(name, 0.0) + v
    }

  def snapshotSpans: Seq[Span] = spans.synchronized(spans.toList)
  def snapshotCounters: Map[String, Double] =
    counters.synchronized(counters.toMap)
  def reset(): Unit = {
    spans.synchronized(spans.clear())
    counters.synchronized(counters.clear())
  }
}

object Tracer {
  val SpanProp = "graft.perfbench.span"
}

/** Timing decorator around a [[CommitStore]], passed to the sink as its
  * `storeFactory`: every call is a `commitstore.<op>` span, and the
  * decorator counts lost claims and bytes moved. */
final class TracedStore(inner: CommitStore, t: Tracer) extends CommitStore {
  private def bytes(s: String): Long = s.getBytes(UTF_8).length.toLong
  def root: Path = inner.root
  def ensureRoot(): Unit = inner.ensureRoot()
  def putIfAbsent(name: String, text: String): Boolean = {
    val won = t.span("commitstore.put_if_absent")(inner.putIfAbsent(name, text))
    t.add("commitstore.bytes_written", bytes(text).toDouble)
    if (!won) t.add("commitstore.claims_lost", 1)
    won
  }
  def put(name: String, text: String): Unit = {
    t.span("commitstore.put")(inner.put(name, text))
    t.add("commitstore.bytes_written", bytes(text).toDouble)
  }
  def read(name: String): String = {
    val s = t.span("commitstore.read")(inner.read(name))
    t.add("commitstore.bytes_read", bytes(s).toDouble)
    s
  }
  def readLines(name: String): Seq[String] = {
    val ls = t.span("commitstore.read")(inner.readLines(name))
    t.add("commitstore.bytes_read", ls.map(l => bytes(l) + 1).sum.toDouble)
    ls
  }
  def inputStream(name: String): InputStream = {
    val in = t.span("commitstore.read")(inner.inputStream(name))
    new FilterInputStream(in) {
      override def read(): Int = {
        val b = super.read(); if (b >= 0) t.add("commitstore.bytes_read", 1); b
      }
      override def read(buf: Array[Byte], off: Int, len: Int): Int = {
        val n = super.read(buf, off, len)
        if (n > 0) t.add("commitstore.bytes_read", n.toDouble)
        n
      }
    }
  }
  def exists(name: String): Boolean = t.span("commitstore.exists")(inner.exists(name))
  def list(): Seq[String] = t.span("commitstore.list")(inner.list())
  def delete(name: String): Boolean = inner.delete(name)
  def modifiedTime(name: String): Long = inner.modifiedTime(name)
  def touch(name: String): Unit = inner.touch(name)
  def gcStaging(minAgeMs: Long): Int = inner.gcStaging(minAgeMs)
}

/** A sink whose `process` is a `sink.process` span, so the commit path
  * shows inside callers that drive the sink themselves
  * (`CurationPipeline`). */
final class TracedSink(tableDir: String, appId: String, t: Tracer,
    storeFactory: CommitStore.Factory)
    extends ExactlyOnceSink(tableDir, appId, storeFactory = storeFactory) {
  override def process(df: DataFrame, batchId: Long, partitionBy: Seq[String],
      mergeSchema: Boolean): Unit =
    t.span("sink.process")(super.process(df, batchId, partitionBy, mergeSchema))
}

/** Spark scheduler counters for the timed region, with each job
  * attributed to the span that submitted it. */
final class SparkCounters extends SparkListener {
  @volatile var active = false
  val jobs, stages, tasks = new AtomicLong(0)
  val taskNs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill = new AtomicLong(0)
  private val jobsBySpan = mutable.Map[String, Long]()
  private val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val skews = mutable.ArrayBuffer[Double]()
  /** Number of listener events seen, so the caller can wait until the
    * asynchronous listener bus has drained. */
  val events = new AtomicLong(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    if (active) {
      jobs.incrementAndGet()
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Tracer.SpanProp))).map(_.split('|')(1))
        .getOrElse("(none)")
      jobsBySpan.synchronized {
        jobsBySpan(span) = jobsBySpan.getOrElse(span, 0L) + 1
      }
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    val ts = stageTasks.synchronized(stageTasks.remove(e.stageInfo.stageId))
    if (active) {
      stages.incrementAndGet()
      ts.filter(_.size >= 2).foreach { d =>
        val s = d.sorted
        val med = s(s.size / 2).max(1L)
        skews.synchronized(skews += s.last.toDouble / med)
      }
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    if (active && e.taskInfo != null) {
      tasks.incrementAndGet()
      stageTasks.synchronized {
        stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) +=
          e.taskInfo.duration
      }
      val m = e.taskMetrics
      if (m != null) {
        taskNs.addAndGet(m.executorRunTime * 1000000L)
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  /** Wait until no listener event arrived for `quietMs`. */
  def drain(quietMs: Long = 300): Unit = {
    var last = -1L
    while (events.get() != last) {
      last = events.get(); Thread.sleep(quietMs)
    }
  }

  def metrics(wallS: Double, cores: Int): Map[String, Double] = {
    val sk = skews.synchronized(skews.sorted.toList)
    Map(
      "spark.jobs" -> jobs.get.toDouble,
      "spark.stages" -> stages.get.toDouble,
      "spark.tasks" -> tasks.get.toDouble,
      "spark.task_s" -> taskNs.get / 1e9,
      "spark.cpu_s" -> cpuNs.get / 1e9,
      "spark.gc_s" -> gcMs.get / 1e3,
      "spark.busy_frac" -> (if (wallS > 0) taskNs.get / 1e9 / (wallS * cores) else 0.0),
      "spark.shuffle_write_bytes" -> shuffleWrite.get.toDouble,
      "spark.shuffle_read_bytes" -> shuffleRead.get.toDouble,
      "spark.spill_bytes" -> spill.get.toDouble,
      "spark.stage_skew" -> (if (sk.isEmpty) 1.0 else sk(sk.size / 2)))
  }

  def jobsPerSpan: Map[String, Long] = jobsBySpan.synchronized(jobsBySpan.toMap)
}
