package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.streaming.{CommitStore, ExactlyOnceSink}

/** Outcome of one output check, made after the timed region. */
final case class Check(name: String, ok: Boolean, detail: String)

object Check {
  /** Run one check; an exception is a failed check, never a lost one. */
  def of(name: String)(body: => (Boolean, String)): Check =
    try { val (ok, d) = body; Check(name, ok, d) }
    catch { case e: Throwable => Check(name, ok = false, s"threw: $e") }
}

/** A sink's table size on disk, taken at a fixed amount of work (a
  * faster run does more work in its timed region; its extra versions must
  * not move the size metrics). */
final case class SizeSnap(version: Long, dataBytes: Long, logBytes: Long)

/** Table sizes and state counts of a sink. */
object SinkStats {
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size(_)).sum
      finally s.close()
    }

  /** The latest version and the table's data and `_graft_log` bytes. */
  def snap(sink: ExactlyOnceSink, table: Path): SizeSnap = {
    val log = bytesUnder(table.resolve("_graft_log"))
    SizeSnap(sink.committedVersions().last, bytesUnder(table) - log, log)
  }

  /** Committed rows at the snapshot's version. */
  def rows(spark: SparkSession, sink: ExactlyOnceSink, at: SizeSnap): Long =
    sink.computeChecksum(at.version).numRows
      .getOrElse(sink.read(spark, Some(at.version)).count())

  /** Data plus `_graft_log` bytes per committed row. */
  def storedBytesPerRow(spark: SparkSession, sink: ExactlyOnceSink,
      at: SizeSnap): Double =
    (at.dataBytes + at.logBytes).toDouble / rows(spark, sink, at).max(1L)

  /** Sink state counts at the snapshot: from the log fold
    * (`computeChecksum`) and the snapshot's walk of the file tree. */
  def sinkCounts(sink: ExactlyOnceSink, at: SizeSnap): Map[String, Double] = {
    val c = sink.computeChecksum(at.version)
    Map(
      "sink.versions" -> sink.committedVersions().count(_ <= at.version).toDouble,
      "sink.live_files" -> c.numFiles.toDouble,
      "sink.dv_files" -> c.numDvFiles.toDouble,
      "sink.deleted_rows" -> c.numDeletedRows.toDouble,
      "sink.data_bytes" -> at.dataBytes.toDouble,
      "sink.log_bytes" -> at.logBytes.toDouble)
  }
}

/** Everything a workload needs: the session, the tracer, its generated
  * inputs and a fresh work directory of its own. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val inputs: Path, val work: Path, val seed: Long) {
  /** The workload's generator parameters, from the input manifest. */
  private val params: Map[String, Double] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    (JsonMethods.parse(Files.readString(inputs.resolve("manifest.json"))) \ "params") match {
      case JObject(fs) => fs.collect {
        case (k, JInt(v)) => k -> v.toDouble
        case (k, JDouble(v)) => k -> v
      }.toMap
      case _ => Map.empty
    }
  }
  def param(name: String): Double =
    params.getOrElse(name, sys.error(s"generator parameter '$name' missing"))
  /** The sink's commit store: the timing decorator in the traced run, the
    * plain POSIX store otherwise. */
  val storeFactory: CommitStore.Factory =
    if (tracer.enabled) p => new TracedStore(CommitStore.Posix(p), tracer)
    else CommitStore.Posix
  def dir(parts: String*): Path = {
    val p = parts.foldLeft(work)(_.resolve(_))
    Files.createDirectories(p)
    p
  }
}

object Recorder {
  /** What the current thread is timing, for the JVM log only. */
  val label = new ThreadLocal[String] { override def initialValue() = "" }
  val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
}

/** Timed operations of one run: kind and wall seconds, in order. */
final class Recorder {
  val ops = mutable.ArrayBuffer[(String, Double)]()
  var rows = 0L
  /** Wall and process CPU nanoseconds spent in [[untimed]] blocks. */
  var untimedNs, untimedCpuNs = 0L
  def time[A](kind: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val r = body
    ops += kind -> (System.nanoTime() - t0) / 1e9
    Main.log(f"$kind ${Recorder.label.get()}: ${ops.last._2}%.3f s")
    r
  }
  /** Harness work inside the timed loop (size snapshots, files-read
    * fractions, stopping the stream): taken out of the timed wall and
    * CPU. */
  def untimed[A](body: => A): A = {
    val t0 = System.nanoTime()
    val c0 = Recorder.os.getProcessCpuTime
    try body
    finally {
      untimedCpuNs += Recorder.os.getProcessCpuTime - c0
      untimedNs += System.nanoTime() - t0
    }
  }
}

trait Workload {
  /** The repeated part of set-up (producer, base table): called
    * `Main.SetupReps` times, each in a fresh directory; the last call's
    * state is used. */
  def prepare(rep: Int): Unit
  /** The one-time part of set-up, after the repetitions: warm-up. */
  def warmUp(): Unit
  /** Closed loop, one client, until `deadlineNs`; at least the units
    * after which the size metrics are read. */
  def run(deadlineNs: Long, rec: Recorder): Unit
  /** Output checks, outside the timed region. */
  def check(): Seq[Check]
  /** Workload-specific numbers, after the checks: end-to-end (stored bytes
    * per row) and, in the traced run, per-layer counters. */
  def extras(): Map[String, Double]
}

/** Benchmark JVM: runs one workload and writes the raw result (timed
  * operations, checks, counters, spans) as JSON for `run.py`.
  *
  * Arguments: workload seed seconds trace inputsDir workDir outFile */
object Main {
  /** Set-up repetitions; `run.py` reports their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, inputsS, workS, outS) = args
    // JVM boot: process start to main(); the session build is added below
    val bootS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val calibBefore = graft.Bench.calibrate()
    val (calibMtBefore, _) = graft.Bench.calibrateMt()
    val t0 = System.currentTimeMillis()
    val work = Paths.get(workS)
    val cores = 4
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM start to a usable session, without the calibration sentinels
    val sparkStartS = bootS + (System.currentTimeMillis() - t0) / 1e3
    val trace = traceS == "1"
    val listener = new SparkCounters
    spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer(trace, spark.sparkContext)
    val ctx = new Ctx(spark, tracer, Paths.get(inputsS), work, seedS.toLong)
    val w: Workload = workload match {
      case "curate_docs" => new CurateDocs(ctx)
      case "serve_mix" => new ServeMix(ctx)
      case other => sys.error(s"unknown workload '$other'")
    }
    val prepS = (1 to SetupReps).map { r =>
      val p0 = System.nanoTime()
      w.prepare(r)
      val s = (System.nanoTime() - p0) / 1e9
      Main.log(f"set-up $r: $s%.3f s")
      s
    }
    val w0 = System.nanoTime()
    w.warmUp()
    val warmS = (System.nanoTime() - w0) / 1e9
    Main.log(f"warm-up: $warmS%.3f s")
    listener.drain()
    tracer.reset()
    val rec = new Recorder
    listener.active = true
    val cpu0 = Recorder.os.getProcessCpuTime
    val m0 = System.nanoTime()
    w.run(m0 + (secondsS.toDouble * 1e9).toLong, rec)
    val wallS = (System.nanoTime() - m0 - rec.untimedNs) / 1e9
    val cpuS = (Recorder.os.getProcessCpuTime - cpu0 - rec.untimedCpuNs) / 1e9
    Main.log(f"timed region: $wallS%.3f s, ${rec.ops.size} operations")
    listener.drain()
    listener.active = false
    val spans = tracer.snapshotSpans
    val layers = if (trace)
      tracer.snapshotCounters ++ listener.metrics(wallS, cores)
    else Map.empty[String, Double]
    val c0 = System.nanoTime()
    val checks = w.check()
    val extras = w.extras()
    Main.log(f"checks: ${(System.nanoTime() - c0) / 1e9}%.3f s")
    val calibAfter = graft.Bench.calibrate()
    val (calibMtAfter, _) = graft.Bench.calibrateMt()
    import org.json4s.jackson.Serialization
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    def num(d: Double): Any = if (d.isNaN || d.isInfinite) null else d
    def nums(m: Map[String, Double]): Map[String, Any] =
      m.map { case (k, v) => k -> num(v) }
    val result = Map[String, Any](
      "workload" -> workload, "seed" -> seedS.toLong,
      "spark_start_s" -> num(sparkStartS),
      "prep_s" -> prepS.map(num).toList, "warm_s" -> num(warmS),
      "cpu_s" -> num(cpuS), "wall_s" -> num(wallS), "rows" -> rec.rows,
      "ops" -> rec.ops.map { case (k, v) => List(k, num(v)) }.toList,
      "checks" -> checks.map(c =>
        Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)).toList,
      "extras" -> nums(extras), "layers" -> nums(layers),
      "jobs_by_span" -> listener.jobsPerSpan,
      "peak_rss_mb" -> num(peakRssMb()),
      "sentinels" -> nums(Map("calib_before" -> calibBefore,
        "calib_after" -> calibAfter, "calib_mt_before" -> calibMtBefore,
        "calib_mt_after" -> calibMtAfter)))
    if (trace)
      Files.writeString(Paths.get(outS).resolveSibling("spans.jsonl"),
        spans.sortBy(_.startNs).map(s => Serialization.write(Map(
          "id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
          "start_ns" -> (s.startNs - m0), "end_ns" -> (s.endNs - m0))) + "\n").mkString)
    Files.writeString(Paths.get(outS), Serialization.write(result))
    spark.stop()
    Main.log("session stopped")
    // engine pools may hold non-daemon threads; the result is written
    sys.exit(0)
  }

  /** Progress line in the JVM log (stderr). */
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** VmHWM: the process's peak resident set, in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }
}
