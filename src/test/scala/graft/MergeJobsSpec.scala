package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.streaming.ExactlyOnceSink

/** What one merge-on-read upsert costs Spark: the jobs a warm `mergeDV`
  * runs, and the classes it compiles once the merges before it have
  * generated the same plans. The table carries deletion vectors and a
  * removed file, so the probe subtracts tombstones as a served table's
  * does. Also the jobs a read of such a table runs. */
class MergeJobsSpec extends SparkSpecBase {
  import spark.implicits._

  private def rows(lo: Long, hi: Long) = spark.range(lo, hi).select(col("id").as("key"),
    concat(lit("sku-"), col("id")).as("sku"), (col("id") * 1.5).as("val"))

  /** Four 2000-row base files (keys 0-7999, a bloom on `sku`), one small
    * file packed away by one `compactSmall` (its remove), and a
    * deletion vector on the first base file. */
  private def table(tag: String): ExactlyOnceSink = {
    val sink = new ExactlyOnceSink(
      Files.createTempDirectory(s"graft-merge-$tag").toString)
    (0 until 4).foreach(f => sink.commitAppend(
      rows(f * 2000L, (f + 1) * 2000L).coalesce(1), bloomBy = Seq("sku")))
    sink.commitAppend(rows(9000, 9005).coalesce(1))
    assert(sink.compactSmall(spark, targetBytes = 8L << 10, minFiles = 1) >= 0)
    sink.deleteDV(spark, col("key") === 5L)
    val h = sink.history(spark).select("operation", "num_removed_files",
      "num_deletion_vectors").as[(String, Long, Long)].collect()
    assert(h.contains(("COMPACT_INC", 1L, 0L)) && h.contains(("DELETE_MOR", 0L, 1L)))
    sink
  }

  /** Upsert one row per key in `keys` plus one new key. */
  private def merge(sink: ExactlyOnceSink, keys: Seq[Long], rev: Int): Long =
    sink.mergeDV(spark, (keys :+ (20000L + rev)).map(k => (k, s"sku-$k", rev.toDouble))
      .toDF("key", "sku", "val"), Seq("key"))

  /** The Spark jobs `f` starts, counted with a job-group listener. */
  private def jobsOf(f: => Unit): Int = {
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(Option(e.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("counted", "counted")
      f
      // the listener bus delivers in order: once the marker job is seen,
      // every job `f` started has been seen too
      sc.setJobGroup("counted-marker", "marker")
      spark.range(1).count()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("counted-marker") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(groups.contains("counted-marker"), "marker job never observed")
      groups.asScala.count(_ == "counted")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a warm mergeDV runs at most 6 Spark jobs") {
    // the key collect, the probe, the new files' write and blooms (an
    // aggregate: two jobs) and the change rows' write; the key set and
    // the vectors reach executors as broadcast variables, not as local
    // relations whose broadcast is a job of its own
    val sink = table("jobs")
    merge(sink, Seq(10L, 2010L), 1)
    val jobs = jobsOf(merge(sink, Seq(20L, 4020L), 2))
    info(s"$jobs Spark jobs")
    assert(jobs <= 6, s"a warm mergeDV ran $jobs Spark jobs")
    val live = sink.read(spark).select("key", "val").as[(Long, Double)].collect().toMap
    assert(live(20L) === 2.0 && live(4020L) === 2.0 && live(10L) === 1.0 && !live.contains(5L))
    assert(live.size === 8000 + 5 - 1 + 2)
  }

  test("a read of a table with deletion vectors runs as many jobs as one without") {
    // the vectors are a row-index filter read from a broadcast variable:
    // no job ships them before the scan
    def build(tag: String, dv: Boolean): ExactlyOnceSink = {
      val sink = new ExactlyOnceSink(
        Files.createTempDirectory(s"graft-read-jobs-$tag").toString)
      (0 until 2).foreach(f => sink.commitAppend(
        rows(f * 100L, (f + 1) * 100L).coalesce(1)))
      sink.commitAppend(rows(500, 510).coalesce(1))
      if (dv) sink.deleteDV(spark, col("key") === 5L || col("key") === 150L)
      else sink.delete(spark, col("key") === 5L || col("key") === 150L)
      sink
    }
    val (plain, vectored) = (build("plain", dv = false), build("dv", dv = true))
    assert(vectored.history(spark).filter(col("num_deletion_vectors") > 0).count() === 1)
    Seq(plain, vectored).foreach(s => assert(s.read(spark).count() === 208))
    val (a, b) = (jobsOf(plain.read(spark).count()), jobsOf(vectored.read(spark).count()))
    assert(b === a, s"a read with deletion vectors ran $b Spark jobs, without $a")
  }

  test("a merge touching more files compiles no new code") {
    // a plan that inlines a per-merge value (a file list, a key count)
    // compiles again on every merge and misses Spark's codegen cache
    val sink = table("codegen")
    def compiles(f: => Unit): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      f
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    merge(sink, Seq(10L), 1)
    merge(sink, Seq(2010L, 4010L), 2)
    val again = compiles(merge(sink, Seq(20L, 2020L, 4020L), 3))
    assert(again === 0, s"$again classes compiled by a merge touching 3 files")
    val live = sink.read(spark).select("key", "val").as[(Long, Double)].collect().toMap
    assert(Seq(10L -> 1.0, 2010L -> 2.0, 4010L -> 2.0, 20L -> 3.0, 4020L -> 3.0)
      .forall { case (k, v) => live(k) === v })
    assert(live.size === 8000 + 5 - 1 + 3)
  }

  test("a read creates a broadcast variable only for a table with deletion vectors") {
    // a plain read's per-file facts ride the file listing (`_metadata`
    // constants); only the vectors need a variable. Reading creates no
    // other broadcast (no job runs), so consecutive ids count them
    def made(f: => Unit): Long = {
      val sc = spark.sparkContext
      val b0 = sc.broadcast(0)
      f
      val b1 = sc.broadcast(0)
      try b1.id - b0.id - 1 finally { b0.destroy(); b1.destroy() }
    }
    val sink = new ExactlyOnceSink(Files.createTempDirectory("graft-read-vars").toString)
    (0 until 3).foreach(f => sink.commitAppend(rows(f * 100L, (f + 1) * 100L).coalesce(1)))
    assert(made(sink.read(spark).select("batch", "key")) === 0)
    sink.deleteDV(spark, col("key") === 150L)
    assert(made(sink.read(spark)) === 1)
    assert(sink.read(spark).count() === 299)
  }

  test("collectAtMost returns at most n rows, in partition order") {
    val df = spark.range(0, 10, 1, 4).toDF("id")
    assert(ExactlyOnceSink.collectAtMost(df, 9) === None)
    assert(ExactlyOnceSink.collectAtMost(df, 10).map(_.map(_.getLong(0))) === Some(0L until 10L))
    assert(ExactlyOnceSink.collectAtMost(df.filter(col("id") > 100), 0) === Some(Nil))
  }
}
