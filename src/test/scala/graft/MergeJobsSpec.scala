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
  * does. */
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

  test("a warm mergeDV runs at most 11 Spark jobs") {
    val sink = table("jobs")
    merge(sink, Seq(10L, 2010L), 1)
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(Option(e.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("merge", "one mergeDV")
      merge(sink, Seq(20L, 4020L), 2)
      // the listener bus delivers in order: once the marker job is seen,
      // every job the merge started has been seen too
      sc.setJobGroup("merge-marker", "marker")
      spark.range(1).count()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("merge-marker") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(groups.contains("merge-marker"), "marker job never observed")
      val jobs = groups.asScala.count(_ == "merge")
      info(s"$jobs Spark jobs")
      assert(jobs <= 11, s"a warm mergeDV ran $jobs Spark jobs")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val live = sink.read(spark).select("key", "val").as[(Long, Double)].collect().toMap
    assert(live(20L) === 2.0 && live(4020L) === 2.0 && live(10L) === 1.0 && !live.contains(5L))
    assert(live.size === 8000 + 5 - 1 + 2)
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
}
