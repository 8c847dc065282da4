package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}
import graft.streaming.{CurationPipeline, ExactlyOnceSink}

/** The sink's read scan: every live file of every visible commit in one
  * log-backed scan, `batch` looked up per row from the file it came
  * from. These pin the per-row `batch` against the version that wrote
  * each row across every commit shape a read unions, the hive partition
  * values every read kind takes from the log, and the counter that makes
  * the per-commit inference fallback visible. */
class SinkReadSpec extends SparkSpecBase {
  import spark.implicits._

  // a space and a '+' in the table root: `_metadata.file_path` is a URI
  // (the space arrives as %20), and the file keys behind `batch` and the
  // tombstones must still match the log's
  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix + " dir+").toString

  private def rows(ids: Range): DataFrame =
    ids.map(i => (i.toLong, s"v$i")).toDF("id", "v")

  private def batches(df: DataFrame): Map[Long, Int] =
    df.select("id", "batch").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap

  test("batch is the writing version across appends, deletion vectors, restore and time travel") {
    val sink = new ExactlyOnceSink(tmp("graft-batch"))
    var want = Map.empty[Long, Int] // id -> the version that wrote it
    def wrote(ids: Range, v: Long): Unit = want ++= ids.map(_.toLong -> v.toInt)
    sink.process(rows(0 until 10), 0); wrote(0 until 10, 0)
    sink.process(rows(10 until 20), 1); wrote(10 until 20, 1)
    val v2 = sink.commitAppend(rows(20 until 30)); wrote(20 until 30, v2)
    val v3 = sink.deleteDV(spark, col("id") === 3L); want -= 3L
    val at3 = want
    // a restore re-points at the source dirs: its rows read as written
    // by the restore commit, id 3 back again
    val v4 = sink.restore(spark, v2)
    want = Map.empty; wrote(0 until 30, v4)
    sink.process(rows(30 until 40), v4 + 1); wrote(30 until 40, v4 + 1)
    val v6 = sink.commitAppend(rows(40 until 50)); wrote(40 until 50, v6)
    val at6 = want
    // vectors on a restored (dir-read) file and on a flat file
    val v7 = sink.deleteDV(spark, col("id").isin(12L, 33L)); want --= Seq(12L, 33L)
    sink.process(rows(50 until 60), v7 + 1); wrote(50 until 60, v7 + 1)

    val live = sink.read(spark)
    assert(live.schema("batch").dataType == IntegerType)
    assert(batches(live) == want)
    assert(batches(sink.read(spark, Some(v3))) == at3)
    assert(batches(sink.read(spark, Some(v6))) == at6)
  }

  test("batch on a hive-partitioned table comes from its per-dir reads") {
    val sink = new ExactlyOnceSink(tmp("graft-batch-hive"))
    // `a b:c%` is hive-escaped on disk and escaped again in the file URI
    val odd = "a b:c%"
    sink.process(Seq((0L, odd), (1L, "plain")).toDF("id", "p"), 0,
      partitionBy = Seq("p"))
    sink.process(Seq((2L, odd), (3L, "q"), (4L, odd)).toDF("id", "p"), 1,
      partitionBy = Seq("p"))
    assert(batches(sink.read(spark)) == Map(0L -> 0, 1L -> 0, 2L -> 1, 3L -> 1, 4L -> 1))
    sink.deleteDV(spark, col("id") === 2L)
    val live = sink.read(spark)
    assert(batches(live) == Map(0L -> 0, 1L -> 0, 3L -> 1, 4L -> 1))
    assert(live.select("id", "p").collect().map(r => r.getLong(0) -> r.getString(1))
      .toMap == Map(0L -> odd, 1L -> "plain", 3L -> "q", 4L -> odd))
  }

  private def byId(df: DataFrame): Map[Long, String] =
    df.select("id", "p").as[(Long, String)].collect().toMap

  test("stat- and bloom-pruned reads of a hive-partitioned table keep the partition column") {
    val sink = new ExactlyOnceSink(tmp("graft-hive-pruned"))
    val want = Map(0L -> "a", 1L -> "b", 2L -> "a", 3L -> "c")
    sink.commitAppend(want.toSeq.toDF("id", "p"), partitionBy = Seq("p"),
      bloomBy = Seq("id"))
    assert(byId(sink.readSkipping(spark, "id", 0, 10)) == want)
    val hit = byId(sink.readLookup(spark, "id", "1"))
    assert(hit.get(1L).contains("b") && hit.forall { case (k, v) => want(k) == v }, hit)
  }

  test("an over-cap deletion-vector rewrite keeps the hive partition column of the kept rows") {
    val sink = new ExactlyOnceSink(tmp("graft-hive-rewrite"))
    val rows0 = (0 until 10).map(i => i.toLong -> s"p${i % 2}")
    sink.commitAppend(rows0.toDF("id", "p").coalesce(1), partitionBy = Seq("p"))
    // dvMaxRows = 0: the matched file is rewritten from its kept rows
    sink.deleteDV(spark, col("id") === 4L, dvMaxRows = 0)
    val model = rows0.filterNot(_._1 == 4L).toMap
    assert(byId(sink.read(spark)) == model)
    assert(sink.read(spark).count() == model.size)
  }

  test("numeric-looking string partition values read back as the recorded string type") {
    val sink = new ExactlyOnceSink(tmp("graft-hive-strings"))
    val want = Map(0L -> "0", 1L -> "1", 2L -> "2")
    sink.commitAppend(want.toSeq.toDF("id", "p"), partitionBy = Seq("p"))
    val live = sink.read(spark)
    assert(live.schema("p").dataType == StringType)
    assert(byId(live) == want)
  }

  test("a hive-partitioned and a flat commit of the same string column read together") {
    val sink = new ExactlyOnceSink(tmp("graft-hive-mixed"))
    sink.commitAppend(Seq((0L, "0"), (1L, "1"), (2L, "2")).toDF("id", "p"),
      partitionBy = Seq("p"))
    sink.commitAppend(Seq((3L, "x")).toDF("id", "p"))
    assert(byId(sink.read(spark)) == Map(0L -> "0", 1L -> "1", 2L -> "2", 3L -> "x"))
  }

  test("per-commit inference fallback: never on a curated ingest, counted on a column-mapped as-of read") {
    val corpus = new ExactlyOnceSink(tmp("graft-fb-corpus"))
    val sigs = new ExactlyOnceSink(tmp("graft-fb-sigs"))
    (0 until 3).foreach { b =>
      val docs = (0 until 4).map { i =>
        val id = b * 4 + i
        (id.toLong, s"lorem ipsum dolor sit amet consectetur adipiscing elit " +
          s"sed do eiusmod tempor incididunt ut labore doc ${"x" * (id + 1)}")
      }.toDF("doc_id", "text")
      CurationPipeline.curateBatch(docs, corpus, b)
      CurationPipeline.nearDupBatch(docs, sigs, b)
    }
    assert(corpus.read(spark).count() == 12)
    assert(corpus.inferenceReads.get == 0 && sigs.inferenceReads.get == 0)

    val mapped = new ExactlyOnceSink(tmp("graft-fb-mapped"))
    val v0 = mapped.commitAppend(rows(0 until 5))
    mapped.commitAppend(rows(5 until 10))
    mapped.renameColumn("v", "w")
    assert(mapped.read(spark).count() == 10)
    assert(mapped.inferenceReads.get == 0)
    // v0 predates the rename, so its as-of read takes the schema recorded
    // at v0 instead of inferring footers; it still presents the current
    // column names, as the inference read did
    val asOf0 = mapped.read(spark, Some(v0))
    assert(asOf0.columns.toSeq == Seq("id", "w", "batch"))
    assert(asOf0.select("id", "w", "batch").as[(Long, String, Int)].collect()
      .sorted.toSeq == (0 until 5).map(i => (i.toLong, s"v$i", v0.toInt)))
    assert(mapped.inferenceReads.get == 0)
  }
}
