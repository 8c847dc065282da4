package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.streaming.{CurationPipeline, ExactlyOnceSink}

/** A long-running curation daemon with the sink's `autoCompactEvery`:
  * packing commits land between batches, so the live file count stays
  * bounded instead of growing by one per batch, while the corpus and
  * replay semantics stay those of an uncompacted sink. */
class CurationCompactionSpec extends SparkSpecBase {
  import spark.implicits._

  test("autoCompactEvery bounds a curation daemon's live files; corpus and replay unchanged") {
    val sink = new ExactlyOnceSink(
      Files.createTempDirectory("graft-cur-compact").toString, autoCompactEvery = 8)
    // 40 batches of 6 docs over 97 texts: texts repeat across batches
    // (cross-corpus dedup) and every fifth fails the length gate
    def text(k: Int): String =
      if (k % 5 == 0) s"short $k"
      else s"document $k about streaming ingest and the curation of training data"
    def batch(b: Int) =
      (b * 6 until b * 6 + 6).map(i => (i.toLong, text(i % 97))).toDF("doc_id", "text")
    (0 until 40).foreach(b => CurationPipeline.curateBatch(batch(b), sink, b))

    val table = sink.read(spark)
    val liveFiles = table.inputFiles.toSet.size
    assert(liveFiles < 12, s"auto-compaction did not bound the live files: $liveFiles")
    val hashes = table.select("h").as[String].collect().toSeq
    val expected = (0 until 40).map(batch).reduce(_ union _)
      .filter(CurationPipeline.gate(col("text")))
      .select(md5(col("text"))).distinct().as[String].collect().toSet
    assert(hashes.size == hashes.distinct.size, "duplicate hashes in the corpus")
    assert(hashes.toSet == expected)

    val versions = sink.committedVersions()
    (0 until 40).foreach(b => CurationPipeline.curateBatch(batch(b), sink, b))
    assert(sink.committedVersions() == versions, "a replay committed")
    assert(sink.read(spark).select("h").as[String].collect().toSeq.sorted == hashes.sorted)
  }
}
