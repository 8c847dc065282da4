package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.{ExactlyOnceSink, KafkaEnvelope}

/** Ingest-throughput bench for the reference's actual category — a
  * Kafka→Delta streaming daemon (reference README.md:2 "Stream DeltaLake
  * tables from Kafka"). The declared-query bench (graft.Bench) measures
  * the analytics surface; this main measures the INGEST surface: envelope
  * topic → readStream → JSON decode → exactly-once committed sink, end to
  * end, and prints one JSON line with records/s.
  *
  * Protocol: the sf events fixture is written out as a partitioned
  * envelope topic (untimed — that's the producer's cost, not the
  * daemon's), then consumed with Trigger.AvailableNow through the same
  * decode + ExactlyOnceSink.process pipeline StreamingSpec verifies for
  * exactly-once/replay semantics. Micro-batch granularity comes from
  * maxFilesPerTrigger over the topic's file chunks, so the run pays real
  * per-batch commit costs (staging, stats, log claim), not one giant
  * batch. Timed wall-clock covers stream start → awaitTermination; rps =
  * rows / wall. The public single-node category ballpark is O(10⁴–10⁵)
  * records/s/core (SURVEY §6) — compare against rps/core = rps / cpus.
  *
  * The measured pipeline is factored into [[run]] so GoldenIngestSpec can
  * regression-gate throughput at a small config (golden/ingest_r12.json)
  * with the exact code path the main measures.
  */
object IngestBench {

  case class IngestResult(rows: Long, wallSec: Double, rps: Double,
      batches: Int, kept: Long = -1L)

  /** Producer (untimed) + timed consume of one ingest run. Temp dirs are
    * created and reclaimed here — repeated runs would otherwise
    * accumulate GBs of scaled topic/table/checkpoint in java.io.tmpdir. */
  def run(spark: SparkSession, sfDir: String, scale: Int,
      batches: Int, identity: Boolean = false): IngestResult = {
    val topicDir = Files.createTempDirectory("graft-ingest-topic").toString
    val tableDir = Files.createTempDirectory("graft-ingest-table").toString
    val ckptDir = Files.createTempDirectory("graft-ingest-ckpt").toString
    try {
      // Producer side (untimed): envelope topic from the fixture, volume-
      // scaled `scale`× (disjoint event_id ranges — the throughput subject
      // is the daemon, and at sf0.1 a single fixture copy finishes before
      // stream start-up stops dominating the wall clock). Each partition's
      // log splits into enough chunks that maxFilesPerTrigger yields
      // ~`batches` real micro-batches with per-batch commit costs.
      val ev0 = Tables(spark, sfDir, "events")
      val maxIdRow = ev0.agg(org.apache.spark.sql.functions.max("event_id")).head()
      require(!maxIdRow.isNullAt(0), s"events fixture at $sfDir is empty")
      val maxId = maxIdRow.getLong(0) + 1
      val ev = (0 until scale).map { k =>
        ev0.withColumn("event_id",
          org.apache.spark.sql.functions.col("event_id") + (k * maxId))
      }.reduce(_.unionByName(_))
      KafkaEnvelope.writeTopicFrom(ev, topicDir, nPartitions = 8,
        chunksPerPartition = math.max(1, batches * 2 / 8))
      val chunks = new java.io.File(topicDir).listFiles()
        .count(f => f.getName.endsWith(".json"))
      val perTrigger = math.max(1, (chunks + batches - 1) / batches)

      val sink = new ExactlyOnceSink(tableDir, appId = "graft-ingest-bench")
      if (identity) sink.setIdentityColumn(spark, "rid")
      val stream = KafkaEnvelope.decode(
          KafkaEnvelope.readStream(spark, topicDir, perTrigger))
        .select("event_id", "ts", "user_id", "event_type", "event_value")

      val t0 = System.nanoTime()
      val qy = stream.writeStream
        .option("checkpointLocation", ckptDir)
        .trigger(Trigger.AvailableNow())
        .foreachBatch((df: DataFrame, id: Long) => sink.process(df, id))
        .start()
      qy.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9

      val rows = sink.read(spark).count()
      val expected = ev0.count() * scale
      require(rows == expected, s"ingest lost rows: $rows != $expected")
      if (identity) {
        // the assignment's invariants must hold at full throughput too:
        // contiguous 1..rows (sum check pins uniqueness + contiguity)
        val mx = sink.read(spark)
          .agg(org.apache.spark.sql.functions.max("rid")).head().getLong(0)
        require(mx == rows, s"identity ingest: max rid $mx != rows $rows")
      }
      IngestResult(rows, wall, rows / wall, sink.committedVersions().size)
    } finally {
      import scala.jdk.CollectionConverters._
      Seq(topicDir, tableDir, ckptDir).foreach { d =>
        val p = java.nio.file.Paths.get(d)
        if (Files.exists(p))
          locally { val st = Files.walk(p)
            try st.iterator().asScala.toSeq.reverse.foreach(Files.delete)
            finally st.close() }
      }
    }
  }

  /** Documents-topic ingest: plain (decode→commit) or curated
    * (decode→[[graft.streaming.CurationPipeline.curateBatch]]). The
    * scaled copies carry IDENTICAL text, so the curated arm's
    * cross-corpus dedup does real work every batch; `rps` counts
    * INGESTED rows (the daemon's consumption rate), `kept` what
    * curation admitted. The plain-vs-curated delta IS the curation
    * cost. Row-count invariants are asserted here, not just in the
    * spec, so a bench run can never silently measure a broken
    * pipeline. */
  def runDocs(spark: SparkSession, sfDir: String, scale: Int,
      batches: Int, curated: Boolean): IngestResult =
    runDocsMode(spark, sfDir, scale, batches,
      if (curated) "curated" else "plain")

  /** Near-dup (MinHash-LSH) streaming ingest — the most expensive
    * curation stage, measured on the exact code StreamingSpec proves
    * near-dup-free ([[graft.streaming.CurationPipeline.nearDupBatch]]).
    * `kept` counts committed distinct docs (the state table holds one
    * signature row per (doc, band)). */
  def runDocsNearDup(spark: SparkSession, sfDir: String, scale: Int,
      batches: Int): IngestResult =
    runDocsMode(spark, sfDir, scale, batches, "neardup")

  private def runDocsMode(spark: SparkSession, sfDir: String, scale: Int,
      batches: Int, mode: String): IngestResult = {
    import org.apache.spark.sql.functions.{col, max, md5}
    val topicDir = Files.createTempDirectory("graft-ingdoc-topic").toString
    val tableDir = Files.createTempDirectory("graft-ingdoc-table").toString
    val ckptDir = Files.createTempDirectory("graft-ingdoc-ckpt").toString
    try {
      val docs0 = Tables(spark, sfDir, "documents")
      val maxIdRow = docs0.agg(max("doc_id")).head()
      require(!maxIdRow.isNullAt(0), s"documents fixture at $sfDir is empty")
      val maxId = maxIdRow.getLong(0) + 1
      val docs = (0 until scale).map { k =>
        docs0.withColumn("doc_id", col("doc_id") + (k * maxId))
      }.reduce(_.unionByName(_))
      KafkaEnvelope.writeDocTopicFrom(docs, topicDir, nPartitions = 8,
        chunksPerPartition = math.max(1, batches * 2 / 8))
      val chunks = new java.io.File(topicDir).listFiles()
        .count(f => f.getName.endsWith(".json"))
      val perTrigger = math.max(1, (chunks + batches - 1) / batches)

      val sink = new ExactlyOnceSink(tableDir, appId = "graft-ingdoc-bench")
      val stream = KafkaEnvelope.decodeDocs(
          KafkaEnvelope.readStream(spark, topicDir, perTrigger))
        .select("doc_id", "text", "lang", "source")

      val t0 = System.nanoTime()
      val qy = stream.writeStream
        .option("checkpointLocation", ckptDir)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, id: Long) =>
          mode match {
            case "curated" =>
              graft.streaming.CurationPipeline.curateBatch(df, sink, id)
            case "neardup" =>
              graft.streaming.CurationPipeline.nearDupBatch(df, sink, id)
            case _ => sink.process(df, id)
          }
        }
        .start()
      qy.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9

      val ingested = docs0.count() * scale
      val kept = mode match {
        case "neardup" => sink.read(spark).select("doc_id").distinct().count()
        case _ => sink.read(spark).count()
      }
      mode match {
        case "curated" =>
          // every unique gated text exactly once — scaled copies collapse
          val expect = docs0
            .filter(graft.streaming.CurationPipeline.gate(col("text")))
            .select(md5(col("text"))).distinct().count()
          require(kept == expect, s"curated ingest corpus wrong: $kept != $expect")
        case "neardup" =>
          // exact copies are near-dups by construction, so the corpus
          // must shrink; an empty corpus means the gate ate everything
          require(kept > 0 && kept < ingested,
            s"near-dup ingest corpus implausible: kept=$kept of $ingested")
        case _ =>
          require(kept == ingested, s"ingest lost rows: $kept != $ingested")
      }
      IngestResult(ingested, wall, ingested / wall,
        sink.committedVersions().size, kept)
    } finally {
      import scala.jdk.CollectionConverters._
      Seq(topicDir, tableDir, ckptDir).foreach { d =>
        val p = java.nio.file.Paths.get(d)
        if (Files.exists(p))
          locally { val st = Files.walk(p)
            try st.iterator().asScala.toSeq.reverse.foreach(Files.delete)
            finally st.close() }
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val batches = sys.env.getOrElse("SPARK_GRAFT_INGEST_BATCHES", "10").toInt
    val scale = sys.env.getOrElse("SPARK_GRAFT_INGEST_SCALE", "10").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val r = run(spark, sfDir, scale, batches)
    val nCores = cpus.toInt
    println(
      f"""{"metric":"ingest_rps","value":${r.rps}%.0f,"unit":"records/sec","rows":${r.rows},"wall_s":${r.wallSec}%.2f,"batches":${r.batches},"cpus":$nCores,"rps_per_core":${r.rps / nCores}%.0f,"sf":"$sfDir"}""")
    // Identity arm: same events pipeline with GENERATED ALWAYS AS
    // IDENTITY assignment per micro-batch — the ratio is the cost of
    // the two-pass ordinal assignment + metaData watermark commit.
    val ri = run(spark, sfDir, scale, batches, identity = true)
    println(
      f"""{"metric":"ingest_identity_rps","value":${ri.rps}%.0f,"unit":"records/sec","rows":${ri.rows},"wall_s":${ri.wallSec}%.2f,"batches":${ri.batches},"identity_cost_x":${r.rps / ri.rps}%.2f,"sf":"$sfDir"}""")
    // Docs arms: plain vs curated — the ratio is the curation cost.
    val dp = runDocs(spark, sfDir, scale, batches, curated = false)
    println(
      f"""{"metric":"ingest_docs_rps","value":${dp.rps}%.0f,"unit":"records/sec","rows":${dp.rows},"wall_s":${dp.wallSec}%.2f,"batches":${dp.batches},"sf":"$sfDir"}""")
    val dc = runDocs(spark, sfDir, scale, batches, curated = true)
    println(
      f"""{"metric":"ingest_curated_rps","value":${dc.rps}%.0f,"unit":"records/sec","rows":${dc.rows},"kept":${dc.kept},"wall_s":${dc.wallSec}%.2f,"batches":${dc.batches},"curation_cost_x":${dp.rps / dc.rps}%.2f,"sf":"$sfDir"}""")
    val nd = runDocsNearDup(spark, sfDir, scale, batches)
    println(
      f"""{"metric":"ingest_neardup_rps","value":${nd.rps}%.0f,"unit":"records/sec","rows":${nd.rows},"kept":${nd.kept},"wall_s":${nd.wallSec}%.2f,"batches":${nd.batches},"neardup_cost_x":${dp.rps / nd.rps}%.2f,"sf":"$sfDir"}""")
    spark.stop()
  }
}
