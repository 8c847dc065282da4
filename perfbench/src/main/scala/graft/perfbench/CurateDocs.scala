package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.streaming.{CurationPipeline, KafkaEnvelope}

/** The produced topic, handed to the stream one micro-batch at a time.
  *
  * The producer writes every partition's log as offset-contiguous chunk
  * files; the feeder groups the name-sorted files into one directory per
  * micro-batch (one chunk of every partition) and moves a whole directory
  * into the topic with one rename. The stream reads every file of the
  * topic's batch directories with `maxFilesPerTrigger` = files per batch,
  * so it sees each batch whole. */
final class Feeder(stage: Path, val topic: Path, val filesPerBatch: Int) {
  Files.createDirectories(topic)
  val batches: IndexedSeq[Path] = {
    val s = Files.list(stage)
    val files = try s.iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toIndexedSeq
      .sortBy(_.getFileName.toString)
    finally s.close()
    files.grouped(filesPerBatch).zipWithIndex.map { case (fs, k) =>
      val d = Files.createDirectories(stage.resolve(f"b$k%05d"))
      fs.foreach(f => Files.move(f, d.resolve(f.getFileName)))
      d
    }.toIndexedSeq
  }
  private var fed = 0
  def size: Int = batches.size
  def feedCount: Int = fed
  /** The topic's batch directories fed so far. */
  def fedDirs: Seq[String] =
    batches.take(fed).map(b => topic.resolve(b.getFileName).toString)
  def feedNext(): Unit = {
    val b = batches(fed)
    Files.move(b, topic.resolve(b.getFileName), StandardCopyOption.ATOMIC_MOVE)
    fed += 1
  }
}

/** A long-running micro-batch stream over a fed topic. `body` is the
  * foreachBatch body; the caller feeds one batch and waits for it, so the
  * loop is closed: the next batch arrives only when the last committed. */
final class RunningStream(ctx: Ctx, feeder: Feeder, ckpt: Path,
    decode: DataFrame => DataFrame)(body: (DataFrame, Long) => Unit) {
  private val lock = new Object
  private var done = 0
  @volatile var rec = new Recorder
  private val t = ctx.tracer
  @volatile private var root = (-1, -1)
  private val q: StreamingQuery = {
    feeder.feedNext() // the source needs a first batch to list
    decode(KafkaEnvelope.readStream(ctx.spark, s"${feeder.topic}/*",
        feeder.filesPerBatch))
      .writeStream
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (df: DataFrame, id: Long) =>
        // the micro-batch runs on the stream thread: adopt the feed span
        t.adopt(root)(rec.time("batch")(t.span("op.batch")(body(df, id))))
        lock.synchronized { done += 1; lock.notifyAll() }
      }
      .start()
  }

  private def await(n: Int): Unit = lock.synchronized {
    val until = System.nanoTime() + 120L * 1000000000L
    while (done < n) {
      q.exception.foreach(e => throw e)
      if (!q.isActive) sys.error("stream stopped before its batch committed")
      if (System.nanoTime() > until) sys.error(s"batch $n did not commit in 120 s")
      lock.wait(50)
    }
  }

  def batchesDone: Int = lock.synchronized(done)

  /** The batch fed at start-up. */
  def awaitFirst(): Unit = await(1)

  /** Feed one batch and wait until it is committed. */
  def step(): Unit = t.span("op.feed") {
    root = t.current
    feeder.feedNext()
    await(feeder.feedCount)
  }

  /** Stop the idle query; rethrow any failure it ended with. */
  def stop(): Unit = {
    q.stop()
    q.exception.foreach(e => throw e)
  }

  /** Stream-layer counters from the progress reports of batches with id
    * `fromBatch` and later; returns their input rows. */
  def record(fromBatch: Long): Long = {
    val ps = q.recentProgress.filter(_.batchId >= fromBatch)
    def ms(k: String) = ps.map(p =>
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3
    t.add("stream.trigger_s", ms("triggerExecution"))
    t.add("stream.offsets_s", ms("latestOffset") + ms("walCommit") +
      ms("commitOffsets"))
    t.add("stream.planning_s", ms("queryPlanning"))
    t.add("stream.add_batch_s", ms("addBatch"))
    val rows = ps.map(_.numInputRows).sum
    t.add("stream.rows", rows.toDouble)
    rows
  }
}

/** Seeded document stream through the curation stage
  * (`CurationPipeline.curateBatch` into the corpus table) and the
  * near-duplicate stage (`nearDupBatch` into the signature table).
  *
  * Set-up repeats the producer; the warm-up feeds the first batches; the
  * timed loop then feeds one batch at a time until the deadline and for
  * at least `SizeBatches` batches, each anti-joined against the corpus
  * committed so far. */
final class CurateDocs(ctx: Ctx) extends Workload {
  import ctx._
  private val partitions = param("partitions").toInt
  private var feeder: Feeder = _
  private var stream: RunningStream = _
  private var timedFrom = 0L
  private var fedRows = 0L
  /** The size metrics are read after this many timed batches. */
  private val SizeBatches = 6
  private var size: SizeSnap = _
  private val docs = spark.read.parquet(inputs.resolve("docs.parquet").toString)
  private val corpusDir = work.resolve("corpus")
  private val corpus = new TracedSink(corpusDir.toString, "perfbench-corpus",
    tracer, storeFactory)
  private val sigs = new TracedSink(work.resolve("sigs").toString, "perfbench-sigs",
    tracer, storeFactory)

  private def body(df: DataFrame, id: Long): Unit = {
    tracer.span("curation.curate_batch")(CurationPipeline.curateBatch(df, corpus, id))
    tracer.span("curation.near_dup_batch")(CurationPipeline.nearDupBatch(df, sigs, id))
  }

  def prepare(rep: Int): Unit = {
    val d = dir(s"prep$rep")
    KafkaEnvelope.writeDocTopicFrom(docs, d.resolve("stage").toString, partitions,
      chunksPerPartition = param("batches").toInt)
    feeder = new Feeder(d.resolve("stage"), d.resolve("topic"), partitions)
  }

  def warmUp(): Unit = {
    stream = new RunningStream(ctx, feeder, work.resolve("ckpt"),
      KafkaEnvelope.decodeDocs)(body)
    stream.awaitFirst()
    (1 until param("warm_batches").toInt).foreach(_ => stream.step())
    timedFrom = stream.batchesDone
  }

  def run(deadlineNs: Long, rec: Recorder): Unit = {
    stream.rec = rec
    val start = stream.batchesDone
    // the topic is sized to outlast the deadline
    while (feeder.feedCount < feeder.size &&
        (stream.batchesDone - start < SizeBatches || System.nanoTime() < deadlineNs)) {
      stream.step()
      if (stream.batchesDone - start == SizeBatches)
        size = rec.untimed(tracer.muted(SinkStats.snap(corpus, corpusDir)))
    }
    require(size != null, s"the topic ran out before $SizeBatches timed batches")
    rec.untimed { stream.stop(); rec.rows = stream.record(timedFrom) }
  }

  /** The fed envelope records, decoded as the stream decodes them: the
    * generated input the run consumed. */
  private def fedRecords: DataFrame =
    KafkaEnvelope.decodeDocs(spark.read.schema(KafkaEnvelope.envelopeSchema)
      .json(feeder.fedDirs: _*))

  def check(): Seq[Check] = {
    val fed = fedRecords.cache()
    fedRows = fed.count()
    // the reference: distinct md5 of every gate-passing fed text, in plain
    // Spark expressions (not the pipeline's gate)
    val gated = fed
      .filter(length(col("text")) >= 64 &&
        length(regexp_replace(col("text"), "[^A-Za-z ]", "")) * 2 >= length(col("text")))
      .select(md5(col("text"))).distinct().collect().map(_.getString(0)).toSet
    val checks = Seq(
      Check.of("curate_docs: corpus equals distinct gated md5 set") {
        val got = corpus.read(spark).select("h").collect().map(_.getString(0))
        (got.length == gated.size && got.toSet == gated,
          s"corpus_rows=${got.length} distinct=${got.toSet.size} want=${gated.size} " +
            s"missing=${(gated -- got).size} extra=${(got.toSet -- gated).size}")
      },
      Check.of("curate_docs: 0 < near-dup kept < ingested") {
        val kept = sigs.read(spark).select("doc_id").distinct().count()
        (kept > 0 && kept < fedRows, s"kept=$kept ingested=$fedRows")
      })
    fed.unpersist()
    checks
  }

  def extras(): Map[String, Double] = {
    val ingested = fedRows.toDouble
    Map("stored_bytes_per_row" -> SinkStats.storedBytesPerRow(spark, corpus, size)) ++
      (if (tracer.enabled)
        SinkStats.sinkCounts(corpus, size) +
          ("curation.kept_frac" -> corpus.rowCount(spark) / ingested)
      else Map.empty)
  }
}
