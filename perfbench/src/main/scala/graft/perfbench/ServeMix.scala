package graft.perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.streaming.ExactlyOnceSink

/** The serving side: one closed-loop client that, per cycle, runs one
  * round of the seeded upsert script (a MOR `mergeBatch` of Zipf-skewed
  * keys and the five read kinds) and one pass over a fixed subset of
  * `SparkEntry.queries` on the generated fixture, all in seed-permuted
  * order; `compactSmall` runs as maintenance after each cycle's ops. */
final class ServeMix(ctx: Ctx) extends Workload {
  import ctx._
  import graft.queries._

  /** One query from each of eight of the 16 query modules (the run budget
    * leaves no room for all 16), slowest first-run first: q_sink_dv_read
    * builds its own merge-on-read table, q_llm_dup_groups reads two
    * StageCache relations (the near-dup pair graph and its closure). */
  val Queries: Seq[String] = Seq(
    "q_sink_dv_read", "q_llm_dup_groups", "q_events_attribution", "q_agg_hash",
    "q_llm_boilerplate", "q_join_multiway", "q_events_wau", "q_llm_cosine_topk")

  private val modules: Map[String, String] = Seq(
    "RelationalCore" -> RelationalCore.queries, "Aggregates" -> Aggregates.queries,
    "WindowOps" -> WindowOps.queries, "SortSetOps" -> SortSetOps.queries,
    "ScalarFns" -> ScalarFns.queries, "EventsOps" -> EventsOps.queries,
    "TextOps" -> TextOps.queries, "VectorOps" -> VectorOps.queries,
    "ExtendedOps" -> ExtendedOps.queries, "PipelineOps" -> PipelineOps.queries,
    "AnalyticsOps" -> AnalyticsOps.queries, "GraphSearchOps" -> GraphSearchOps.queries,
    "CorpusStatsOps" -> CorpusStatsOps.queries, "QualityOps" -> QualityOps.queries,
    "MiningOps" -> MiningOps.queries, "SinkOps" -> SinkOps.queries,
  ).flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap
  private val fns = graft.SparkEntry.queries
  private val fixture = inputs.resolve("fixture").toString
  private val results = work.resolve("results")

  /** Files below this size are compacted: the merges' small outputs, not
    * the base table's key-range files (~75 KB), whose ranges keep
    * `readSkipping` pruning. */
  private val SmallFileBytes = 48L << 10

  private type Ref = Map[Long, (String, Double, Long)]
  private val base = spark.read.parquet(inputs.resolve("base.parquet").toString)
  private val baseRef: Ref = state(base)
  /** The op script, one entry per round: the merge, then five reads. */
  private val rounds: IndexedSeq[Seq[Map[String, Any]]] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmt: Formats = DefaultFormats
    Files.readAllLines(inputs.resolve("ops.jsonl")).asScala.toIndexedSeq
      .map(l => JsonMethods.parse(l).extract[Map[String, Any]])
      .groupBy(op => num(op("round")).toInt).toIndexedSeq.sortBy(_._1).map(_._2)
  }

  private var sink: ExactlyOnceSink = _
  private var table: Path = _
  private var ref: Ref = Map.empty
  /** Every committed version with the reference state it must read as. */
  private val versions = mutable.ArrayBuffer[(Long, Ref)]()
  private var round = 0
  private val filesRead = mutable.ArrayBuffer[Double]()
  /** The size metrics are read after this many timed cycles. */
  private val SizeCycles = 1
  private var size: SizeSnap = _

  private def num(v: Any): Double = v match {
    case b: BigInt => b.toDouble
    case n: Number => n.doubleValue
  }

  private def state(df: DataFrame): Ref =
    df.select("key", "sku", "val", "rev").collect().map((r: Row) =>
      r.getLong(0) -> ((r.getString(1), r.getDouble(2), r.getLong(3)))).toMap

  /** The base table in `key` ranges (file skipping) with a bloom filter
    * on `sku` (point lookups). */
  def prepare(rep: Int): Unit = {
    table = dir(s"prep$rep").resolve("table")
    sink = new ExactlyOnceSink(table.toString, appId = "perfbench-serve",
      storeFactory = storeFactory)
    val v0 = sink.commitAppend(
      base.repartitionByRange(param("base_files").toInt, col("key")),
      bloomBy = Seq("sku"))
    ref = baseRef
    versions.clear()
    versions += v0 -> ref
  }

  /** Each query once, untimed, four at a time (the declared queries are
    * safe to run concurrently; `graft.Bench` does): the StageCache builds
    * happen here, and these results are the ones checked against the
    * oracles. */
  def warmUp(): Unit = {
    Files.createDirectories(results)
    import scala.concurrent.{Await, ExecutionContext, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(Queries)(n => Future(
        fns(n)(spark, fixture).coalesce(1).write.parquet(results.resolve(n).toString))),
      scala.concurrent.duration.Duration.Inf)
    finally pool.shutdown()
    graft.Bench.sweep(spark)
  }

  def run(deadlineNs: Long, rec: Recorder): Unit = {
    val start = round
    while (round - start < SizeCycles || System.nanoTime() < deadlineNs) {
      require(round < rounds.size, "op script exhausted before the deadline")
      cycle(rec)
      if (round - start == SizeCycles)
        size = rec.untimed(tracer.muted(SinkStats.snap(sink, table)))
    }
  }

  private def cycle(rec: Recorder): Unit = {
    val rnd = new scala.util.Random(seed * 100003L + round)
    val sinkOps = rounds(round).map(op => () => step(op, rec))
    val queryOps = Queries.map(n => () => query(n, rec))
    rnd.shuffle(sinkOps ++ queryOps).foreach(_())
    val v = rec.time("compact")(tracer.span("op.compact")(tracer.span("sink.compact")(
      sink.compactSmall(spark, targetBytes = SmallFileBytes))))
    // compaction rewrites files, not rows
    if (v >= 0) versions += v -> ref
    round += 1
  }

  private def query(n: String, rec: Recorder): Unit = {
    Recorder.label.set(n)
    rec.time("query")(tracer.span("op.query")(tracer.span(s"queries.${modules(n)}")(
      fns(n)(spark, fixture).count())))
    rec.untimed(graft.Bench.sweep(spark)) // cache hygiene between queries
  }

  private def pick(op: Map[String, Any]): Long =
    versions(((versions.size - 1) * num(op("back"))).toInt)._1

  private def read(rec: Recorder, span: String)(body: => Long): Unit =
    rec.time("read")(tracer.span("op.read")(tracer.span(span)(body)))

  /** A read that prunes files: the engine's part (`open`, then the
    * filtered count) is timed; in the traced run the share of live files
    * it read is taken afterwards, untimed. */
  private def prunedRead(rec: Recorder, span: String)(open: => DataFrame)(
      filter: DataFrame => DataFrame): Unit = {
    var df: DataFrame = null
    read(rec, span) { df = open; filter(df).count() }
    if (tracer.enabled) rec.untimed(tracer.muted {
      val live = sink.computeChecksum(sink.committedVersions().last).numFiles
      filesRead += df.inputFiles.length.toDouble / live.max(1L)
    })
  }

  private def step(op: Map[String, Any], rec: Recorder): Unit = {
    Recorder.label.set(op("op").toString)
    op("op") match {
      case "merge" =>
        val rev = round + 1L
        val rows = op("keys").asInstanceOf[List[Any]].map(k => num(k).toLong)
          .zip(op("vals").asInstanceOf[List[Any]].map(num))
          .map { case (k, v) => (k, s"sku-$k", v, rev) }
        val updates = spark.createDataFrame(rows).toDF("key", "sku", "val", "rev")
        val v = rec.time("merge")(tracer.span("op.merge")(tracer.span("sink.merge")(
          sink.mergeBatch(spark, updates, Seq("key"), rev, mor = true))))
        ref = ref ++ rows.map { case (k, s, x, r) => k -> ((s, x, r)) }
        versions += v.getOrElse(sys.error(s"merge of round $round skipped")) -> ref
      case "lookup" =>
        val sku = op("sku").asInstanceOf[String]
        prunedRead(rec, "sink.read_lookup")(sink.readLookup(spark, "sku", sku))(
          _.filter(col("sku") === sku))
      case "skipping" =>
        val (lo, hi) = (num(op("lo")), num(op("hi")))
        prunedRead(rec, "sink.read_skipping")(sink.readSkipping(spark, "key", lo, hi))(
          _.filter(col("key").between(lo, hi)))
      case "asof" =>
        val v = pick(op)
        read(rec, "sink.read_asof")(sink.read(spark, Some(v)).count())
      case "changes" =>
        val v = pick(op)
        read(rec, "sink.read_changes")(sink.readChanges(spark, v).count())
      case "count" =>
        read(rec, "sink.row_count")(sink.rowCount(spark))
    }
  }

  private def diff(got: Ref, want: Ref): String = {
    val bad = (got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))
    s"rows=${got.size} want=${want.size} mismatched_keys=$bad"
  }

  /** Sink checks here; the query results dumped in the warm-up are
    * compared with their DuckDB oracles by run.py. */
  def check(): Seq[Check] = {
    val rnd = new scala.util.Random(seed)
    val sample = Seq.fill(3)(versions(rnd.nextInt(versions.size)))
    val oracles = graft.SparkEntry.oracleSql
    Files.writeString(results.resolve("oracle_sql.json"),
      org.json4s.jackson.Serialization.write(
        Queries.filter(oracles.contains).map(n => n -> oracles(n)).toMap)(
        org.json4s.DefaultFormats))
    Seq(Check.of("serve_mix: final state equals last-write-wins reference") {
      val got = state(sink.read(spark)); (got == ref, diff(got, ref))
    }) ++ sample.map { case (v, want) =>
      Check.of(s"serve_mix: version $v equals last-write-wins reference") {
        val got = state(sink.read(spark, Some(v))); (got == want, diff(got, want))
      }
    } ++ Seq(
      Check.of("serve_mix: verifyChecksum passes") {
        val c = sink.verifyChecksum(); (c.isDefined, s"verified=$c")
      },
      Check.of("serve_mix: stagecache.disk_serves == 0") {
        val n = graft.operators.StageCache.diskServes.get()
        (n == 0, s"disk_serves=$n")
      })
  }

  def extras(): Map[String, Double] =
    Map("stored_bytes_per_row" -> SinkStats.storedBytesPerRow(spark, sink, size)) ++
      (if (tracer.enabled) {
        val b = graft.operators.StageCache.buildSeconds
        SinkStats.sinkCounts(sink, size) ++ Map(
          "sink.files_read_frac" ->
            (if (filesRead.isEmpty) 0.0 else filesRead.sum / filesRead.size),
          "stagecache.builds" -> b.size.toDouble,
          "stagecache.build_s" -> b.values.sum,
          "stagecache.disk_serves" -> graft.operators.StageCache.diskServes.get.toDouble)
      } else Map.empty)
}
