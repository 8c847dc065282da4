package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The composed Kafka→curate→Delta micro-batch body — SURVEY §3.1 step 3
  * ("Transform") made concrete and MEASURED, not just available: what a
  * training-data ingest daemon runs between decode and commit.
  *
  * Per micro-batch, in order:
  *   1. quality gate — length + alpha-ratio floors (the cheap map-only
  *      filters that drop most junk before anything expensive runs);
  *   2. content hash — md5 of the RAW text (dedup identity is the
  *      original content, never the masked rendering);
  *   3. in-batch exact dedup — keep-min doc_id per hash via a window
  *      (deterministic winner, no dropDuplicates nondeterminism);
  *   4. cross-corpus exact dedup — left-anti join against the hashes
  *      already committed: first-write-wins across batches, so the
  *      corpus stays exactly-deduped forever at per-batch cost. The
  *      probe reads ONE narrow column of the curated table
  *      (column-pruned parquet scan of `h`) and the batch side is
  *      micro-batch-sized, so Catalyst broadcasts it — O(corpus bytes
  *      of one column + batch), never a corpus rewrite. At larger
  *      corpus scale the same verb runs against a dedicated
  *      hash-signature table (the near-dup ingest flow in StreamingSpec
  *      does exactly that for MinHash signatures);
  *   5. PII mask — emails then digit runs, applied AFTER hashing;
  *   6. exactly-once commit — [[ExactlyOnceSink.process]] keyed on the
  *      stream's batchId: a replayed batch re-curates identical input
  *      to an identical frame and the claim no-ops.
  *
  * Throughput is measured by graft.IngestBench's docs arms (plain vs
  * curated — the delta IS the curation cost); CurationPipelineSpec
  * asserts the semantic invariants (gate, unique-hash corpus,
  * first-write-wins, masking, replay idempotence).
  */
object CurationPipeline {

  val MinChars = 64
  private val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"

  /** Quality gate: text long enough, and letters+spaces make up at
    * least half of it (integer form 2*alpha >= len — no float ratio). */
  def gate(text: Column): Column =
    (length(text) >= MinChars) &&
      (length(regexp_replace(text, "[^A-Za-z ]", "")) * 2 >= length(text))

  /** PII mask: emails first (so their digits don't half-survive as
    * `<NUM>` fragments), then digit runs — the q_llm_pii_mask patterns. */
  def mask(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailPat, "<EMAIL>"),
      "[0-9]+", "<NUM>")

  /** Near-dup (MinHash-LSH) streaming dedup stage — the incremental
    * form of q_llm_minhash_lsh, factored out of the StreamingSpec flow
    * so the spec proves the invariant and IngestBench measures the
    * cost on the SAME code. Each micro-batch: signature docs with the
    * identical portable MinHash kernel the batch query uses,
    * candidate-join (band, bkey) against the committed SIGNATURE table,
    * verify exact hashed-shingle Jaccard >= 0.5, drop near-dups
    * (conservative greedy: any doc matching a smaller-id batch doc or
    * ANY committed doc), append the survivors' signatures exactly-once.
    * The committed corpus stays near-dup-free forever. Cost: the
    * candidate join reads the WHOLE committed signature table every
    * batch (a scan of every band row, joined on (band, bkey)), so the
    * per-batch cost grows with the corpus, not just with the batch and
    * its candidates. */
  def nearDupBatch(batch: DataFrame, sink: ExactlyOnceSink,
      batchId: Long): Unit = {
    val bs = batch.sparkSession
    def hinter(a: Column, b: Column) =
      graft.functions.SortedIntersectSize.sortedIntersectSize(bs, a, b)
    val bands = graft.queries.TextOps.signatures(bs, batch.select("doc_id", "text"))
      .select(col("doc_id"), col("hs"), col("sz"),
        explode(graft.queries.TextOps.bandKeys).as("bk"))
      .select(col("doc_id"), col("hs"), col("sz"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"))
      .persist()
    def verified(cand: DataFrame) = cand
      .filter(hinter(col("hs_a"), col("hs_b")) * 3 >= col("sz_a") + col("sz_b"))
      .select(col("da")).distinct()
    val inBatch = verified(bands.alias("a").join(bands.alias("b"),
      col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey")
        && col("b.doc_id") < col("a.doc_id"))
      .select(col("a.doc_id").as("da"), col("a.hs").as("hs_a"),
        col("a.sz").as("sz_a"), col("b.hs").as("hs_b"), col("b.sz").as("sz_b"))
      .distinct())
    val committed = sink.read(bs)
    val vsCommitted =
      if (committed.columns.isEmpty)
        bs.emptyDataFrame.withColumn("da", lit(0L)).limit(0).select("da")
      else verified(bands.alias("a").join(
        committed.select(col("band"), col("bkey"),
          col("hs").as("hs_b"), col("sz").as("sz_b")),
        Seq("band", "bkey"))
        .select(col("doc_id").as("da"), col("hs").as("hs_a"),
          col("sz").as("sz_a"), col("hs_b"), col("sz_b"))
        .distinct())
    val dropped = inBatch.union(vsCommitted).distinct()
    val survivors = bands.join(dropped,
      bands("doc_id") === dropped("da"), "left_anti")
      .select("doc_id", "band", "bkey", "hs", "sz")
    sink.process(survivors, batchId)
    bands.unpersist(blocking = false)
  }

  /** One curated micro-batch (stages 1-6 above). `batch` must carry
    * doc_id + text (extra metadata columns ride along untouched). The
    * exact-dedup anti-join reads the corpus's whole `h` column every
    * batch, so its cost grows with the corpus. */
  def curateBatch(batch: DataFrame, sink: ExactlyOnceSink,
      batchId: Long): Unit = {
    val s = batch.sparkSession
    val gated = batch.filter(gate(col("text")))
      .withColumn("h", md5(col("text")))
    val w = Window.partitionBy("h").orderBy("doc_id")
    val firsts = gated.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val committed = sink.read(s)
    val fresh =
      if (committed.columns.isEmpty) firsts
      else firsts.join(committed.select(col("h").as("__ch")).distinct(),
        firsts("h") === col("__ch"), "left_anti").drop("__ch")
    sink.process(fresh.withColumn("text", mask(col("text"))), batchId)
  }
}
