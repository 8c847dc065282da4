package graft.queries

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.{QueryFn, Tables}
import graft.streaming.ExactlyOnceSink

/** SURVEY.md §2.1 read-path bench twin for the z-order clustered sink
  * (snk_delta row): q_sink_zorder_skip commits the events table through
  * `commitAppend(clusterBy = user_id, value)` once per (JVM, sfDir), then
  * answers a two-column range query through the conjunctive stat-skipped
  * read ([[ExactlyOnceSink.readSkippingAll]]).
  *
  * Why this is a query and not just a StreamingSpec test: the z-order +
  * skipping machinery existed since round 7 but was never MEASURED under
  * the bench, so its cost/benefit at sf0.1 was a claim, not a number
  * (VERDICT r10 #5). As a declared query it gets a per-round latency line
  * AND a DuckDB oracle — skipping is conservative (a file is dropped only
  * when its [min,max] provably misses the range) and the real predicate is
  * re-applied after pruning, so the result is exactly the full-scan
  * answer and hash-checks against `events` directly.
  *
  * 100 TB shape: the table build is one-time write amplification (sketch
  * pass + range shuffle); every subsequent two-column range query touches
  * only the files whose Morton range intersects the predicate box —
  * that's the product of the per-column survival fractions, the whole
  * point of z-ordering over single-column sort (SinkOpsSpec asserts the
  * conjunction prunes strictly harder than either column alone).
  */
object SinkOps {

  /** Predicate box (mirrored verbatim in the oracle): users 4-9 x a
    * mid-range value band — ~140 matching rows at EVERY fixture SF
    * (0.14% of rows at sf0.1), so the query is non-empty from sf0.001's
    * 15-user domain up while staying selective where pruning matters.
    * user_id bounds are LONGS: a double literal against the long column
    * would wrap it in a cast and block parquet filter pushdown on the
    * surviving files (PlanSpec asserts both residuals reach the scan). */
  private val UserLo = 4L
  private val UserHi = 9L
  private val ValLo = 50.0
  private val ValHi = 200.0

  /** One clustered committed table per (JVM, sfDir), built lazily under
    * java.io.tmpdir and reused across the bench's warm-up + timed runs.
    * A marker file records the fixture row count, so a driver-side
    * fixture refresh (different count) forces a rebuild instead of
    * silently serving stale data; same-count same-seed fixtures reuse.
    * Synchronized: the bench's concurrent pass must not race two builds
    * of the same table (commitAppend itself is multi-writer safe, but a
    * double build would duplicate rows). */
  private val built = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The shared build-once discipline every cached sink table uses:
    * content fingerprint of the fixture (count + id-sum + cent-exact
    * value sum) so a driver-side refresh forces a rebuild instead of
    * silently serving stale data; on-disk dir keyed by fixture basename
    * PLUS an MD5 tag of the full path (two fixtures sharing a basename
    * must not alias one cached table); a marker recording the exact
    * build recipe; and an exclusive cross-process flock so a second
    * JVM's delete-walk can never interleave with another's read of a
    * half-built table. `build(ev, dir)` runs only when the marker is
    * stale; sibling dirs a build creates (the clone's source table) are
    * wiped through `alsoWipe`. */
  private def buildOnce(
      cache: java.util.concurrent.ConcurrentHashMap[String, String],
      s: SparkSession, d: String, prefix: String, proto: String,
      alsoWipe: Path => Seq[Path] = _ => Nil)(
      build: (org.apache.spark.sql.DataFrame, Path) => Unit): ExactlyOnceSink =
    new ExactlyOnceSink(cache.computeIfAbsent(d, _ => synchronized {
      val ev = Tables(s, d, "events")
      val fp = ev.agg(count(lit(1)), sum(col("event_id")),
        sum(floor(col("value") * 100 + 0.5))).head()
      val pathTag = java.security.MessageDigest.getInstance("MD5")
        .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      val dir = Paths.get(sys.props("java.io.tmpdir"),
        s"$prefix-${new java.io.File(d).getName}-$pathTag")
      val marker = dir.resolve("_graft_built")
      val want = s"$d fp=${fp.mkString(",")} $proto"
      Files.createDirectories(dir.getParent)
      val lockCh = java.nio.channels.FileChannel.open(
        dir.getParent.resolve(s".${dir.getFileName}.lock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      val lock = lockCh.lock()
      try {
        val fresh = Files.exists(marker) &&
          new String(Files.readAllBytes(marker)) == want
        if (fresh) graft.operators.StageCache.diskServes.incrementAndGet()
        if (!fresh) {
          import scala.jdk.CollectionConverters._
          (dir +: alsoWipe(dir)).filter(Files.exists(_)).foreach { pth =>
            val st = Files.walk(pth)
            try st.iterator().asScala.toSeq.reverse.foreach(Files.delete)
            finally st.close()
          }
          Files.createDirectories(dir)
          build(ev, dir)
          Files.write(marker, want.getBytes)
        }
      } finally { lock.release(); lockCh.close() }
      dir.toString
    }))

  private def clusteredEvents(s: SparkSession, d: String): ExactlyOnceSink =
    buildOnce(built, s, d, "graft-zorder",
        "clusterBy=user_id,value files=16") { (ev, dir) =>
      new ExactlyOnceSink(dir.toString).commitAppend(ev,
        clusterBy = Seq("user_id", "value"), clusterFiles = 16)
    }

  /** The merged-table build recipe for q_sink_merge_read, mirrored
    * verbatim in its oracle: seed with the ODD half of events, then two
    * stacked whole-row MERGE upserts (the multiples-of-3 correction,
    * which both updates odd multiples and inserts even ones; then the
    * user-[[MergeUser]] correction, which REPLACES whatever the first
    * merge left for that user — last-writer-wins precedence is exactly
    * what the CASE order in the oracle encodes), and finally a
    * copy-on-write DELETE against the post-merge value. Every verb's
    * effect lands in the oracle gate, not just in StreamingSpec. */
  private val MergeUser = 5L
  private val MergeDelCut = 10.0

  private val builtMerge = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def mergedEvents(s: SparkSession, d: String): ExactlyOnceSink =
    buildOnce(builtMerge, s, d, "graft-mergeread",
        s"proto=oddseed,merge(id%3),merge(user=$MergeUser),del(v<$MergeDelCut)") {
      (ev, dir) =>
        val sink = new ExactlyOnceSink(dir.toString)
        sink.commitAppend(ev.filter(col("event_id") % 2 === 1))
        sink.merge(s, ev.filter(col("event_id") % 3 === 0)
          .withColumn("value", col("value") + 1000.0), Seq("event_id"))
        sink.merge(s, ev.filter(col("user_id") === MergeUser)
          .withColumn("value", col("value") * 2.0), Seq("event_id"))
        sink.delete(s, col("value") < MergeDelCut)
    }

  /** Full-clause MERGE recipe for q_sink_merge_full_read, mirrored
    * verbatim in its oracle: seed with event_id % 5 != 0, then ONE
    * mergeFull whose source is the multiples-of-4 slice at value+500 —
    * matched user-[[MfDelUser]] rows are DELETED instead of updated
    * (their source rows are consumed, not inserted), rows ABSENT from
    * the source belonging to user [[MfSyncUser]] are retired by the
    * not-matched-by-source DELETE (the full-sync clause), every other
    * matched row takes the +500 update, and id%5==0 multiples of 4
    * insert fresh. All four clause outcomes land in the oracle gate. */
  private val MfDelUser = 7L
  private val MfSyncUser = 2L

  private val builtMergeFull = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def mergeFullEvents(s: SparkSession, d: String): ExactlyOnceSink =
    buildOnce(builtMergeFull, s, d, "graft-mergefull",
        s"proto=seed(id%5!=0),mf(id%4==0,+500,mdel(u=$MfDelUser),sdel(u=$MfSyncUser))") {
      (ev, dir) =>
        val sink = new ExactlyOnceSink(dir.toString)
        sink.commitAppend(ev.filter(col("event_id") % 5 =!= 0))
        sink.mergeFull(s,
          ev.filter(col("event_id") % 4 === 0)
            .withColumn("value", col("value") + 500.0),
          Seq("event_id"),
          matchedDelete = Some(col("user_id") === MfDelUser),
          notMatchedBySourceDelete = Some(col("user_id") === MfSyncUser))
    }

  /** Merge-on-read predicates for q_sink_dv_read, mirrored verbatim in
    * the oracle: user 3's rows and the high-value tail both exist at
    * every fixture SF (15+ users; value tops ~330 at sf0.001), so both
    * deletes bite everywhere. */
  private val DvUser = 3L
  private val DvValCut = 250.0

  /** One merge-on-read committed table per (JVM, sfDir): `events` in 4
    * chunked appends (several files so the deletes produce per-file
    * vectors, not whole-file removes), two stacked DV deletes (the
    * second unions into existing vectors), then an incremental OPTIMIZE
    * that bin-packs the survivors and materializes the vectors away.
    * The declared query reads the result — so chunked-append
    * completeness, DV subtraction, vector union, AND packing
    * equivalence are all hash-checked against DuckDB on the raw
    * fixture, not just spec-asserted. Cache discipline identical to
    * [[clusteredEvents]] (content fingerprint + cross-process flock). */
  private val builtDv = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def dvEvents(s: SparkSession, d: String): ExactlyOnceSink =
    buildOnce(builtDv, s, d, "graft-dvread",
        s"proto=4xappend,dv(user=$DvUser),dv(value>$DvValCut),compactSmall") {
      (ev, dir) =>
        val sink = new ExactlyOnceSink(dir.toString)
        (0 until 4).foreach { k =>
          sink.commitAppend(ev.filter(pmod(col("event_id"), lit(4)) === k))
        }
        sink.deleteDV(s, col("user_id") === DvUser)
        sink.deleteDV(s, col("value") > DvValCut)
        sink.compactSmall(s, targetBytes = 32L << 20)
    }

  /** Bloom-probe target user (mirrored in the oracle): user 7 exists at
    * every fixture SF (15+ users). */
  private val BloomUser = 7L

  /** One bloom-indexed committed table per (JVM, sfDir): `events` in 16
    * user-striped appends (`user_id % 16` — every file's [min,max] user
    * range spans nearly the whole domain, so RANGE stats cannot prune
    * a user probe) with `bloomBy=user_id` recording a ~1 KB per-file
    * bloom in the log, THEN a ~4:1 incremental OPTIMIZE pass — the
    * served table is post-compaction, so the per-round oracle gate
    * also proves blooms survive packing (round 16: compactSmall
    * recomputes blooms for its output from the recorded `graft.bloom`
    * policy; before that, an auto-compacting streaming table silently
    * lost its point-probe pruning). The probe still prunes ~3/4 of the
    * packed files where stats prune none. Cache discipline identical
    * to [[clusteredEvents]]. */
  private val builtBloom = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def bloomEvents(s: SparkSession, d: String): ExactlyOnceSink =
    buildOnce(builtBloom, s, d, "graft-bloom",
        "proto=16xuserstripe,bloom(user_id),compact4") { (ev, dir) =>
      val sink = new ExactlyOnceSink(dir.toString)
      (0 until 16).foreach { k =>
        sink.commitAppend(
          ev.filter(pmod(col("user_id"), lit(16)) === k).coalesce(1),
          bloomBy = Seq("user_id"))
      }
      // pack ~4 stripes per output file (target = 4x the largest stripe,
      // SF-relative so every fixture scale packs the same 16 -> ~4 shape)
      val maxStripe = sink.read(s).inputFiles
        .map(f => Files.size(Paths.get(java.net.URI.create(f)))).max
      sink.compactSmall(s, targetBytes = 4L * maxStripe + 1)
    }

  /** Generated-column partition probe (mirrored in the oracle):
    * bucket 3 is non-empty at every fixture SF (15+ users mod 8). */
  private val GenBucket = 3L

  /** One generated-column committed table per (JVM, sfDir): declare
    * `bucket GENERATED ALWAYS AS (user_id % 8)` on the empty table,
    * then commit `events` in 4 chunked appends PARTITIONED BY the
    * generated column — the writer computes it (the frames never carry
    * it), every file lands under its hive `bucket=k` dir, and the read
    * recovers it from the layout. Cache discipline identical to
    * [[clusteredEvents]]. */
  private val builtGen = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def genEvents(s: SparkSession, d: String): ExactlyOnceSink =
    buildOnce(builtGen, s, d, "graft-gen",
        "proto=gen(bucket=user%8),4xappend,partitionBy") { (ev, dir) =>
      val sink = new ExactlyOnceSink(dir.toString)
      sink.setGeneratedColumn(s, "bucket", "user_id % 8")
      (0 until 4).foreach { k =>
        sink.commitAppend(ev.filter(pmod(col("event_id"), lit(4)) === k),
          partitionBy = Seq("bucket"))
      }
    }

  /** VARIANT-SHREDDING demo (round 17, the Delta 4.x shredded-JSON
    * pattern): `props` is an opaque JSON string every consumer re-parses
    * per row; a write-time GENERATED column shreds the hot field into a
    * TYPED, stats-carrying column, so queries skip files on the
    * shredded field without ever touching the JSON. Build: declare
    * k_shred = CAST(get_json_object(props,'$.k') AS INT), then four
    * clustered appends — the writer computes the column (frames never
    * carry it) and z-orders on it, so per-file [min,max] are tight and
    * readSkipping prunes. The oracle recomputes the same aggregate from
    * the RAW fixture via DuckDB json extraction — proving shred-write +
    * pruned-read end-to-end. */
  private val builtShred = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def shredEvents(s: SparkSession, d: String): ExactlyOnceSink =
    buildOnce(builtShred, s, d, "graft-shred",
        "proto=gen(k_shred=json.k),4xappend,clusterBy=k_shred") { (ev, dir) =>
      val sink = new ExactlyOnceSink(dir.toString)
      sink.setGeneratedColumn(s, "k_shred",
        "CAST(get_json_object(props, '$.k') AS INT)")
      (0 until 4).foreach { k =>
        sink.commitAppend(ev.filter(pmod(col("event_id"), lit(4)) === k),
          clusterBy = Seq("k_shred"), clusterFiles = 4)
      }
    }

  /** Clone-read predicates (mirrored in the oracle): the DV delete on
    * the CLONE drops the high-value tail; the clone-local append then
    * re-adds user 5's rows (including its high-value ones — appends
    * after a delete are untouched by earlier tombstones). Both bite at
    * every fixture SF (value tops ~330 at sf0.001; 15+ users). */
  private val CloneValCut = 280.0
  private val CloneUser = 5L

  /** One DEEP clone per (JVM, sfDir): `events` in 2 appends to a SOURCE
    * table, a DV delete on the source, [[ExactlyOnceSink.deepCloneTo]]
    * into a sibling dir — then the SOURCE TABLE IS DELETED OUTRIGHT.
    * The declared query reads the deep clone live AND at a pre-delete
    * version, so physical independence, full-history carry (time
    * travel over copied bytes), and DV subtraction all hash-check
    * against DuckDB on the raw fixture with the source gone — the
    * strongest end-to-end form of the verb's contract. Cache
    * discipline identical to [[clusteredEvents]]. */
  private val builtDeep = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def deepCloneEvents(s: SparkSession, d: String): ExactlyOnceSink =
    buildOnce(builtDeep, s, d, "graft-deepclone",
        s"proto=2xappend,dv(value>$CloneValCut),deepclone,src-deleted fmt=rows1",
        alsoWipe = dir => Seq(dir.resolveSibling(dir.getFileName.toString + "-src"))) {
      (ev, dir) =>
        val srcDir = dir.resolveSibling(dir.getFileName.toString + "-src")
        Files.createDirectories(srcDir)
        val src = new ExactlyOnceSink(srcDir.toString)
        (0 until 2).foreach { k =>
          src.commitAppend(ev.filter(pmod(col("event_id"), lit(2)) === k))
        }
        src.deleteDV(s, col("value") > CloneValCut)
        src.deepCloneTo(dir.toString)
        // the verb's whole point: the source can vanish afterwards
        val st = Files.walk(srcDir)
        try {
          import scala.jdk.CollectionConverters._
          st.iterator().asScala.toSeq.reverse.foreach(Files.delete)
        } finally st.close()
    }

  /** One (source, shallow clone) pair per (JVM, sfDir): `events` in 2
    * appends committed to a SOURCE table, [[ExactlyOnceSink.cloneTo]]
    * into a sibling dir, then two divergent writes ON THE CLONE — a
    * deletion-vector delete that tombstones FOREIGN files (they
    * physically live in the source's data root; the clone's log
    * references them by absolute path) and a clone-local append. The
    * declared query reads the clone, so zero-copy cloning, the
    * absolute-path file-key branch, cross-root DV subtraction, and
    * post-clone divergence are all hash-checked against DuckDB on the
    * raw fixture. Cache discipline identical to [[clusteredEvents]]. */
  private val builtClone = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def cloneEvents(s: SparkSession, d: String): ExactlyOnceSink =
    buildOnce(builtClone, s, d, "graft-clone",
        s"proto=2xappend,clone,dv(value>$CloneValCut)," +
          s"append(user=$CloneUser) fmt=rows2",
        alsoWipe = dir => Seq(dir.resolveSibling(dir.getFileName.toString + "-src"))) {
      (ev, dir) =>
        val srcDir = dir.resolveSibling(dir.getFileName.toString + "-src")
        Files.createDirectories(srcDir)
        val src = new ExactlyOnceSink(srcDir.toString)
        (0 until 2).foreach { k =>
          src.commitAppend(ev.filter(pmod(col("event_id"), lit(2)) === k))
        }
        src.cloneTo(dir.toString)
        val clone = new ExactlyOnceSink(dir.toString)
        clone.deleteDV(s, col("value") > CloneValCut)
        clone.commitAppend(ev.filter(col("user_id") === CloneUser))
    }

  /** One identity-column committed table per (JVM, sfDir): declare
    * `rid GENERATED ALWAYS AS IDENTITY`, then ingest `events` in 2
    * streaming micro-batches through [[ExactlyOnceSink.appendBatch]]
    * (the metadata commit takes version 0, so the batches land at
    * versions 1-2; the streamTxn cursor, not the version, records
    * which batches are in). The
    * declared query reads the table and pins the assignment's
    * INVARIANTS — count, distinct count, min, max, sum of the assigned
    * ids — which for a contiguous 1..N assignment are all pure
    * functions of N and therefore DuckDB-expressible over the raw
    * fixture: uniqueness, contiguity and range all land in the
    * per-round correctness gate. Cache discipline identical to
    * [[clusteredEvents]]. */
  private val builtId = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def identityEvents(s: SparkSession, d: String): ExactlyOnceSink =
    buildOnce(builtId, s, d, "graft-identity",
        "proto=identity(rid),2xappendBatch fmt=rows1") { (ev, dir) =>
      val sink = new ExactlyOnceSink(dir.toString)
      sink.setIdentityColumn(s, "rid")
      (0 until 2).foreach { k =>
        sink.appendBatch(
          ev.filter(pmod(col("event_id"), lit(2)) === k), batchId = k)
      }
    }

  /** The type-widening table's build recipe (mirrored verbatim in the
    * oracle): seed the EVEN event ids with an INT cents column, then a
    * WIDENING append of the odd ids as LONG cents offset +3e9 (values a
    * 32-bit column cannot hold — so the widen is semantically load-
    * bearing, not just a metadata flip; the commit declares the
    * `typeWidening` reader feature), then a NARROW int append of the
    * %97 ids (the upcast-at-write path: the staged file carries long).
    * The read must coerce the mixed-width live files to the widened
    * type and aggregate exactly. */
  private val builtWiden = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def widenedEvents(s: SparkSession, d: String): ExactlyOnceSink =
    buildOnce(builtWiden, s, d, "graft-widenread",
        "proto=evenIntSeed,widenOdd+3e9,narrow%97+7") { (ev, dir) =>
      val sink = new ExactlyOnceSink(dir.toString)
      val cents = Det.cents(col("value"), 2) // LongType, int-range values
      sink.commitAppend(ev.filter(col("event_id") % 2 === 0)
        .select(col("event_id").cast("long").as("id"),
          cents.cast("int").as("c")))
      sink.commitAppend(ev.filter(col("event_id") % 2 === 1)
        .select(col("event_id").cast("long").as("id"),
          (cents + lit(3000000000L)).as("c")), mergeSchema = true)
      sink.commitAppend(ev.filter(col("event_id") % 97 === 0)
        .select((col("event_id") + lit(100000000L)).as("id"),
          (cents + lit(7)).cast("int").as("c")))
    }

  private val builtRowId = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The row-tracking table build for q_sink_rowid_read, mirrored
    * arithmetically in its oracle. Every step is order-pinned so the
    * VIRTUAL id rule (file baseRowId + row position) is reproducible in
    * SQL, and every rewrite exercises MATERIALIZATION:
    *
    *   v0 enable; v1 append eid%3==0 (one file, event_id order →
    *   ids 0..n1-1, rcv 1); v2 append eid%3==1 (ids n1.., rcv 2);
    *   v3 DV-delete eid%7==0 (vector tier forced — no rewrite, no id
    *   burn); v4 compactSmall (materializes every survivor's id+rcv;
    *   its add burns a block of `live` ids); v5 mergeDV updating
    *   eid%5==0 — updated rows keep their id (MATERIALIZED into the
    *   appended file, so no intra-file-order assumption) with rcv 5;
    *   v6 a fresh append (surviving eid%11==0, shifted +1e9) whose
    *   virtual ids start at the post-merge watermark.
    *
    * The oracle recomputes ids/rcvs from row_numbers and counts over
    * the raw fixture — the whole id-lineage contract (allocation,
    * watermark burn under two rewrites, materialized survival, update
    * lineage, fresh allocation above burned blocks) lands in the
    * DuckDB hash gate, not just RowTrackingSpec. */
  private def rowTrackedEvents(s: SparkSession, d: String): ExactlyOnceSink =
    buildOnce(builtRowId, s, d, "graft-rowid",
        "enable;a1=%3:0;a2=%3:1;dv=%7;compact;merge upd=%5;app ins=%11+1e9") {
      (ev, dir) =>
      val sink = new ExactlyOnceSink(dir.toString)
      sink.enableRowTracking(s)
      val base = ev.select(col("event_id"), col("user_id"))
      def oneFile(df: org.apache.spark.sql.DataFrame) =
        df.repartition(1).sortWithinPartitions("event_id")
      sink.commitAppend(oneFile(base.filter(col("event_id") % 3 === 0)))
      sink.commitAppend(oneFile(base.filter(col("event_id") % 3 === 1)))
      sink.deleteDV(s, col("event_id") % 7 === 0, dvMaxRows = Int.MaxValue)
      sink.compactSmall(s, minFiles = 2)
      val live = sink.read(s).select(col("event_id"), col("user_id"))
      val upd = live.filter(col("event_id") % 5 === 0)
        .select(col("event_id"), (col("user_id") + 1000).as("user_id"))
      sink.mergeDV(s, upd, Seq("event_id"), dvMaxRows = Int.MaxValue)
      val ins = live.filter(col("event_id") % 11 === 0)
        .select((col("event_id") + 1000000000L).as("event_id"),
          col("user_id"))
      sink.commitAppend(oneFile(ins))
    }

  val queries: Map[String, QueryFn] = Map(
    // Read the row-tracked table: stable `_row_id` / `_row_commit_version`
    // per surviving row after append → DV delete → OPTIMIZE
    // (materialization) → MERGE (update lineage + fresh-insert
    // allocation) must equal the oracle's arithmetic reconstruction —
    // the Delta row-tracking analog, hash-checked per row.
    "q_sink_rowid_read" -> ((s, d) => {
      rowTrackedEvents(s, d).readWithRowIds(s)
        .select(col("event_id"), col("_row_id").as("row_id"),
          col("_row_commit_version").as("row_commit_version"))
        .orderBy("event_id")
    }),
    // Aggregate over the type-widened committed table: live files mix
    // int32 and int64 encodings of one column, the read coerces them to
    // the widened (declared) type, and count/sum/min/max must equal
    // DuckDB recomputing the same arithmetic over the raw fixture — the
    // widening lands in the per-round oracle gate, not just
    // TypeWideningSpec.
    "q_sink_widen_read" -> ((s, d) => {
      widenedEvents(s, d).read(s)
        .agg(count(lit(1)).as("n"),
          sum(col("c")).cast("double").as("c_sum"),
          min(col("c")).as("c_min"),
          max(col("c")).as("c_max"))
    }),

    // Two-column range aggregate over the clustered committed table: file
    // pruning via footer stats on BOTH z-ordered columns, then the exact
    // predicate, then the usual deterministic money aggregate.
    "q_sink_zorder_skip" -> ((s, d) => {
      val sink = clusteredEvents(s, d)
      val pruned = sink.readSkippingAll(s,
        Seq(("user_id", UserLo.toDouble, UserHi.toDouble),
          ("value", ValLo, ValHi)))
      // all-files-pruned returns a schemaless emptyDataFrame; substitute
      // a zero-row relation WITH the events schema so the query still
      // answers (empty) instead of failing analysis — a regenerated
      // fixture whose domain misses the box entirely must mean an empty
      // oracle result, not a crash
      val src = if (pruned.columns.isEmpty)
        graft.Tables(s, d, "events").filter(lit(false)) else pruned
      src
        .filter(col("user_id").between(UserLo, UserHi) &&
          col("value").between(ValLo, ValHi))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), Det.sumMoney(col("value")).as("val_sum"))
        .orderBy("event_type")
    }),

    // Read the merged table: two stacked whole-row MERGE upserts (with
    // update/insert splits and last-writer-wins overlap) plus a
    // copy-on-write DELETE over the post-merge state must equal the
    // CASE-reconstruction over the raw fixture — the batch MERGE verb's
    // full semantics land in the oracle gate.
    "q_sink_merge_read" -> ((s, d) => {
      mergedEvents(s, d).read(s)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), Det.sumMoney(col("value")).as("val_sum"))
        .orderBy("event_type")
    }),

    // Read the full-clause-merged table: one mergeFull exercising all
    // FOUR clause outcomes (matched-delete, matched-update, insert,
    // not-matched-by-source delete) must equal the CASE/WHERE
    // reconstruction over the raw fixture — the complete Delta MERGE
    // surface lands in the oracle gate, not just in a unit test.
    "q_sink_merge_full_read" -> ((s, d) => {
      mergeFullEvents(s, d).read(s)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), Det.sumMoney(col("value")).as("val_sum"))
        .orderBy("event_type")
    }),

    // Read the merge-on-read table: what survives two stacked DV deletes
    // plus an incremental OPTIMIZE must equal a plain WHERE over the raw
    // fixture — deletion vectors and bin-packing are physically invisible.
    "q_sink_dv_read" -> ((s, d) => {
      dvEvents(s, d).read(s)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), Det.sumMoney(col("value")).as("val_sum"))
        .orderBy("event_type")
    }),

    // Time travel on the same table: versionAsOf=1 must see exactly the
    // first two chunked appends — untouched by the later DV deletes and
    // the incremental OPTIMIZE that retired those very files. The oracle
    // reconstructs the chunk predicate over the raw fixture, so
    // version-scoped visibility (including tombstone folding stopping at
    // the target version) is hash-checked, not just spec-asserted.
    "q_sink_timetravel" -> ((s, d) => {
      dvEvents(s, d).read(s, versionAsOf = Some(1L))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), Det.sumMoney(col("value")).as("val_sum"))
        .orderBy("event_type")
    }),

    // The CDC feed over the two DV-delete commits (versions 4 and 5):
    // each contributes exactly the rows IT deleted — the second delete's
    // change set excludes rows the first already removed, and the
    // trailing incremental OPTIMIZE (a physical rewrite) contributes
    // nothing. Aggregated per (change, version, type) so the oracle is a
    // plain UNION ALL over the raw fixture.
    "q_sink_cdc_read" -> ((s, d) => {
      dvEvents(s, d).readChanges(s, fromVersion = 3L)
        .groupBy(col("_change_type"), col("batch"), col("event_type"))
        .agg(count(lit(1)).as("n"), Det.sumMoney(col("value")).as("val_sum"))
        .orderBy("batch", "event_type")
    }),

    // Bloom point probe on the user-striped, then OPTIMIZE-packed
    // table: every packed file's user RANGE spans the domain (stats
    // prune nothing) but its recomputed bloom holds only its stripes'
    // users, so ~3/4 of the packed files drop at the metadata layer.
    // Pruning is conservative and the exact predicate re-applies, so
    // the result equals the full scan — DuckDB-checked.
    "q_sink_bloom_lookup" -> ((s, d) => {
      val pruned = bloomEvents(s, d).readLookup(s, "user_id", BloomUser.toString)
      val src = if (pruned.columns.isEmpty)
        graft.Tables(s, d, "events").filter(lit(false)) else pruned
      src.filter(col("user_id") === BloomUser)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), Det.sumMoney(col("value")).as("val_sum"))
        .orderBy("event_type")
    }),

    // Read the DEEP clone with its source deleted outright: the live
    // state (post-DV-delete) and a pre-delete version are BOTH served
    // entirely from the clone's copied bytes — physical independence
    // and full-history carry, DuckDB-checked on the raw fixture.
    "q_sink_deepclone_read" -> ((s, d) => {
      val t = deepCloneEvents(s, d)
      def agg(df: org.apache.spark.sql.DataFrame, at: String) =
        df.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), Det.sumMoney(col("value")).as("val_sum"))
          .withColumn("at", lit(at))
      agg(t.read(s), "live")
        .unionByName(agg(t.read(s, versionAsOf = Some(1L)), "v1"))
        .orderBy("at", "event_type")
    }),

    // Read the shallow clone after divergent writes: the result must
    // equal (source minus the clone's DV-deleted tail) plus the
    // clone-local append — with the deleted rows living in FOREIGN files
    // the clone references by absolute path and never copied. Zero-copy
    // reference, cross-root tombstone subtraction, and divergence are
    // all physically invisible to the reader — DuckDB-checked.
    "q_sink_clone_read" -> ((s, d) => {
      cloneEvents(s, d).read(s)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), Det.sumMoney(col("value")).as("val_sum"))
        .orderBy("event_type")
    }),

    // Read the identity-column table: a contiguous 1..N assignment makes
    // every aggregate of the assigned ids a pure function of N, so
    // uniqueness (distinct = count), contiguity (sum = N(N+1)/2) and
    // range (min 1, max N) hash-check against DuckDB on the raw fixture.
    "q_sink_identity_read" -> ((s, d) => {
      identityEvents(s, d).read(s)
        .agg(count(lit(1)).as("n"),
          countDistinct(col("rid")).as("rid_n"),
          min(col("rid")).as("rid_min"),
          max(col("rid")).as("rid_max"),
          sum(col("rid")).as("rid_sum"))
    }),

    // The METADATA-ONLY answer path: count from the log's per-add row
    // counts (rowCount), ranges from the folded per-file footer stats
    // (columnStats) — no scan planned, the 100 TB "answer from the
    // driver in milliseconds" path — hash-checked against DuckDB
    // actually scanning the raw fixture. Reuses the identity table
    // (append-only, so stats may answer exactly).
    "q_sink_meta_stats" -> ((s, d) => {
      val sink = identityEvents(s, d)
      val n = sink.rowCount(s)
      val (idLo, idHi) = sink.columnStats("event_id")
        .getOrElse(sys.error("metadata stats unavailable for event_id"))
      val (vLo, vHi) = sink.columnStats("value")
        .getOrElse(sys.error("metadata stats unavailable for value"))
      import s.implicits._
      Seq((n, idLo.toLong, idHi.toLong, vLo.toDouble, vHi.toDouble))
        .toDF("n", "id_min", "id_max", "val_min", "val_max")
    }),

    // Read one hive partition of the generated-column table: the writer
    // COMPUTED bucket (the appended frames never carried it), the layout
    // recovered it, and the result must equal deriving the same
    // expression over the raw fixture — generation correctness lands in
    // the oracle gate, not just GeneratedColumnSpec.
    "q_sink_gen_read" -> ((s, d) => {
      genEvents(s, d).read(s)
        .filter(col("bucket") === GenBucket)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), Det.sumMoney(col("value")).as("val_sum"))
        .orderBy("event_type")
    }),

    // VARIANT shredding (shredEvents doc): the scan is FILE-PRUNED on
    // the shredded typed column's recorded stats (readSkipping), then
    // the residual predicate applies — props itself is never parsed at
    // read time
    "q_sink_shred_read" -> ((s, d) => {
      shredEvents(s, d).readSkipping(s, "k_shred", 0, 9)
        .filter(col("k_shred").between(0, 9))
        .groupBy(col("k_shred"))
        .agg(count(lit(1)).as("n"), Det.sumMoney(col("value")).as("val_sum"))
        .orderBy("k_shred")
    })
  )

  val oracles: Map[String, String] = Map(
    // arithmetic reconstruction of the row-id lineage (build recipe in
    // rowTrackedEvents): append order gives virtual ids, the DV delete
    // removes rows without moving ids, the compaction and the merge
    // each burn a block of ids for their rewritten/appended add, merge
    // updates keep their id with the merge commit (v5) as the new
    // version, and the final append allocates above both burned blocks
    "q_sink_rowid_read" ->
      """WITH a1 AS (
           SELECT event_id, row_number() OVER (ORDER BY event_id) - 1 AS rid
           FROM events WHERE event_id % 3 = 0
         ), a2 AS (
           SELECT event_id,
                  (SELECT count(*) FROM a1)
                    + row_number() OVER (ORDER BY event_id) - 1 AS rid
           FROM events WHERE event_id % 3 = 1
         ), base AS (
           SELECT event_id, rid, 1 AS rcv FROM a1
           UNION ALL SELECT event_id, rid, 2 AS rcv FROM a2
         ), live AS (
           SELECT * FROM base WHERE event_id % 7 <> 0
         ), wm5 AS (
           -- post-merge watermark: every base id, plus the compaction
           -- add's burned block (|live|), plus the merge add's (|upd|)
           SELECT (SELECT count(*) FROM base)
                    + (SELECT count(*) FROM live)
                    + (SELECT count(*) FROM live WHERE event_id % 5 = 0) AS w
         ), final AS (
           SELECT l.event_id, l.rid AS row_id,
                  CASE WHEN l.event_id % 5 = 0 THEN 5 ELSE l.rcv END AS v
           FROM live l
           UNION ALL
           SELECT l.event_id + 1000000000 AS event_id,
                  (SELECT w FROM wm5)
                    + row_number() OVER (ORDER BY l.event_id) - 1 AS row_id,
                  6 AS v
           FROM live l WHERE l.event_id % 11 = 0
         )
         SELECT event_id, CAST(row_id AS BIGINT) AS row_id,
                CAST(v AS BIGINT) AS row_commit_version
         FROM final ORDER BY event_id""",
    "q_sink_widen_read" ->
      """WITH src AS (
           SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c, event_id
           FROM events
         ), u AS (
           SELECT c FROM src WHERE event_id % 2 = 0
           UNION ALL SELECT c + 3000000000 FROM src WHERE event_id % 2 = 1
           UNION ALL SELECT c + 7 FROM src WHERE event_id % 97 = 0
         )
         SELECT count(*) AS n, CAST(sum(c) AS DOUBLE) AS c_sum,
                min(c) AS c_min, max(c) AS c_max
         FROM u""",
    "q_sink_merge_read" ->
      s"""WITH st AS (
            SELECT event_type,
                   CASE WHEN user_id = $MergeUser THEN value * 2
                        WHEN event_id % 3 = 0 THEN value + 1000
                        ELSE value END AS value
            FROM events
            WHERE event_id % 2 = 1 OR event_id % 3 = 0 OR user_id = $MergeUser)
          SELECT event_type, count(*) AS n,
                 CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS val_sum
          FROM st
          WHERE NOT (value < $MergeDelCut)
          GROUP BY event_type ORDER BY event_type""",
    "q_sink_merge_full_read" ->
      s"""WITH st AS (
            SELECT event_type,
                   CASE WHEN event_id % 4 = 0 THEN value + 500.0
                        ELSE value END AS value
            FROM events
            WHERE CASE
                    -- seeded + matched: deleted iff the matched-delete user
                    WHEN event_id % 5 <> 0 AND event_id % 4 = 0
                      THEN user_id <> $MfDelUser
                    -- seeded + not matched by source: full-sync retire
                    WHEN event_id % 5 <> 0
                      THEN user_id <> $MfSyncUser
                    -- unseeded rows exist only as fresh inserts (id%4=0)
                    ELSE event_id % 4 = 0
                  END)
          SELECT event_type, count(*) AS n,
                 CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS val_sum
          FROM st GROUP BY event_type ORDER BY event_type""",
    "q_sink_zorder_skip" ->
      s"""SELECT event_type, count(*) AS n,
                 CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS val_sum
          FROM events
          WHERE user_id BETWEEN $UserLo AND $UserHi
            AND value BETWEEN $ValLo AND $ValHi
          GROUP BY event_type ORDER BY event_type""",
    "q_sink_dv_read" ->
      s"""SELECT event_type, count(*) AS n,
                 CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS val_sum
          FROM events
          WHERE NOT (user_id = $DvUser) AND NOT (value > $DvValCut)
          GROUP BY event_type ORDER BY event_type""",
    "q_sink_timetravel" ->
      s"""SELECT event_type, count(*) AS n,
                 CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS val_sum
          FROM events
          WHERE event_id % 4 IN (0, 1)
          GROUP BY event_type ORDER BY event_type""",
    "q_sink_cdc_read" ->
      s"""SELECT _change_type, batch, event_type, count(*) AS n,
                 CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS val_sum
          FROM (
            SELECT 'delete' AS _change_type, CAST(4 AS INTEGER) AS batch,
                   event_type, value
            FROM events WHERE user_id = $DvUser
            UNION ALL
            SELECT 'delete', CAST(5 AS INTEGER), event_type, value
            FROM events WHERE NOT (user_id = $DvUser) AND value > $DvValCut
          )
          GROUP BY _change_type, batch, event_type
          ORDER BY batch, event_type""",
    "q_sink_bloom_lookup" ->
      s"""SELECT event_type, count(*) AS n,
                 CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS val_sum
          FROM events
          WHERE user_id = $BloomUser
          GROUP BY event_type ORDER BY event_type""",
    "q_sink_clone_read" ->
      s"""SELECT event_type, count(*) AS n,
                 CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS val_sum
          FROM (
            SELECT event_type, value FROM events WHERE NOT (value > $CloneValCut)
            UNION ALL
            SELECT event_type, value FROM events WHERE user_id = $CloneUser
          )
          GROUP BY event_type ORDER BY event_type""",
    "q_sink_deepclone_read" ->
      s"""SELECT 'live' AS at, event_type, count(*) AS n,
                 CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS val_sum
          FROM events WHERE NOT (value > $CloneValCut)
          GROUP BY event_type
          UNION ALL
          SELECT 'v1' AS at, event_type, count(*) AS n,
                 CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS val_sum
          FROM events
          GROUP BY event_type
          ORDER BY at, event_type""",
    "q_sink_identity_read" ->
      s"""SELECT count(*) AS n,
                 count(*) AS rid_n,
                 CAST(1 AS BIGINT) AS rid_min,
                 count(*) AS rid_max,
                 (count(*) * (count(*) + 1)) // 2 AS rid_sum
          FROM events""",
    "q_sink_meta_stats" ->
      s"""SELECT count(*) AS n,
                 min(event_id) AS id_min, max(event_id) AS id_max,
                 min(value) AS val_min, max(value) AS val_max
          FROM events""",
    "q_sink_gen_read" ->
      s"""SELECT event_type, count(*) AS n,
                 CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS val_sum
          FROM events
          WHERE user_id % 8 = $GenBucket
          GROUP BY event_type ORDER BY event_type""",
    // the shredded field recomputed from the RAW JSON fixture — DuckDB
    // never sees the typed column, only the extraction the write shred
    "q_sink_shred_read" ->
      """SELECT CAST(props->>'k' AS INT) AS k_shred, count(*) AS n,
                 CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS val_sum
          FROM events
          WHERE CAST(props->>'k' AS INT) BETWEEN 0 AND 9
          GROUP BY 1 ORDER BY 1"""
  )
}
