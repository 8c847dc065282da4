package graft.streaming

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Exactly-once, Delta-protocol-style table sink (SURVEY.md §7.3).
  *
  * The delta-spark jar is absent offline, so the Delta commit protocol's
  * essential guarantees are reproduced on public APIs:
  *
  *   table/
  *     data/batch=<id>/part-*.parquet   (streaming appends, hive layout)
  *     data/files/<uuid>/part-*.parquet (optimistic commits, unique dirs)
  *     _graft_log/<%020d version>.json  (exclusive creation = the commit)
  *
  * A batch is visible iff its log entry exists. Readers list the log,
  * not the data dir, so staged/unclaimed data is never visible.
  *
  * Two writer protocols, matching Delta's:
  *
  *  1. **Streaming appends** (`process`, driven by foreachBatch):
  *     idempotent on batchId — a replayed micro-batch (crash between
  *     write and commit, Spark retries from the checkpoint WAL) sees the
  *     committed version and no-ops. Spark guarantees one streaming
  *     writer per (appId, table), so version = batchId.
  *
  *  2. **Multi-writer optimistic concurrency** (`commitAppend` /
  *     `transactSnapshot`): data files land under a writer-unique
  *     directory first, then the writer claims the next log version by
  *     CONDITIONAL CREATION of the version file — [[CommitStore]]
  *     `.putIfAbsent`, the one storage primitive commits require
  *     (atomic, all-or-nothing, fails if the version exists). The
  *     store is pluggable (the Delta LogStore analog): POSIX hard-link
  *     claims by default, an emulated object-store conditional PUT for
  *     the 100 TB target where rename/link do not exist — the protocol
  *     itself never renames or links inside the log. Losing a claim race
  *     means another writer committed that version: appends simply
  *     re-claim the next version (append⇄append never conflicts — the
  *     Delta protocol's disjoint-files rule). Snapshot/MOR transactions
  *     (merge/delete/compact) apply CONFLICT NARROWING, the Delta
  *     ConflictChecker analog: under the default
  *     [[ExactlyOnceSink.WriteSerializable]] isolation a rival commit
  *     that is a pure data append — disjoint by construction from the
  *     transaction's read set — costs only a metadata re-claim at the
  *     next version (snapshot commits record their read version as
  *     `snapshotBase`, keeping the appends visible; delta-shaped MOR
  *     commits keep them visible for free), while a genuinely
  *     conflicting rival (removes/DVs/snapshot/metadata) still forces
  *     the full re-read+recompute, because the output depends on state
  *     that rival invalidated. [[ExactlyOnceSink.Serializable]] retains
  *     the recompute-on-any-rival posture. The log stays linear and
  *     gap-free: a version file exists only after its data is in place,
  *     and claims are dense because every writer targets exactly the
  *     next version of the log snapshot it read.
  *
  * Every commit entry also records **per-file column stats** (min/max of
  * numeric and string columns — the Delta data-skipping analog):
  * `readSkipping` prunes committed files whose [min,max] range cannot
  * intersect a predicate's bounds, so a selective read touches only the
  * matching files instead of scanning the whole table (asserted in
  * StreamingSpec). At 100 TB the stats in the log are what make the
  * table queryable at all.
  *
  * **Log checkpoints** (the Delta `_last_checkpoint` analog): without
  * them, every snapshot construction replays the whole JSON log — O(n)
  * parses after n commits, unbounded for a long-running streaming
  * ingest (this sink's primary category). Every `checkpointInterval`-th
  * commit also writes `<%020d version>.checkpoint`: the post-compaction
  * visible commit entries at that version, verbatim, one per line.
  * Readers seed log replay from the newest parseable checkpoint at or
  * below their target version and parse only the per-version entries
  * after it — O(interval) instead of O(n). Checkpoint writing is
  * best-effort and crash-safe (tmp file + atomic move; a torn or
  * corrupt checkpoint is ignored and replay falls back to the previous
  * one or the raw log). Checkpoints carry an aux header with the
  * latest-wins metadata state (constraints, streamTxn cursors), which
  * makes [[cleanupLog]] — the Delta log-retention analog — safe: raw
  * entries below an old-enough checkpoint can be reclaimed, bounding
  * log growth for an unbounded stream, while time travel and CDC below
  * the retained window fail loudly instead of rebuilding partial
  * state. Divergence from Delta, disclosed: no `_last_checkpoint`
  * pointer file — readers already list the log directory, and deriving
  * the newest checkpoint from that same listing avoids a second
  * non-atomic pointer.
  *
  * **Multi-part checkpoints** (round 15, the Delta V2-checkpoint /
  * sidecar analog): a checkpoint's body is O(live commit entries), and
  * each entry carries its files' add actions — at 100 TB (millions of
  * live files) a single checkpoint file is written and read serially
  * by one thread and becomes the snapshot-seed bottleneck Delta's V2
  * checkpoints exist to remove. When the body exceeds
  * `checkpointPartBytes`, the writer splits it into size-bounded
  * sidecar files (`<v>.<uid>.<i>.sidecar`, written IN PARALLEL, each
  * tmp+atomic-move) and the `<v>.checkpoint` file itself shrinks to a
  * manifest: the aux header plus a `sidecars` list recording each
  * part's name, entry count, and last version. Readers fetch the
  * sidecars in parallel and validate the manifest invariants (per-part
  * counts and last-versions, body ends at the checkpoint's own
  * version); a torn, missing, or impostor sidecar invalidates the
  * whole checkpoint, which then degrades to the previous one or the
  * raw log — exactly the single-file torn-checkpoint posture. Sidecar
  * names never end in `.json`/`.checkpoint`, so version listings and
  * the log-tailing stream never see them; [[cleanupLog]] reclaims the
  * sidecars of superseded checkpoints plus any lost-race orphans below
  * the retention anchor, and [[cloneTo]] preserves the multipart shape
  * with entry paths rewritten inside the sidecars.
  */
class ExactlyOnceSink(tableDir: String, appId: String = "graft-sink",
    checkpointInterval: Int = 10,
    autoCompactEvery: Int = 0,
    autoCompactTargetBytes: Long = 128L << 20,
    checkpointPartBytes: Long = 8L << 20,
    storeFactory: CommitStore.Factory = CommitStore.Posix,
    // Transaction isolation for the snapshot/MOR verbs — the Delta
    // split, same names and same default (see [[ExactlyOnceSink.Isolation]]):
    // WriteSerializable lets a transaction REBASE past rival pure
    // appends it never read (re-claim the next version, no recompute);
    // Serializable forces the full recompute on ANY rival.
    isolation: ExactlyOnceSink.Isolation = ExactlyOnceSink.WriteSerializable) {
  private val logDir = Paths.get(tableDir, "_graft_log")
  private val dataDir = Paths.get(tableDir, "data")

  /** Every log mutation goes through this (the Delta LogStore analog —
    * see [[CommitStore]]): POSIX hard-link claims by default, emulated
    * object-store conditional-put via `CommitStore.ConditionalPut`.
    * The sink never renames or links inside the log itself. */
  private val store: CommitStore = storeFactory(logDir)

  private def logName(version: Long): String = f"$version%020d.json"
  private def crcName(version: Long): String = f"$version%020d.crc"
  private def ckptNameOf(version: Long): String = f"$version%020d.checkpoint"

  /** Drain a Files.list/Files.walk stream through `f`, CLOSING the
    * underlying directory descriptor. The java.nio directory streams
    * hold an open FD until closed — and [[committedVersions]] runs on
    * EVERY verb and read, so an unclosed stream is a real descriptor
    * leak for a long-lived writer (observed as EMFILE at the 20k cap
    * once the test suite crossed ~320 Spark-heavy tests in one JVM). */
  private def withDirStream[A, B](s: java.util.stream.Stream[A])(
      f: Iterator[A] => B): B =
    try f(s.iterator().asScala) finally s.close()

  def committedVersions(): Seq[Long] = LogListing(store.list()).versions

  def isCommitted(version: Long): Boolean = store.exists(logName(version))

  // ---------------------------------------------------------------------
  // staging + stats
  // ---------------------------------------------------------------------

  /** Write df to a staging dir. With `check` (every DATA write path; change-row staging opts out —
    * CDC preimages are historical rows, not new writes), the table's
    * active CHECK constraints are enforced PER ROW inside the write
    * tasks themselves via a short-circuiting filter: `cons OR
    * raise_error(...)` never evaluates the error branch for passing
    * rows, so enforcement costs zero extra passes and a violation
    * aborts the job before anything commits — the Delta CHECK
    * constraint behavior (write-time, transactional). */
  private def stage(s: Snapshot, df: DataFrame, staging: Path,
      partitionBy: Seq[String], check: Boolean = true): Unit = {
    import org.apache.spark.sql.functions._
    val cons = if (check) s.aux.constraints else Map.empty[String, String]
    val checked = cons.toSeq.sortBy(_._1).foldLeft(df) { case (d, (n, e)) =>
      d.filter(when(expr(e), lit(true)).otherwise(raise_error(concat(
        lit(s"CHECK constraint '$n' ($e) violated by row: "),
        to_json(struct(df.columns.map(col): _*))))))
    }
    // LAST step before the write: logical -> physical rename (column
    // mapping) — constraints and generation above speak logical names.
    // Applied on EVERY staging (change rows included) so stored frames
    // are uniformly physical regardless of the rename era they were
    // written in; already-physical frames translate as a no-op.
    val physical = toPhysical(s, checked)
    val parts = partitionBy.map(s.physicalOf)
    val writer = physical.write.mode("overwrite")
    (if (parts.nonEmpty) writer.partitionBy(parts: _*) else writer)
      .parquet(staging.toString)
  }

  /** Per-file (path, min/max column stats, row count, byte size) read
    * from the PARQUET FOOTERS of the staged files in ONE pass, one open
    * per file — metadata-only, no data pass (the executors already wrote
    * row-group statistics during the write, exactly the stats a real
    * Delta writer records; the row count is the Delta numRecords stat).
    * Row-group stats merge per file; columns without usable stats are
    * simply absent (skipping stays conservative). Stored as strings;
    * numeric comparison happens at read time (readSkipping). */
  private def fileStats(spark: SparkSession, staging: Path): Seq[AddFile] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.Binary
    val conf = spark.sessionState.newHadoopConf()
    def render(v: Any): String = v match {
      case b: Binary => b.toStringUsingUTF8
      case x => String.valueOf(x)
    }
    withDirStream(Files.walk(staging))(_
      .filter(_.getFileName.toString.endsWith(".parquet")).map { file =>
        val rel = staging.relativize(file).toString.replace("\\", "/")
        val stats = scala.collection.mutable
          .Map[String, org.apache.parquet.column.statistics.Statistics[_]]()
        var rowCount = 0L
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(file.toUri), conf))
        try {
          for (block <- reader.getFooter.getBlocks.asScala) {
            rowCount += block.getRowCount
            for (chunk <- block.getColumns.asScala) {
              val st = chunk.getStatistics
              // nested paths (a.b) are skipped: top-level scalar stats only
              val name = chunk.getPath.toDotString
              if (st != null && st.hasNonNullValue && !name.contains(".")) {
                stats.get(name) match {
                  case None => stats(name) = st.copy()
                  case Some(acc) => acc.mergeStatistics(
                    st.asInstanceOf[org.apache.parquet.column.statistics.Statistics[Nothing]])
                }
              }
            }
          }
        } finally reader.close()
        AddFile(rel, stats.toMap.map { case (c, st) =>
          c -> (Some(render(st.genericGetMin)), Some(render(st.genericGetMax)))
        }, rows = Some(rowCount), bytes = Some(Files.size(file)))
      }.toSeq).sortBy(_.path)
  }

  /** Per-file bloom filters for point-lookup file skipping (the Delta
    * bloom-filter-index analog): min/max stats cannot prune an equality
    * probe on a high-cardinality column whose per-file ranges overlap
    * (ingest order rarely clusters ids), but a ~1 KB bloom in the commit
    * log prunes every file that definitely lacks the value.
    *
    * One Spark pass over the staged files, grouped by `_metadata
    * .file_path`: k=3 probes of xxhash64(seed, value-as-string) set bits
    * in a `bits`-wide bitmap held as 64-bit words, OR-merged per file by
    * `bit_or` aggregates — all public, codegen'd functions. `bits` is a
    * writer knob; a real deployment sizes it from expected distinct
    * count and target FPP exactly as Delta's index does.
    *
    * Cost model: this is one EXTRA full read of the staged output, paid
    * by every bloom-striped write AND by every rewrite that honors the
    * recorded policy (OPTIMIZE, CoW snapshot, MOR new files) —
    * O(rewritten bytes), unavoidable on public APIs because the parquet
    * writer exposes no per-task accumulator hook to fold the bitmap
    * during the write itself. The policy's price is therefore ~2×
    * read-amplification on rewrites of bloom-striped tables; size
    * `bits` and the policy's column set accordingly. */
  private def fileBlooms(spark: SparkSession, staging: Path,
      cols0: Seq[String], bits: Int): Map[String, Map[String, Array[Long]]] = {
    if (cols0.isEmpty) return Map.empty
    import org.apache.spark.sql.functions._
    val words = bits / 64
    val df = spark.read.parquet(staging.toString)
    // columns absent from the staged frame (e.g. DROPped since the
    // policy was recorded) simply get no bloom — readers keep a
    // bloom-less file conservatively, same contract as stats
    val cols = cols0.filter(df.columns.contains)
    if (cols.isEmpty) return Map.empty
    val aggs = for { c <- cols; w <- 0 until words } yield {
      val contrib = (0 until 3).map { j =>
        val p = pmod(xxhash64(lit(j), col(c).cast("string")), lit(bits))
        when((p / 64).cast("int") === w,
          call_function("shiftleft", lit(1L), (p % 64).cast("int")))
          .otherwise(0L)
      }.reduce(_.bitwiseOR(_))
      bit_or(contrib).as(s"${c}__$w")
    }
    val base = java.nio.file.Paths.get(staging.toUri).toString
    df.groupBy(col("_metadata.file_path").as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().map { row =>
        val uri = java.net.URI.create(row.getString(0))
        val abs = java.nio.file.Paths.get(uri.getPath).toString
        val rel = abs.stripPrefix(base).stripPrefix("/").replace("\\", "/")
        rel -> cols.zipWithIndex.map { case (c, ci) =>
          c -> (0 until words)
            .map(w => row.getLong(1 + ci * words + w)).toArray
        }.toMap
      }.toMap
  }

  /** A write published under `data/<dir>`: its add actions (paths
    * relative to `dir`) with the per-file stats, row counts, byte sizes
    * and blooms its commit entry records. */
  private case class Published(dir: String, adds: Seq[AddFile])

  private val Unpublished = Published("", Nil)

  /** The write protocol every writer shares: stage `df` ([[stage]];
    * `check` enforces CHECK constraints), read its footer stats, build
    * blooms over the PHYSICAL `bloomCols`, then atomically move the
    * staged dir to `data/<dir>` and re-stamp its mtime ([[touchNow]]) —
    * in place but invisible until a commit entry claims it. */
  private def publish(s: Snapshot, df: DataFrame, dir: String, partitionBy: Seq[String],
      bloomCols: Seq[String], bloomBits: Int, check: Boolean): Published = {
    val staging = Paths.get(tableDir, ".staging-" + dir.replace('/', '-'))
    stage(s, df, staging, partitionBy, check)
    val perFile = fileStats(df.sparkSession, staging)
    val blooms = fileBlooms(df.sparkSession, staging, bloomCols, bloomBits)
    val target = dataDir.resolve(dir)
    Files.createDirectories(target.getParent)
    Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
    touchNow(target)
    Published(dir, perFile.map(a => a.copy(bloom = blooms.getOrElse(a.path, Map.empty))))
  }

  /** Largest in-commit timestamp this JVM has stamped or observed —
    * the same-process leg of the monotonicity clamp in [[nextIct]]. */
  private val lastIct = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The in-commit timestamp for a claim of `version`: wall clock,
    * clamped strictly above the predecessor commit's stamp (claims are
    * sequential by construction — a writer only targets `version` after
    * seeing `version-1` committed — so reading the predecessor's stamp
    * is race-free). Monotone in version order even across processes and
    * clock skew, which is exactly what mtime-based timestamps are not:
    * the Delta in-commit-timestamp rationale. The stamp comes from the
    * claim's snapshot, whose newest entry is the predecessor of every
    * claim at its `next` version (checkpoint-seeded, so it survives
    * cleanupLog); falls back to the predecessor's mtime (pre-ICT entry)
    * or this JVM's high-water mark (no predecessor). */
  private def nextIct(s: Snapshot, version: Long): Long = {
    val prev =
      if (version <= 0) None
      else s.entries.reverseIterator.find(_.version == version - 1).flatMap(_.ict)
        .orElse(try Some(store.modifiedTime(logName(version - 1)))
          catch { case scala.util.control.NonFatal(_) => None })
        // a version-pinned claim off the snapshot's tip: after
        // cleanupLog the predecessor's entry survives verbatim (stamp
        // included) only in a checkpoint
        .orElse(allKnownCommits(s).find(_.version == version - 1)
          .flatMap(c => c.ict.orElse(commitTime(c))))
    val floor = math.max(prev.getOrElse(0L), lastIct.get)
    math.max(System.currentTimeMillis(), floor + 1)
  }

  /** Test hook: exposes [[nextIct]] so the checkpoint-fallback leg of
    * the monotonicity clamp (predecessor raw entry reclaimed, stamp
    * surviving only in a checkpoint) is directly assertable. */
  private[graft] def nextIctForTest(version: Long): Long = nextIct(snapshot(), version)

  /** THE commit point: conditional creation of `e`'s version's log
    * object ([[CommitStore]].putIfAbsent — POSIX hard-link or emulated
    * object-store conditional PUT, per the configured store). Returns
    * false if the version was already claimed (by a replay or another
    * writer). `s` is the snapshot the caller built `e` on: each attempt
    * runs [[withRowIds]] against it and stamps the entry with this
    * writer's appId and an in-commit timestamp (rendered as the FIRST
    * field, [[nextIct]]): time travel and history read
    * the stamp from the entry itself, so they survive log-file copies and
    * cleanupLog — the checkpoint carries entries verbatim, stamp
    * included. A won claim at `s.next` proves `s` was the whole log below
    * it (dense claims), so the new state is `s` plus the entry just
    * written — no re-read; it becomes the live snapshot, and the
    * checkpoint and checksum are written from it. */
  private def claim(s: Snapshot, e: Entry): Boolean = {
    store.ensureRoot()
    val ict = nextIct(s, e.version)
    val text = Entry.render(withRowIds(s, e).copy(ict = Some(ict), txnAppId = Some(appId)))
    val won = store.putIfAbsent(logName(e.version), text)
    if (won) {
      lastIct.getAndUpdate(v => math.max(v, ict))
      // re-stamp to COMMIT time (ordering HINT, not correctness): a
      // POSIX hard-link inherits the staged temp's write mtime, which
      // for a writer that lost earlier claim races predates rivals'
      // entries — mtime-ordered log consumers ([[tailChanges]]'s file
      // stream) and cleanupLog's age guard both want claim order, and
      // claims are sequential by construction. On a real object store
      // PUT time already IS claim time and touch degrades to a no-op.
      try store.touch(logName(e.version))
      catch { case scala.util.control.NonFatal(_) => () }
      val at =
        if (e.version == s.next)
          step(s, Entry.parse(text, e.version), text).copy(listed = s.listed + 1)
        else asOf(snapshot(), e.version) // a version-pinned claim off the tip
      liveLock.synchronized { // the live snapshot, unless a newer one is cached
        if (liveSnap.forall(_.version < at.version)) liveSnap = Some(at)
      }
      maybeCheckpoint(at)
      maybeWriteCrc(at)
    }
    won
  }

  /** ROW TRACKING allocation (the Delta row-tracking feature analog),
    * run by [[claim]] on every attempt: when the table has tracking on
    * (a rowIdWatermark exists in the latest-wins metaData state), every
    * add of `e` without a block gets a contiguous `baseRowId` block from
    * the watermark (sized by its recorded row count) and `e`'s version
    * as its default row-commit-version, and the advanced watermark rides
    * `e`'s metaData. Adds that already carry a block (RESTORE lifts)
    * keep it, and an entry that records its own watermark (enabling
    * tracking) is left as is. Freshness under OCC: the watermark is read
    * per attempt from the attempt's snapshot, and dense claims mean a
    * successful claim saw every prior allocation — the
    * identity-watermark argument. */
  private def withRowIds(s: Snapshot, e: Entry): Entry =
    if (e.rowIdWatermark.isDefined || (e.adds.isEmpty && !e.snapshot)) e
    else s.aux.rowIdWatermark.fold(e) { wm =>
      var w = wm
      val adds = e.adds.map { a =>
        if (a.baseRowId.isDefined) a
        else {
          val n = a.rows.getOrElse(sys.error(s"rowTracking: add ${a.path} " +
            "carries no row count — cannot allocate a baseRowId block"))
          w += n
          a.copy(baseRowId = Some(w - n), rcv = Some(e.version))
        }
      }
      e.copy(adds = adds, rowIdWatermark = Some(w))
    }

  // ---------------------------------------------------------------------
  // version checksums (the Delta .crc / VersionChecksum analog)
  // ---------------------------------------------------------------------

  /** The table-state summary a version's checksum records. `numRows` /
    * `tableSizeBytes` are None when any live add predates the recording
    * of that stat (legacy entries — same degradation as [[rowCount]]'s
    * scan fallback). */
  case class VersionChecksum(version: Long, numFiles: Long,
      numRows: Option[Long], numDeletedRows: Long, numDvFiles: Long,
      tableSizeBytes: Option[Long])

  /** The state summary at `version`, folded from the commit log alone
    * (checkpoint-seeded — O(interval) parses, no data scan). */
  def computeChecksum(version: Long): VersionChecksum =
    checksumOf(asOf(snapshot(), version)).copy(version = version)

  private def checksumOf(s: Snapshot): VersionChecksum = {
    val ts = s.ts
    val live = s.live
      .flatMap(c => c.adds.map(a => addKey(c, a) -> a))
      .filterNot { case (k, _) => ts.removed.contains(k) }
    val dvOf = live.map { case (k, _) =>
      k -> ts.dv.get(k).map(_.length.toLong).getOrElse(0L) }.toMap
    val deleted = dvOf.valuesIterator.sum
    VersionChecksum(s.version,
      numFiles = live.size.toLong,
      numRows =
        if (live.forall(_._2.rows.isDefined))
          Some(live.map(_._2.rows.get).sum - deleted)
        else None,
      numDeletedRows = deleted,
      numDvFiles = dvOf.count(_._2 > 0).toLong,
      tableSizeBytes =
        if (live.forall(_._2.bytes.isDefined))
          Some(live.map(_._2.bytes.get).sum)
        else None)
  }

  /** Best-effort post-commit `<v>.crc` write (tmp + atomic move, first
    * writer wins — the Delta checksum-file protocol). The content is a
    * pure function of the version-pinned log fold, so racing writers
    * produce identical bytes and ingest never fails over a checksum. */
  private def maybeWriteCrc(at: Snapshot): Unit =
    try {
      if (!store.exists(crcName(at.version))) {
        val c = checksumOf(at)
        val rows = c.numRows.map(n => s""","numRows":$n""").getOrElse("")
        val sz = c.tableSizeBytes
          .map(n => s""","tableSizeBytes":$n""").getOrElse("")
        val text = s"""{"crc":{"version":${c.version},""" +
          s""""numFiles":${c.numFiles}$rows,""" +
          s""""numDeletedRows":${c.numDeletedRows},""" +
          s""""numDvFiles":${c.numDvFiles}$sz}}""" + "\n"
        // first writer wins; racers' bytes are identical by construction
        store.putIfAbsent(crcName(at.version), text)
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"graft-sink: checksum at version ${at.version} failed (non-fatal): $e")
    }

  /** Parse `<v>.crc`; None when absent or unreadable (a torn checksum
    * degrades to recompute, never to a wrong answer). */
  def storedChecksum(version: Long): Option[VersionChecksum] =
    try {
      import org.json4s._
      val c = jackson.JsonMethods.parse(store.read(crcName(version))) \ "crc"
      def l(k: String): Option[Long] = Codec.asLong(c \ k)
      for { v <- l("version"); if v == version; nf <- l("numFiles")
            nd <- l("numDeletedRows"); dv <- l("numDvFiles") }
        yield VersionChecksum(v, nf, l("numRows"), nd, dv,
          l("tableSizeBytes"))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Validate a stored checksum against a fresh log fold — the Delta
    * checksum integrity check: a divergence means the log was corrupted
    * or hand-edited after the commit, and reads can no longer be
    * trusted, so it FAILS LOUDLY. Checks `version` (default: the newest
    * version carrying a checksum); returns the verified summary, or
    * None when no version in retained history has one. */
  def verifyChecksum(version: Option[Long] = None): Option[VersionChecksum] = {
    val live = snapshot()
    val target = version.orElse(live.listing.crcs
      .filter(v => live.truncatedBelow <= v).lastOption)
    target.flatMap { v =>
      storedChecksum(v).map { stored =>
        val fresh = checksumOf(asOf(live, v))
        if (stored != fresh)
          sys.error(s"checksum mismatch at version $v: the log diverged " +
            s"from its commit-time state (stored $stored, computed $fresh)")
        fresh
      }
    }
  }

  // ---------------------------------------------------------------------
  // the table snapshot and log checkpoints
  // ---------------------------------------------------------------------

  /** One LIST of the log prefix, read as committed versions, checkpoint
    * and checksum versions (ascending), sidecar parts, and whether the
    * cleanupLog truncation marker exists. */
  private case class LogListing(names: Seq[String]) {
    private def versionsOf(suffix: String): Seq[Long] =
      names.filter(_.endsWith(suffix)).map(_.stripSuffix(suffix).toLong).sorted
    lazy val versions: Seq[Long] = versionsOf(".json")
    lazy val checkpoints: Seq[Long] = versionsOf(".checkpoint")
    lazy val crcs: Seq[Long] = versionsOf(".crc")
    /** Sidecar object names with their version prefix (for
      * [[cleanupLog]]'s orphan sweep). */
    def sidecars: Seq[(Long, String)] =
      names.filter(_.endsWith(".sidecar")).flatMap { n =>
        scala.util.Try(n.takeWhile(_ != '.').toLong).toOption.map(_ -> n)
      }
    def truncated: Boolean = names.contains(TruncMarkerName)
  }

  /** A recorded `schemaString`, parsed on first use and at most once:
    * the snapshot copies that share a newest schema share this holder,
    * so [[schemaParses]] counts one parse per new recorded schema. */
  private final class RecordedSchema(json: Option[String]) {
    lazy val get: Option[StructType] = json.map { j =>
      schemaParses.incrementAndGet()
      DataType.fromJson(j).asInstanceOf[StructType]
    }
  }

  private def recordedOf(visible: Seq[(Entry, String)]): RecordedSchema =
    new RecordedSchema(visible.reverseIterator.flatMap(_._1.schemaStr).nextOption())

  /** The table state at one log version — the ONE fold of the log that
    * every verb reads (the Delta Snapshot analog): the visible entries
    * (snapshot compaction applied) each with its raw log line, their
    * merge-on-read tombstones, the latest-wins metadata fold over FULL
    * history ([[CkptAux]]: constraints, generated columns, domains,
    * column mapping, row-id watermark, stream cursors), the recorded
    * schema of the newest entry that has one, the cleanupLog truncation
    * floor, and the LIST it was refreshed from (checkpoint versions
    * included). A verb takes one snapshot at its start and reads table
    * state only from it; a claim loop takes one per attempt and claims
    * `next`, so what it computed on and the version it claims come from
    * the same view.
    *
    * Invariants:
    *  - The incremental fold equals the full fold. An entry is visible
    *    iff its version is above the NEWEST snapshot commit's
    *    `snapBase`; [[step]] folds one entry at a time and drops entries
    *    at every snapshot commit, which equals compacting once by the
    *    newest snapshot only if each snapshot's base is at or above the
    *    version of every snapshot before it. That holds because a
    *    snapshot commit is never [[rebaseable]]: a transaction rebases
    *    only past pure appends, so its base can never move below an
    *    earlier snapshot. [[step]] refuses a log that breaks it instead
    *    of resurrecting replaced rows.
    *  - Freshness. Every public call refreshes against the live log
    *    ([[snapshot]]: one LIST, then only the entries committed since
    *    the cached version are read), so a rival instance's commit is
    *    visible on the next call.
    *  - Thread safety. A snapshot is immutable; the live one is swapped
    *    under one lock. */
  private case class Snapshot(version: Long,
      visible: Vector[(Entry, String)],
      ts: Tombstones,
      aux: CkptAux,
      recorded: RecordedSchema,
      truncatedBelow: Long,
      listing: LogListing,
      // committed versions at or below `version` the log listed when this
      // was folded: a change means history below the tip moved (a
      // cleanupLog, or a version-pinned claim filling a hole)
      listed: Int) {
    lazy val entries: Vector[Entry] = visible.map(_._1)
    /** Visible entries carrying data files. */
    lazy val live: Vector[Entry] = entries.filter(_.adds.nonEmpty)
    def next: Long = version + 1
    def schema: Option[StructType] = recorded.get
    def mapping: Map[String, String] = aux.columnMapping
    def dropped: Set[String] = aux.droppedCols.toSet
    /** The on-disk (parquet/stats/bloom) name serving logical column `c`. */
    def physicalOf(c: String): String = mapping.getOrElse(c, c)
    def tracked: Boolean = aux.rowIdWatermark.isDefined
  }

  /** Fold one committed entry onto `s` (see [[Snapshot]]'s invariants). */
  private def step(s: Snapshot, e: Entry, line: String): Snapshot =
    if (!e.snapshot)
      s.copy(version = e.version, visible = s.visible :+ (e -> line),
        ts = s.ts + e, aux = s.aux + e,
        recorded = if (e.schemaStr.isDefined) new RecordedSchema(e.schemaStr) else s.recorded)
    else {
      s.entries.reverseIterator.find(_.snapshot).foreach { prev =>
        if (e.snapBase < prev.version)
          sys.error(s"snapshot commit ${e.version} replaces the state at " +
            s"${e.snapBase}, below the earlier snapshot commit ${prev.version} " +
            "— a snapshot never rebases past another; refusing to misread the log")
      }
      val kept = s.visible.filter(_._1.version > e.snapBase) :+ (e -> line)
      s.copy(version = e.version, visible = kept,
        ts = kept.foldLeft(NoTombstones)(_ + _._1), aux = s.aux + e,
        recorded = recordedOf(kept))
    }

  /** `base` with the entries of versions `vs` read and folded on, as of
    * `listing`. */
  private def advance(base: Snapshot, vs: Seq[Long], listing: LogListing, tb: Long): Snapshot = {
    val s = vs.foldLeft(base) { (acc, v) =>
      val (e, line) = readEntry(v)
      step(acc, e, line)
    }
    s.copy(truncatedBelow = tb, listing = listing,
      listed = listing.versions.count(_ <= s.version))
  }

  /** The live snapshot, guarded by `liveLock`; None until first used. */
  private var liveSnap: Option[Snapshot] = None
  private val liveLock = new Object

  /** Refresh the live snapshot against the log: ONE LIST, then read and
    * fold only the entries committed since the cached version. Rebuilt
    * from the newest usable checkpoint on first use, or when history at
    * or below the cached version changed. */
  private def snapshot(): Snapshot = liveLock.synchronized {
    val listing = LogListing(store.list())
    val tb = if (listing.truncated) readTruncMarker() else 0L
    val s = liveSnap match {
      case Some(c) if listing.versions.count(_ <= c.version) == c.listed =>
        advance(c, listing.versions.filter(_ > c.version), listing, tb)
      case _ => build(listing, tb, None)
    }
    liveSnap = Some(s)
    s
  }

  /** The state at `version`, from the same LIST as `live`: `live` itself
    * at or past its tip, else seeded from the newest usable checkpoint at
    * or below `version` (deep time travel below the oldest checkpoint
    * replays the raw log). */
  private def asOf(live: Snapshot, version: Long): Snapshot =
    if (version >= live.version) live
    else build(live.listing, live.truncatedBelow, Some(version))

  private def build(listing: LogListing, tb: Long, target: Option[Long]): Snapshot = {
    val seed = listing.checkpoints.filter(cv => target.forall(cv <= _))
      .reverseIterator.flatMap(loadCheckpoint(_, listing, tb)).nextOption()
    val base = seed.getOrElse {
      // after cleanupLog (recorded in the truncation marker — a log
      // legitimately starting above version 0, e.g. a streaming
      // writer whose first batchId > 0, is NOT truncation), targets
      // below the retained window must fail loudly rather than
      // rebuild a silently partial state
      if (tb > 0)
        sys.error(s"versionAsOf=${target.getOrElse("latest")} " +
          s"predates retained history: log entries below $tb were " +
          "reclaimed by cleanupLog and no checkpoint at or below the " +
          "target survives")
      Snapshot(-1L, Vector.empty, NoTombstones, CkptAux(), new RecordedSchema(None),
        tb, listing, 0)
    }
    advance(base, listing.versions.filter(v => v > base.version && target.forall(v <= _)),
      listing, tb)
  }

  private def readTruncMarker(): Long =
    try store.read(TruncMarkerName).trim.toLong
    catch { case scala.util.control.NonFatal(_) => 0L }

  /** Sidecar names carry the checkpoint version, a writer-unique uid
    * (two writers racing the same cadence point can never collide on
    * part names — the loser deletes its own parts), and the part index.
    * The suffix is neither `.json` nor `.checkpoint`, so version
    * listings and the log-tailing stream never see sidecars. */
  private def sidecarName(version: Long, uid: String, i: Int): String =
    f"$version%020d.$uid.$i%04d.sidecar"

  /** The ONE checkpoint loader: the snapshot a checkpoint records, or
    * None if torn/corrupt/inconsistent — replay then falls back to an
    * older checkpoint or the raw log, so a bad checkpoint can degrade
    * performance but never correctness. Format: line 1 is the aux
    * header, the rest are the visible commit entries verbatim, kept as
    * the snapshot's raw lines (the next checkpoint re-writes them when
    * cleanupLog has reclaimed their log files). */
  private def loadCheckpoint(cv: Long, listing: LogListing, tb: Long): Option[Snapshot] =
    try {
      val lines = store.readLines(ckptNameOf(cv))
        .filter(_.nonEmpty)
      for {
        head <- lines.headOption
        (v, aux, parts) <- CkptAux.parse(head)
        if v == cv
        body <- checkpointBody(parts, lines.tail)
        // parse IN PARALLEL, order-preserving: a checkpoint body is
        // O(live entries) and entry parses are independent — on a
        // many-core driver this is the snapshot-seed bottleneck once
        // the files are local (reads parallelize via the sidecars; on
        // an object store the reads dominate instead)
        commits = {
          val out = new Array[Entry](body.size)
          java.util.stream.IntStream.range(0, body.size).parallel()
            .forEach(i => out(i) = Entry.parse(body(i)))
          out.toVector
        }
        // invariant of the writer: the triggering commit is the newest
        // visible entry, so a checkpoint not ending at its own version
        // (torn tail line lost, or garbage that happened to parse) is bad
        if commits.nonEmpty && commits.last.version == cv &&
          commits.forall(_.version <= cv)
      } yield {
        val visible = commits.zip(body)
        Snapshot(cv, visible, commits.foldLeft(NoTombstones)(_ + _), aux,
          recordedOf(visible), tb, listing, 0)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The checkpoint's entry lines: the main file's own tail for a
    * single-file checkpoint, or the manifest's sidecars concatenated in
    * part order for a multipart one — fetched IN PARALLEL (each part is
    * an independent file; at a checkpoint big enough to split, the
    * serial read is the snapshot-seed bottleneck the format exists to
    * remove). None if any part is missing, torn (entry count drifted
    * from the manifest), or ends at the wrong version — the caller then
    * falls back to an older checkpoint or the raw log. */
  private def checkpointBody(parts: Seq[SidecarRef],
      inlineTail: Seq[String]): Option[Seq[String]] = {
    if (parts.isEmpty) Some(inlineTail)
    else if (inlineTail.nonEmpty) None // manifest AND body: not ours
    else {
      val out = new Array[Option[Seq[String]]](parts.size)
      java.util.stream.IntStream.range(0, parts.size).parallel().forEach { i =>
        out(i) =
          try {
            val p = parts(i)
            val ls = store.readLines(p.name).filter(_.nonEmpty)
            if (ls.size == p.entries && ls.nonEmpty &&
                Entry.parse(ls.last).version == p.lastVersion)
              Some(ls)
            else None
          } catch { case scala.util.control.NonFatal(_) => None }
      }
      val seqs = out.toSeq
      if (seqs.exists(o => o == null || o.isEmpty)) None
      else Some(seqs.flatMap(_.get))
    }
  }

  /** After winning `at.version`: if it is on the checkpoint cadence,
    * write the aux header plus the post-compaction visible entries at it
    * (their raw log lines, one per line) as `<version>.checkpoint` — all
    * taken from the snapshot the claim produced, so writing one reads no
    * log file. Best-effort by design — ingest must not fail because a
    * checkpoint could not be written; first writer wins if two writers
    * race the same cadence point. */
  private def maybeCheckpoint(at: Snapshot): Unit = {
    val version = at.version
    if (checkpointInterval > 0 && version > 0 &&
        version % checkpointInterval == 0 &&
        !store.exists(ckptNameOf(version)))
      try {
        val aux = at.aux
        val entries = at.visible.map(_._2)
        val bodyBytes = entries.iterator
          .map(_.getBytes("UTF-8").length.toLong + 1).sum
        // split into size-bounded sidecars only when the body outgrows
        // one part — small tables keep the single-file shape (and its
        // single read) for free
        val parts: Seq[Seq[String]] =
          if (checkpointPartBytes <= 0 || bodyBytes <= checkpointPartBytes ||
              entries.size <= 1) Nil
          else {
            val bufs = scala.collection.mutable.ArrayBuffer(
              scala.collection.mutable.ArrayBuffer.empty[String])
            var fill = 0L
            entries.foreach { e =>
              val sz = e.getBytes("UTF-8").length.toLong + 1
              if (fill + sz > checkpointPartBytes && bufs.last.nonEmpty) {
                bufs += scala.collection.mutable.ArrayBuffer.empty[String]
                fill = 0L
              }
              bufs.last += e; fill += sz
            }
            bufs.map(_.toSeq).toSeq
          }
        val uid = java.util.UUID.randomUUID().toString
        val written = scala.collection.mutable.ArrayBuffer.empty[String]
        try {
          val refs: Seq[SidecarRef] =
            if (parts.isEmpty) Nil
            else {
              val names = parts.indices.map(sidecarName(version, uid, _))
              // parts are independent objects — PUT them in parallel
              // (uid-unique names, so overwrite is impossible), the
              // scale point of the format
              java.util.stream.IntStream.range(0, parts.size).parallel()
                .forEach { i =>
                  store.put(names(i), parts(i).mkString("", "\n", "\n"))
                  written.synchronized { written += names(i) }
                }
              parts.indices.map { i =>
                SidecarRef(names(i), parts(i).size,
                  Entry.parse(parts(i).last).version)
              }
            }
          val text =
            if (refs.isEmpty) (CkptAux.render(version, aux) +: entries)
              .mkString("", "\n", "\n")
            else CkptAux.render(version, aux, refs) + "\n"
          // conditional PUT, first writer wins the cadence point: the
          // winner's manifest references its OWN uid-named sidecars;
          // a loser's are unreachable — drop them rather than leave
          // orphans for cleanupLog
          if (!store.putIfAbsent(ckptNameOf(version), text))
            written.foreach(store.delete(_))
        } catch {
          case scala.util.control.NonFatal(e) =>
            written.foreach(n =>
              try store.delete(n)
              catch { case scala.util.control.NonFatal(_) => () })
            throw e
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"graft-sink: checkpoint at version $version failed (non-fatal): $e")
      }
  }

  // ---------------------------------------------------------------------
  // protocol 1: streaming appends (single writer per appId, idempotent)
  // ---------------------------------------------------------------------

  /** Delta-style write-time schema enforcement: an append whose frame
    * carries columns the table does not have is REJECTED unless the
    * caller opted into evolution (`mergeSchema = true`) — silent
    * widening is how one misconfigured producer forks a shared table's
    * schema. A column present in both but with a different type always
    * fails (no implicit casts: a type flip is a bug, not evolution).
    * Columns the frame OMITS are fine — the read path null-pads them
    * (`unionByName(allowMissingColumns)`), Delta's nullable-missing
    * rule. Metadata-only (the snapshot's recorded schema, no data touched);
    * nullability — top-level AND nested (array containsNull, map
    * valueContainsNull, struct field nullable) — is ignored via
    * [[nullNorm]] normalization on both sides: a literal-built
    * `array<int> containsNull=false` frame vs the same column read
    * back from the table's own parquet is the SAME type, not a flip. */
  /** Lossless widening lattice (the Delta type-widening feature's core):
    * byte < short < int < long within the integral family, float <
    * double within the fractional one. Everything else is NOT a
    * widening — cross-family and narrowing flips always abort. */
  private def widenRank(t: org.apache.spark.sql.types.DataType)
      : Option[(Char, Int)] = {
    import org.apache.spark.sql.types._
    t match {
      case ByteType => Some(('i', 0)); case ShortType => Some(('i', 1))
      case IntegerType => Some(('i', 2)); case LongType => Some(('i', 3))
      case FloatType => Some(('f', 0)); case DoubleType => Some(('f', 1))
      case _ => None
    }
  }
  private def widens(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean =
    (widenRank(from), widenRank(to)) match {
      case (Some((fa, ra)), Some((fb, rb))) => fa == fb && ra < rb
      case _ => false
    }

  /** Upcast frame columns NARROWER than the committed table type to the
    * table type (int frame into a long column, the everyday half of
    * type widening): the staged files then carry the table's type, so a
    * narrow write after a widening never re-introduces narrow files.
    * Run after [[enforceSchema]] at every data-write entry point. */
  private def conformToTable(s: Snapshot, df: DataFrame): DataFrame =
    s.schema.filter(_.fields.nonEmpty).map { cur =>
      val curT = cur.fields.map(f => f.name -> f.dataType).toMap
      df.schema.fields.foldLeft(df) { (d, f) =>
        curT.get(f.name) match {
          case Some(t) if widens(f.dataType, t) =>
            d.withColumn(f.name,
              org.apache.spark.sql.functions.col(f.name).cast(t))
          case _ => d
        }
      }
    }.getOrElse(df)

  /** Nullability-normal form for type comparison: all containsNull /
    * valueContainsNull / field-nullable flags forced true, field
    * metadata stripped, recursively. (Spark's own `asNullable` is
    * `private[spark]`.) */
  private def nullNorm(t: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    t match {
      case ArrayType(e, _) => ArrayType(nullNorm(e), containsNull = true)
      case MapType(k, v, _) =>
        MapType(nullNorm(k), nullNorm(v), valueContainsNull = true)
      case StructType(fs) => StructType(fs.map(f =>
        StructField(f.name, nullNorm(f.dataType), nullable = true)))
      case other => other
    }
  }

  private def enforceSchema(s: Snapshot, fs: StructType,
      mergeSchema: Boolean, verb: String): Unit = {
    // the row-tracking materialization namespace is writer-internal: a
    // user frame carrying it would collide with (or spoof) pinned ids
    val matClash = fs.fieldNames.filter(_.startsWith(MatPrefix))
    require(matClash.isEmpty,
      s"$verb: columns ${matClash.mkString(", ")} use the reserved " +
        s"row-tracking prefix '$MatPrefix'; choose different names")
    // a metadata-only commit on an EMPTY table records an empty struct —
    // that is "no schema yet", not "every column is new"
    s.schema.filter(_.fields.nonEmpty).foreach { cur =>
      val curT = cur.fields.map(f => f.name -> f.dataType).toMap
      val conflicts = fs.fields.flatMap(f =>
        curT.get(f.name).filter(t => nullNorm(t) != nullNorm(f.dataType))
          .flatMap { t =>
          if (widens(f.dataType, t))
            None // narrower write: upcast on stage (conformToTable)
          else if (widens(t, f.dataType) && mergeSchema)
            None // TYPE WIDENING evolution — recorded by evolvedSchemaOf
          else if (widens(t, f.dataType))
            Some(s"${f.name}: table ${t.catalogString} vs write " +
              s"${f.dataType.catalogString} — a lossless WIDENING; pass " +
              "mergeSchema=true to widen the table type")
          else
            Some(s"${f.name}: table ${t.catalogString} vs write " +
              s"${f.dataType.catalogString}")
        })
      if (conflicts.nonEmpty)
        sys.error(s"$verb: column type mismatch with the committed table " +
          s"schema — ${conflicts.mkString("; ")}")
      val extra = fs.fieldNames.filterNot(curT.contains)
      if (extra.nonEmpty && !mergeSchema)
        sys.error(s"$verb: columns ${extra.mkString(", ")} are not in the " +
          "committed table schema; pass mergeSchema=true to evolve it " +
          "(schema enforcement, the Delta write-path default)")
      // column-mapping reservation: a physical name backing a renamed
      // column, or a dropped column's physical name, cannot re-enter as
      // a new logical column — old files' bytes would reappear under it
      val reserved = s.mapping.values.toSet ++ s.dropped
      val clash = extra.filter(reserved)
      if (clash.nonEmpty)
        sys.error(s"$verb: columns ${clash.mkString(", ")} are reserved " +
          "by column mapping (physical name of a renamed or dropped " +
          "column); choose a different name")
    }
  }

  /** The TABLE schema this write's metaData action must record, with
    * whether it widened a field: the committed schema plus
    * (post-[[enforceSchema]]) any evolved-in new columns, in
    * committed-first order. NOT the frame's schema — a narrower append
    * (columns omitted, null-padded on read) must not shrink the
    * recorded table schema, exactly as a Delta append leaves metaData
    * untouched. Shared fields take the WIDER of (committed, frame) type
    * — enforceSchema already rejected any flip that is not a lossless
    * widening under mergeSchema — and the flag makes the commit declare
    * the `typeWidening` reader feature (a reader unioning per-commit
    * scans must coerce the mixed narrow/wide files, or it would misread
    * the column's type).
    *
    * Re-runnable on an OCC retry: a rival commit between stage and
    * claim may itself have evolved the table (widened a type, added a
    * column), and re-recording the schema
    * computed BEFORE the lost race would silently revert the rival's
    * evolution in the new latest metaData. Callers re-invoke this
    * against the fresh committed schema on every claim retry —
    * metadata-only (the claim snapshot's schema), no re-stage: staged
    * files may stay narrower than the table type, the read path
    * coerces via unionByName. Idempotent: re-evolving an
    * already-evolved schema against an unchanged table is identity. */
  private def evolvedSchemaOf(s: Snapshot, fs: StructType): (String, Boolean) =
    s.schema.filter(_.fields.nonEmpty) match {
      case None => (fs.json, false)
      case Some(cur) =>
        val frameT = fs.fields.map(f => f.name -> f.dataType).toMap
        var widened = false
        val updated = cur.fields.map { f =>
          frameT.get(f.name) match {
            case Some(ft) if widens(f.dataType, ft) =>
              widened = true; f.copy(dataType = ft)
            case _ => f
          }
        }
        val have = cur.fieldNames.toSet
        (org.apache.spark.sql.types.StructType(
          updated ++ fs.fields.filterNot(f => have(f.name))).json,
          widened)
    }

  /** Re-run write-schema validation iff the committed table schema moved
    * since it was last validated (the json `validated` captured). An OCC
    * claim retry re-derives its recorded schema against a table a rival
    * may have evolved INCOMPATIBLY since [[enforceSchema]] ran at entry
    * (e.g. the rival mergeSchema-adds `x:int` while this writer's staged
    * frame carries a not-yet-committed `x:string`): [[evolvedSchemaOf]]
    * keeps the committed type when neither side widens, so without this
    * check the claim would commit metadata whose type disagrees with the
    * staged parquet bytes — silently, no conflict error. Delta surfaces
    * exactly this as MetadataChangedException; aborting here does the
    * same (the staged dir becomes an orphan vacuum reclaims). Cheap when
    * nothing moved: a json compare against the snapshot's schema.
    * Returns the fresh json so the next retry compares against it. */
  private def reEnforceOnRetry(s: Snapshot, fs: StructType,
      mergeSchema: Boolean, validated: Option[String],
      verb: String): Option[String] = {
    val now = s.schema.map(_.json)
    if (now != validated)
      enforceSchema(s, fs, mergeSchema, s"$verb (claim retry: the table " +
        "schema changed underneath this writer)")
    now
  }

  /** Is `c` genuinely OUR stream's commit of `batchId`? Guards both
    * replay paths in [[process]]: the dir shape catches a metadata/OCC
    * commit squatting on the version (version = batchId is this
    * protocol's invariant), the appId catches a DIFFERENT stream
    * driving the same table — either way the batch must not be
    * silently swallowed. Pre-txn-era entries carry no appId and pass
    * on the dir shape alone. */
  private def isOwnStreamBatch(c: Entry, batchId: Long): Boolean =
    (c.dir == s"batch=$batchId" || c.dir.startsWith(s"batch=$batchId-")) &&
      c.txnAppId.forall(_ == appId)

  /** foreachBatch body: write-then-commit, idempotent on batchId.
    * `partitionBy` columns produce hive-style subdirectories inside the
    * batch dir (the Delta partitioned-table layout); the commit entry
    * records them in the `metaData` action alongside the schema.
    * `mergeSchema` opts this batch into schema evolution
    * ([[enforceSchema]]). */
  def process(df: DataFrame, batchId: Long, partitionBy: Seq[String] = Nil,
      mergeSchema: Boolean = false): Unit = {
    val s = snapshot()
    // Replay detection below is raw-log-file based (the listing). If
    // cleanupLog already reclaimed this batch's raw entry (it survives
    // only in a checkpoint), a replayed old batch would see no raw
    // entry, re-stage, and successfully re-claim the version
    // (no raw file left to collide with) — writing an orphan duplicate
    // entry below the truncation marker, invisible to readers but
    // muddying the exactly-once accounting. Fail loudly instead, like
    // the occupied-version require.
    if (batchId < s.truncatedBelow) {
      // The raw file is gone, but the batch may still be VERIFIABLY
      // committed: a surviving checkpoint carries the entry (txn action
      // included). A lagging/restored streaming checkpoint replaying an
      // already-committed own batch is then a provable exactly-once
      // no-op — only a genuinely unverifiable batch must fail.
      if (allKnownCommits(s).find(_.version == batchId)
          .exists(isOwnStreamBatch(_, batchId))) return
      sys.error(
        s"process(batchId=$batchId): this version is below the log's " +
          s"truncation marker (${s.truncatedBelow}), its raw entry was " +
          "reclaimed by cleanupLog, and no surviving checkpoint entry " +
          "verifies it as this stream's commit — version-pinned replay " +
          "detection cannot run; drive this table through appendBatch " +
          "(streamTxn-cursored) instead")
    }
    if (s.listing.versions.contains(batchId)) {
      // replay after crash → no-op, but ONLY when the occupying commit
      // really is this stream's batch (tables with a pre-stream log
      // need [[appendBatch]], which cursors on streamTxn instead of
      // version numbers)
      require(isOwnStreamBatch(parseCommit(batchId), batchId),
        s"process(batchId=$batchId): version $batchId is occupied by a " +
          "non-streaming or foreign-stream commit; use appendBatch " +
          "(streamTxn-cursored) instead")
      return
    }
    require(autoCompactEvery <= 0,
      "auto-compaction interleaves maintenance commits between batch " +
        "versions, which the version-pinned process() protocol cannot " +
        "tolerate — drive this table through appendBatch (streamTxn-" +
        "cursored) instead")
    enforceSchema(s, df.schema, mergeSchema, s"process(batchId=$batchId)")
    val gdf0 = applyGenerated(s, conformToTable(s, df))
    // identity assignment: the stream is the SINGLE writer, so there is
    // no watermark race — a crash-replay of this batch re-reads the
    // previous batch's committed watermark and the claim's idempotence
    // keeps exactly-once either way
    val idr = identityRules(s)
    val (gdf, advancedGen, releaseId) =
      if (idr.isEmpty) (gdf0, None, () => ())
      else {
        val (adf, adv, rel) = assignIdentity(gdf0, idr)
        (adf, Some(s.aux.generated ++ adv), rel)
      }
    try {
      // 1. publish data files (invisible to readers — they go through the
      //    log). Staging AND the final dir are ATTEMPT-UNIQUE: two
      //    concurrent replays of one batchId (zombie driver + its
      //    replacement) each write their own dir, the claim picks the
      //    winner, and the loser's dir is an unreferenced orphan vacuum
      //    reclaims — a shared `batch=<id>` target would let the loser's
      //    leftover-cleanup delete the WINNER'S committed files.
      //    The declared bloom policy (graft.bloom) rides streaming
      //    batches too — the PRIMARY ingest path; without it, every
      //    micro-batch after the declaration writes bloom-less files and
      //    point-probe pruning quietly decays as the table grows.
      val attempt = java.util.UUID.randomUUID().toString.take(8)
      val (polCols, polBits) = activeBloomPolicy(s)
      val pub = publish(s, gdf, s"batch=$batchId-$attempt", partitionBy,
        polCols.map(s.physicalOf), polBits, check = true)

      // 2. commit; a lost claim normally means a concurrent replay
      //    already committed this batchId — exactly-once either way.
      //    But verify it: a maintenance OCC commit (or a foreign
      //    stream) racing into version=batchId while this batch staged
      //    would otherwise swallow the batch silently.
      val (schemaJson, widened) = evolvedSchemaOf(s, gdf.schema)
      if (!claim(s, Entry(batchId, pub.dir, adds = pub.adds,
          schemaStr = Some(schemaJson), partitionColumns = partitionBy,
          generated = advancedGen, widened = widened))) {
        require(isOwnStreamBatch(parseCommit(batchId), batchId),
          s"process(batchId=$batchId): lost the version claim to a " +
            "non-streaming or foreign-stream commit — use appendBatch " +
            "(streamTxn-cursored) instead")
      }
    } finally releaseId()
  }

  /** AUTO-COMPACTION (the Delta auto-compact analog): a streaming
    * daemon accretes one small-file commit per micro-batch forever;
    * with `autoCompactEvery = N`, every Nth successful [[appendBatch]]
    * commit synchronously runs the incremental OPTIMIZE
    * ([[compactSmall]]) so the live file count stays bounded by the
    * write rate, not the stream's age. appendBatch-only: the packing
    * commit claims its own version, which the version-pinned
    * [[process]] protocol cannot tolerate (process refuses the knob
    * loudly). Post-commit and best-effort — the batch's exactly-once
    * commit has already happened, so a failed/raced compaction costs
    * nothing but deferred packing. Cost model unchanged from
    * compactSmall: O(small files), retired files pruned from the live
    * scan, CDC-transparent. */
  private val commitsSinceCompact = new java.util.concurrent.atomic.AtomicLong(0L)
  private def maybeAutoCompact(spark: SparkSession): Unit =
    if (autoCompactEvery > 0 &&
        commitsSinceCompact.incrementAndGet() % autoCompactEvery == 0)
      try { compactSmall(spark, targetBytes = autoCompactTargetBytes); () }
      catch { case scala.util.control.NonFatal(_) => () }

  // ---------------------------------------------------------------------
  // protocol 2: multi-writer optimistic concurrency
  // ---------------------------------------------------------------------

  /** Optimistically-committed append: safe under concurrent writers.
    * Data is staged once under a writer-unique dir; the claim loop only
    * re-targets the version number (append⇄append never conflicts).
    * Returns the committed version.
    *
    * `clusterBy` z-order-clusters the append across `clusterFiles` write
    * units (graft.operators.ZOrder) so the per-file footer stats the
    * commit records are tight on EVERY clustered column — readSkipping
    * then prunes on any of them, not just a partition column.
    *
    * `bloomBy` additionally records a per-file bloom filter for each
    * named column (`bloomBits` wide) — `readLookup` then prunes files on
    * EQUALITY probes that range stats cannot serve.
    *
    * `mergeSchema` opts this append into schema evolution
    * ([[enforceSchema]] — new columns rejected by default). */
  /** Test seams (no-ops in production): `stagedHook` fires after the
    * plain-append staging write, `identityReserveHook` at the top of
    * every allow-gaps reservation attempt — each lets a spec land a
    * RIVAL commit at exactly the racy instant (rival schema evolution,
    * rival contiguous-rule declaration) that a thread race would only
    * hit probabilistically. */
  private[graft] var stagedHook: () => Unit = () => ()
  private[graft] var identityReserveHook: () => Unit = () => ()
  /** Fires in the snapshot/MOR/compactSmall transaction loops after
    * staging completes and before the first claim attempt — the window
    * where a rival landing forces the conflict path (rebase or
    * recompute). Deterministic conflict-narrowing tests live on it. */
  private[graft] var txnStagedHook: () => Unit = () => ()

  def commitAppend(df: DataFrame, partitionBy: Seq[String] = Nil,
      clusterBy: Seq[String] = Nil, clusterFiles: Int = 8,
      bloomBy: Seq[String] = Nil, bloomBits: Int = 4096,
      mergeSchema: Boolean = false,
      streamTxn: Option[(String, Long)] = None): Long = {
    val s0 = snapshot()
    enforceSchema(s0, df.schema, mergeSchema, "commitAppend")
    // no caller bloom spec → the table's declared policy applies
    // (activeBloomPolicy doc): appendBatch funnels here too, so every
    // OCC/streaming-cursored append keeps the policy on new files.
    // STAGING uses the inherited (bBy, bBits); the recorded `graft.bloom`
    // DOMAIN below uses only the caller's EXPLICIT declaration —
    // activeBloomPolicy filters out columns the live schema dropped, so
    // re-recording the inherited view after a column DROP would make
    // the narrowing permanent (the same hazard compactSmall avoids by
    // re-recording only explicit declarations).
    val (bBy, bBits) =
      if (bloomBy.nonEmpty) (bloomBy, bloomBits) else activeBloomPolicy(s0)
    // the table schema enforceSchema just validated against: every claim
    // (re)derivation below first compares its snapshot's schema to this and
    // RE-VALIDATES when a rival moved it — evolvedSchemaOf alone would
    // silently keep a rival's incompatible type (reEnforceOnRetry doc)
    var validated = s0.schema.map(_.json)
    // the plain-append claim: blind version re-target (append⇄append
    // never conflicts). The recorded schema is re-derived AFTER staging
    // and on every retry: a rival that committed an evolution (widening
    // / new column) while this writer staged — or between claim
    // attempts — must not have it reverted by our stale stage-time
    // schemaString (evolvedSchemaOf doc; staged files are untouched,
    // reads coerce). A rival landing between this read and the claim
    // takes our version, the claim fails, and the retry re-reads — so a
    // SUCCESSFUL claim always recorded fresh metadata. Each
    // (re)derivation re-validates first: a rival evolution that is
    // INCOMPATIBLE with the staged frame must abort, not be re-derived
    // around (reEnforceOnRetry doc). The first attempt claims on `from`,
    // the snapshot the stage was built on; a lost race refreshes.
    def claimAppend(frame: DataFrame, st: Published, from: Snapshot): Long = {
      var s = from
      while (true) {
        validated = reEnforceOnRetry(s, frame.schema, mergeSchema, validated,
          "commitAppend")
        val (sj, wd) = evolvedSchemaOf(s, frame.schema)
        if (claim(s, Entry(s.next, st.dir, adds = st.adds, schemaStr = Some(sj),
            partitionColumns = partitionBy, streamTxn = streamTxn, widened = wd,
            domains = writeDomains(s, clusterBy, bloomBy, bloomBits))))
          return s.next
        s = snapshot() // lost the race — next version
      }
      -1L // unreachable
    }
    val gdf = applyGenerated(s0, conformToTable(s0, df))
    val idr0 = identityRules(s0)
    if (idr0.isEmpty) {
      val st = stageAppend(s0, gdf, partitionBy, clusterBy, clusterFiles,
        bBy, bBits)
      stagedHook()
      claimAppend(gdf, st, s0)
    } else if (idr0.forall(_._5)) {
      // ALLOW-GAPS identity (the Delta-parity trade, setIdentityColumn
      // allowGaps = true): RESERVE the range in a cheap METADATA
      // pre-commit — a metadata-only entry advancing the watermark by
      // step × rowCount — then bake the reserved values into ONE
      // staging pass and claim like a plain append. Guarantees kept:
      // uniqueness and per-column monotonicity (reservations serialize
      // through the dense claim sequence). Guarantee dropped:
      // contiguity — a crash between reservation and data commit
      // leaves a GAP (never a duplicate), exactly Delta's identity
      // semantics. Contention economics vs the contiguous mode: a
      // rival costs one O(1) metadata re-claim instead of a re-assign
      // + re-stage parquet rewrite (measured side by side in
      // golden/occ_r14.json).
      val prep = prepareIdentity(gdf, idr0.map(_._1))
      try {
        // 1. reserve: read (rules, next version) as ONE log view and
        //    claim exactly that version — dense claims make the
        //    read-reserve atomic (same argument as the contiguous loop)
        var base: Seq[(String, Long, Long, Long, Boolean)] = Nil
        var reserved = false
        var contiguousRival = false
        while (!reserved && !contiguousRival) {
          identityReserveHook()
          val s = snapshot()
          val gen = s.aux.generated
          val rules = identityRules(s)
          if (rules.exists(!_._5)) {
            // a rival declared a CONTIGUOUS (allowGaps = false) identity
            // rule after our idr0 read — legal while the table is empty.
            // A reservation would advance that rule's watermark in a
            // metadata-only commit, which is exactly what contiguity
            // forbids (a crash before the data commit would leave its
            // sequence a hole). Abandon the reservation and take the
            // contiguous OCC path, which assigns EVERY rule — gaps ones
            // included — inside the data commit itself.
            contiguousRival = true
          } else {
            // each rule's OWN mode flag — a fresh re-read must never
            // rewrite a rival rule's declared mode in the advanced map
            val advanced = rules.map { case (n, s0, k, wm, g) =>
              n -> (s"IDENTITY($s0,$k,${wm + k * prep.total}" +
                s"${if (g) ",gaps" else ""})")
            }.toMap
            ExactlyOnceSink.identityClaimAttempts.incrementAndGet()
            if (claim(s, Entry(s.next, op = "RESERVE IDENTITY",
                schemaStr = Some(metaSchemaJson(s)),
                generated = Some(gen ++ advanced)))) {
              base = rules; reserved = true
            }
          }
        }
        if (contiguousRival)
          commitIdentityContiguous(prep, mergeSchema, validated,
            partitionBy, clusterBy, clusterFiles, bBy, bBits,
            declaredBloomBy = bloomBy, streamTxn = streamTxn)
        else {
          // 2. assign from the reserved base and stage ONCE; the advanced
          //    watermark already rode the reservation commit
          val (adf, _) = assignFromPrep(prep, base)
          // 3. commit like a plain append
          val s = snapshot()
          claimAppend(adf, stageAppend(s, adf, partitionBy, clusterBy,
            clusterFiles, bBy, bBits), s)
        }
      } finally prep.release()
    } else {
      // identity appends CAN conflict (two writers reading one watermark
      // would assign overlapping ranges), so the blind re-target above is
      // not safe here. Proper OCC: read (watermark, next version) as ONE
      // log view and claim EXACTLY that version — claims are dense, so
      // any rival commit after the read occupies that version and our
      // claim fails; on failure re-read, and only re-assign + re-stage
      // when the watermark actually moved (a rival identity append).
      //
      // Contention economics (measured against the allow-gaps mode in
      // golden/occ_r14.json, which OccStressSpec records): at W
      // concurrent writers every rival data commit moves the watermark,
      // so a commit pays O(W) re-assign+re-stage parquet rewrites —
      // identity values are baked into the staged files, and atomic
      // GLOBAL CONTIGUITY (our declared semantics; crash leaves no gap
      // because assignment and data ride ONE commit) is exactly what
      // forbids reserving a range in a cheap metadata pre-commit. Delta
      // makes the opposite call: identity guarantees only uniqueness and
      // allows gaps, which is why it scales to high writer counts. The
      // frame pin + partition counts ARE watermark-independent and are
      // prepared once (prepareIdentity); retries pay re-projection +
      // re-staging only. High-contention identity ingest should funnel
      // through ONE streaming writer (appendBatch), which never races.
      val prep = prepareIdentity(gdf, idr0.map(_._1))
      try commitIdentityContiguous(prep, mergeSchema, validated,
        partitionBy, clusterBy, clusterFiles, bBy, bBits,
        declaredBloomBy = bloomBy, streamTxn = streamTxn)
      finally prep.release()
    }
  }

  /** The contiguous-identity OCC commit loop (see [[commitAppend]]'s
    * branch comment for the contention economics): read (rules, next
    * version) as one log view, (re)assign + (re)stage only when the
    * watermark actually moved, claim exactly the read version. Also the
    * fallback for an allow-gaps append that discovers a rival-declared
    * CONTIGUOUS rule mid-reservation — this loop assigns every rule
    * inside the data commit, which is correct (if conservative) for
    * gaps-mode rules too. Caller owns `prep`'s release. */
  private def commitIdentityContiguous(prep: IdentityPrep,
      mergeSchema: Boolean, validated0: Option[String],
      partitionBy: Seq[String], clusterBy: Seq[String], clusterFiles: Int,
      bloomBy: Seq[String], bloomBits: Int,
      // the caller's EXPLICIT bloom declaration (empty when bloomBy was
      // inherited from the table policy) — only this is re-recorded
      // into the graft.bloom domain (commitAppend's narrowing note)
      declaredBloomBy: Seq[String],
      streamTxn: Option[(String, Long)]): Long = {
    var validated = validated0
    var staged: Option[(Seq[(String, Long, Long, Long, Boolean)],
      Map[String, String], Published, String)] = None
    while (true) {
      val s = snapshot()
      val gen = s.aux.generated
      val rules = identityRules(s)
      if (!staged.exists(_._1 == rules)) {
        // first attempt, or stale range — (re)assign and (re)stage;
        // an abandoned staged dir is an orphan vacuum reclaims
        if (staged.isDefined) ExactlyOnceSink.identityRestages.incrementAndGet()
        val (adf, advanced) = assignFromPrep(prep, rules)
        val st = stageAppend(s, adf, partitionBy, clusterBy, clusterFiles,
          bloomBy, bloomBits)
        staged = Some((rules, gen ++ advanced, st, evolvedSchemaOf(s, adf.schema)._1))
      }
      val (_, genOut, st, stagedSchema) = staged.get
      ExactlyOnceSink.identityClaimAttempts.incrementAndGet()
      // same stale-schema hazard as the non-identity retry loop: a
      // rival that does NOT move the watermark (plain append with
      // mergeSchema) skips the restage branch, so re-validate
      // (reEnforceOnRetry — an incompatible rival evolution must abort,
      // not be silently kept) and re-derive the recorded schema from
      // the staged one against the fresh committed table on every
      // attempt (evolvedSchemaOf doc)
      val fsI = DataType.fromJson(stagedSchema).asInstanceOf[StructType]
      validated = reEnforceOnRetry(s, fsI, mergeSchema, validated,
        "commitAppend")
      val (sjI, wdI) = evolvedSchemaOf(s, fsI)
      if (claim(s, Entry(s.next, st.dir, adds = st.adds, schemaStr = Some(sjI),
          partitionColumns = partitionBy, generated = Some(genOut),
          streamTxn = streamTxn, widened = wdI,
          domains = writeDomains(s, clusterBy, declaredBloomBy, bloomBits))))
        return s.next
    }
    -1L // unreachable
  }

  /** Streaming APPEND cursored on the (appId, batchId) txn action — the
    * Delta idempotent-writer pattern, and the streaming entry point for
    * tables whose log did not start with the stream (metadata commits,
    * OCC writers, identity declarations shift version numbers away from
    * batchIds, which the [[process]] protocol cannot tolerate). A
    * replayed micro-batch sees its batchId at or below the committed
    * cursor and no-ops; otherwise the batch commits through the full
    * [[commitAppend]] OCC path — identity assignment included — with
    * the cursor riding the same commit atomically. One streaming writer
    * per `streamAppId` (Spark's guarantee); concurrent OCC writers on
    * other appIds are safe. Returns the committed version, or -1 for a
    * replay no-op. */
  def appendBatch(df: DataFrame, batchId: Long,
      streamAppId: String = appId, partitionBy: Seq[String] = Nil,
      clusterBy: Seq[String] = Nil, clusterFiles: Int = 8,
      bloomBy: Seq[String] = Nil, bloomBits: Int = 4096,
      mergeSchema: Boolean = false): Long = {
    if (lastStreamBatch(streamAppId).exists(_ >= batchId)) return -1L
    val v = commitAppend(df, partitionBy, clusterBy, clusterFiles, bloomBy,
      bloomBits, mergeSchema = mergeSchema,
      streamTxn = Some(streamAppId -> batchId))
    maybeAutoCompact(df.sparkSession)
    v
  }

  /** The domain-metadata delta a clustered write records — the Delta
    * pattern of building clustering state on domainMetadata: readers
    * (and OPTIMIZE policy) can discover the table's clustered columns
    * from the log instead of out-of-band configuration. PHYSICAL names
    * are recorded (like `graft.bloom`, and unlike rounds ≤ 16 which
    * recorded logical ones): a physical name survives RENAME, so a
    * parameterless OPTIMIZE after a rename still discovers the full
    * declared layout instead of silently narrowing it. Discovery
    * ([[activeClusterCols]]) translates back to the current logical
    * view and tolerates legacy logical-name records. */
  private def clusterDomain(s: Snapshot, clusterBy: Seq[String])
      : Option[Map[String, Option[Map[String, String]]]] =
    if (clusterBy.isEmpty) None
    else Some(Map("graft.clustering" ->
      Some(Map("columns" -> clusterBy.map(s.physicalOf).mkString(",")))))

  /** The table's recorded clustering layout as CURRENT LOGICAL column
    * names: reverse-maps each recorded physical name through the active
    * column mapping (legacy logical-name records pass through
    * unchanged), then drops names the live schema no longer carries
    * (DROPped columns — the only case that genuinely narrows the
    * layout; a RENAMEd column resolves to its new logical name). */
  private def activeClusterCols(s: Snapshot): Seq[String] =
    liveLogical(s, s.aux.domains.get("graft.clustering")
      .flatMap(_.get("columns")).toSeq
      .flatMap(_.split(',')).filter(_.nonEmpty))

  /** Recorded (physical, or legacy logical) column names as the live
    * schema's logical names; names it no longer has fall out. */
  private def liveLogical(s: Snapshot, recorded: Seq[String]): Seq[String] = {
    val logicalOf = s.mapping.map(_.swap)
    recorded.map(c => logicalOf.getOrElse(c, c))
      .filter(c => s.schema.exists(_.fieldNames.contains(c)))
  }

  /** Every domain delta a WRITE records: `graft.clustering` plus
    * `graft.bloom` — both under PHYSICAL column names + (for bloom) the
    * bitmap width, matching the per-file bloom keys so the policies
    * survive renames. The bloom domain exists so OPTIMIZE (and every
    * copy-on-write rewrite) can recompute blooms for its packed output
    * instead of silently retiring the table's point-probe pruning along
    * with the original files. */
  private def writeDomains(s: Snapshot, clusterBy: Seq[String], bloomBy: Seq[String],
      bloomBits: Int): Option[Map[String, Option[Map[String, String]]]] = {
    val bl: Map[String, Option[Map[String, String]]] =
      if (bloomBy.isEmpty) Map.empty
      else Map("graft.bloom" -> Some(Map(
        "columns" -> bloomBy.map(s.physicalOf).mkString(","),
        "bits" -> bloomBits.toString)))
    val m = clusterDomain(s, clusterBy).getOrElse(Map.empty) ++ bl
    if (m.isEmpty) None else Some(m)
  }

  /** The table's recorded bloom policy: (physical columns, bitmap
    * bits) from the `graft.bloom` domain, or (Nil, default). */
  private def bloomPolicy(s: Snapshot): (Seq[String], Int) =
    s.aux.domains.get("graft.bloom") match {
      case Some(cfg) => (
        cfg.get("columns").toSeq.flatMap(_.split(',')).filter(_.nonEmpty),
        cfg.get("bits").map(_.toInt).getOrElse(4096))
      case None => (Nil, 4096)
    }

  /** The recorded bloom policy translated to CURRENT LOGICAL names and
    * filtered to the live schema (DROPped columns fall out) — the shape
    * the write paths take, so their physicalOf round-trip lands back on
    * the recorded physical keys. Appends that pass no `bloomBy` of
    * their own default to this: once a policy is declared, NEW data
    * keeps the table's point-probe pruning instead of silently writing
    * bloom-less files (rewrites — OPTIMIZE/CoW/MOR — already honor it). */
  private def activeBloomPolicy(s: Snapshot): (Seq[String], Int) = {
    val (phys, bits) = bloomPolicy(s)
    (liveLogical(s, phys), bits)
  }

  /** Publish one optimistic append's data files under a writer-unique
    * dir — everything a claim needs, claiming left to the caller (plain
    * appends blind-retry versions; identity appends pin the version to
    * their watermark read). */
  private def stageAppend(s: Snapshot, gdf: DataFrame, partitionBy: Seq[String],
      clusterBy: Seq[String], clusterFiles: Int,
      bloomBy: Seq[String], bloomBits: Int): Published = {
    // A clustered append runs TWO actions over the input (the quantile
    // sketch pass inside ZOrder.key, then the staged write): persist the
    // input so an expensive upstream query feeding the append computes
    // once, not twice. Released after staging. Generation runs FIRST so
    // clusterBy/partitionBy may name a generated column.
    val pinned = if (clusterBy.isEmpty) None else Some(gdf.persist())
    val clustered = pinned
      .map(graft.operators.ZOrder.cluster(_, clusterBy, clusterFiles))
      .getOrElse(gdf)
    val uuid = java.util.UUID.randomUUID().toString
    try publish(s, clustered, s"files/$uuid", partitionBy,
      bloomBy.map(s.physicalOf), bloomBits, check = true)
    finally pinned.foreach(_.unpersist(blocking = false))
  }

  /** Optimistic read-modify-write transaction (Delta's OCC loop): reads
    * the live table, applies `f`, and commits the result as a snapshot
    * at exactly the version following what was read. If another writer
    * commits first, the read state is stale — re-read, recompute, retry.
    * Returns the committed version.
    *
    * A bare transactSnapshot records op=SNAPSHOT and NO change rows —
    * `readChanges` over such a commit fails loudly, because an arbitrary
    * user transform's logical change set is unknowable here. merge() /
    * delete() / compact() go through [[transactSnapshotChanges]] and stay
    * CDC-consumable. */
  def transactSnapshot(spark: SparkSession, maxRetries: Int = 20)
      (f: DataFrame => DataFrame): Long =
    transactSnapshotChanges(spark, "SNAPSHOT", maxRetries)(df => (f(df), None))

  /** OCC snapshot commit that also records the commit's LOGICAL change
    * rows (each tagged with a `_change_type` column) under
    * `data/changes/<uuid>` — the Delta Change Data Feed `_change_data`
    * analog. `f` computes (new state, change rows) from the SAME read
    * state, and both are recomputed together on a conflict retry, so the
    * recorded changes always describe exactly the transition this
    * version committed. `None` changes mean "no logical change"
    * (compact — a physical rewrite). */
  private def transactSnapshotChanges(spark: SparkSession, op: String,
      maxRetries: Int = 20, streamTxn: Option[(String, Long)] = None)
      (f: DataFrame => (DataFrame, Option[DataFrame])): Long =
    occTransact(s"transactSnapshot($op)", maxRetries) { s =>
      // the version whose state `f` reads: a WriteSerializable re-claim
      // moves the claimed version past rival pure appends while the base
      // — and the published output — stay fixed (the appends remain
      // visible, [[Entry.snapBase]] / [[Snapshot]])
      val base = s.version
      // under row tracking the transform sees the live state with every
      // row's id RESOLVED into the materialization columns: surviving
      // rows carry them into the rewritten files (id stability through
      // copy-on-write), rows the transform introduces lack them and
      // read back fresh virtual ids — the Delta rewrite rule
      val (out0, changes0) = f(liveDataMat(spark, s))
      // re-derive generated columns the transform may have dropped (a
      // narrower merge frame) and validate the ones it carried
      val out = applyGenerated(s, out0)
      val uuid = java.util.UUID.randomUUID().toString
      // a declared bloom policy survives EVERY copy-on-write rewrite
      // (compact, CoW merge/delete, arbitrary snapshot transforms):
      // recompute blooms for the rewritten files — a maintenance pass
      // must not retire the table's point-probe pruning
      val (polCols, polBits) = bloomPolicy(s)
      val pub = publish(s, out, s"files/$uuid", Nil, polCols, polBits,
        check = true)
      // the CDC change rows are a LOGICAL feed — the physical
      // materialization columns never leak into it; their footer stats
      // are the CDC skipping metadata readChanges pruneBy prunes on
      val ch = changes0.map(c => publish(s, dropMat(c), s"changes/$uuid", Nil,
        Nil, 0, check = false))
      // record the EVOLVED table schema (latestSchema ∪ output frame),
      // never the frame's alone: when no visible file carries a column
      // (the table emptied, then narrow appends landed), the snapshot's
      // read-derived frame lacks it, and recording that frame would
      // SHRINK the table schema — breaking latestSchema monotonicity,
      // after which a mergeSchema append re-adds the column at the
      // NARROW width and readers coerce wide committed data down
      // (caught by the protocol fuzz at the widen × empty ×
      // narrow-append × merge product)
      val outSchemaNoMat = org.apache.spark.sql.types.StructType(
        out.schema.fields.filterNot(_.name.startsWith(MatPrefix)))
      val matF = out.columns.contains(MatIdCol)
      Some { (t: Snapshot) =>
        val (sj, wd) = evolvedSchemaOf(t, outSchemaNoMat)
        Entry(t.next, pub.dir, snapshot = true, pub.adds, op, Some(sj),
          changeDir = ch.map(_.dir), changeAdds = ch.fold(Seq.empty[AddFile])(_.adds),
          streamTxn = streamTxn, base = Some(base), widened = wd, matFiles = matF)
      }
    }

  /** The OCC transaction loop of the snapshot, MOR and OPTIMIZE verbs.
    * Each attempt takes one snapshot and runs `attempt` on it, which
    * computes and publishes the transaction's output from that state and
    * returns how to render the entry to claim at a given snapshot's
    * `next` version (None: nothing to commit, returns -1). It is
    * re-rendered per claim, so the schema union is re-derived — and
    * [[claim]] re-runs row-id allocation — against the claim's
    * snapshot; the rivals a lost claim met are the refreshed snapshot's
    * entries from the lost version on. Under WriteSerializable
    * and with `rebase` on, a claim lost only to rival PURE APPENDS
    * re-claims the next version with the SAME published output (a
    * rebase); a genuinely conflicting rival — removes/DVs/snapshot/
    * metadata — invalidated the state the output was computed on, so
    * the published dirs are abandoned (never visible — vacuum reclaims
    * them) and the attempt recomputes, at most `maxRetries` times.
    * Verbs that re-point the WHOLE live set (RESTORE, the row-tracking
    * backfill) pass `rebase = false`: re-claiming their entry past a
    * rival append would silently drop the rival's rows. */
  private def occTransact(verb: String, maxRetries: Int, rebase: Boolean = true)(
      attempt: Snapshot => Option[Snapshot => Entry]): Long = {
    var recomputes = 0
    val rivalLog = scala.collection.mutable.ArrayBuffer.empty[Entry]
    while (true) {
      var s = snapshot()
      val render = attempt(s) match {
        case Some(r) => r
        case None => return -1L
      }
      txnStagedHook()
      var rebased = true
      while (rebased) {
        if (claim(s, render(s))) return s.next
        val fresh = snapshot()
        val rivals = fresh.entries.filter(_.version >= s.next)
        rivalLog ++= rivals
        rebased = rebase && isolation == ExactlyOnceSink.WriteSerializable &&
          rivals.nonEmpty && rivals.forall(rebaseable)
        if (rebased) txnRebases.incrementAndGet()
        s = fresh
      }
      txnRecomputes.incrementAndGet()
      recomputes += 1
      if (recomputes > maxRetries)
        sys.error(s"$verb: gave up after $maxRetries recomputes — every " +
          s"claim lost to rival commits [${rivalSummary(rivalLog.toSeq)}]. " +
          (if (!rebase) "This verb re-points the whole live set, so every " +
            "rival forces a recompute; nothing was committed — retry when " +
            "writer contention subsides"
          else "Conflicting rivals (snapshot/merge/delete/metadata) force a " +
            "full recompute per attempt; pure appends rebase without " +
            "recompute under WriteSerializable — a list of APPENDs here " +
            "means this sink is running Serializable isolation against a " +
            "hot ingest table"))
    }
    -1L // unreachable
  }

  // ---------------------------------------------------------------------
  // read path
  // ---------------------------------------------------------------------

  /** A file's identity across the whole table: its data/-relative path.
    * Ordinary commits record add paths relative to their own dir; a
    * RESTORE commit's lifted adds are already dir-qualified. Deletion
    * vectors and remove actions key on this. */
  private def addKey(c: Entry, a: AddFile): String =
    if (c.restoreDirs.nonEmpty || c.dir.isEmpty) a.path else s"${c.dir}/${a.path}"

  /** The merge-on-read tombstone state a commit sequence leaves behind:
    * files dropped from the live set (`removed`) and per-file deleted
    * row positions (`dv`). Writers always record a file's FULL vector
    * (existing ∪ new), so the fold is latest-wins per file; a remove
    * supersedes the file's DV. Snapshot commits (merge/delete/compact/
    * restore copy-on-write) clear everything earlier via
    * the snapshot's compaction, so tombstones never survive a rewrite
    * of the state they applied to. */
  private case class Tombstones(removed: Set[String], dv: Map[String, Array[Long]]) {
    def isEmpty: Boolean = removed.isEmpty && dv.isEmpty
    /** Fold one more commit's removes and vectors. */
    def +(c: Entry): Tombstones = Tombstones(removed ++ c.removes, dv ++ c.dvs -- c.removes)
  }

  private val NoTombstones = Tombstones(Set.empty, Map.empty)

  /** Per-version log-entry parses since construction — the cost
    * checkpointing bounds; exposed so tests can assert the O(interval)
    * replay claim instead of trusting it. */
  private[graft] val logFileParses = new java.util.concurrent.atomic.AtomicLong

  /** Conflict-path instrumentation (the schemaParses pattern: observable
    * so the "disjoint rivals cost no recompute" claim is testable, never
    * consulted by the protocol). A RECOMPUTE is a full
    * re-read+transform+re-stage pass forced by a genuinely conflicting
    * rival; a REBASE is a metadata-only re-claim past rival pure appends
    * under WriteSerializable. */
  private[graft] val txnRecomputes = new java.util.concurrent.atomic.AtomicLong
  private[graft] val txnRebases = new java.util.concurrent.atomic.AtomicLong

  /** Can a WriteSerializable transaction re-claim past this rival
    * commit without recomputing? Yes iff the rival is a PURE DATA
    * APPEND — adds only. Anything that could intersect the
    * transaction's read set or mutate table metadata forces the full
    * retry: removes/DVs (our probe may have read those rows), snapshot/
    * restore (whole-state replacement), constraints/generated/column
    * mapping/drops (our staged output was validated against the old
    * metadata; identity RESERVE commits fall out via `generated`).
    * Additive bookkeeping an append legitimately carries is fine: ict,
    * txn/streamTxn cursors, a rowIdWatermark advance (the re-claim
    * re-renders its entry against the fresh watermark), schema
    * EVOLUTION riding the append (the re-claim re-derives the recorded
    * schema union — a widening that is incompatible with committed data
    * is impossible by enforceSchema), and upserts to the layout-hint
    * domains (graft.clustering / graft.bloom — write-layout metadata
    * that never affects a transaction's read set; stale staged blooms
    * only prune less, never wrong). */
  private def rebaseable(c: Entry): Boolean =
    !c.snapshot && c.restoreDirs.isEmpty && c.removes.isEmpty &&
      c.dvs.isEmpty && c.constraints.isEmpty && c.generated.isEmpty &&
      c.columnMapping.isEmpty && c.droppedCols.isEmpty &&
      c.domains.forall(_.forall { case (d, v) =>
        (d == "graft.clustering" || d == "graft.bloom") && v.isDefined })

  /** One line of "who beat us" for the gave-up errors, so an operator
    * can tell a hot table from a bug: a rival a WriteSerializable
    * transaction could rebase past reads APPEND, any other its op. */
  private def rivalSummary(rs: Seq[Entry]): String =
    rs.takeRight(12).map { c =>
      s"v${c.version}:${if (rebaseable(c)) "APPEND" else c.op}" }.mkString(", ")

  /** One committed entry and its raw log line, read from its log file. */
  private def readEntry(v: Long): (Entry, String) = {
    logFileParses.incrementAndGet()
    val text = store.read(logName(v))
    (Entry.parse(text, v), text.trim)
  }

  private def parseCommit(v: Long): Entry = readEntry(v)._1

  /** Read the committed table state (only data referenced by the log);
    * `versionAsOf` time-travels to the state after that version
    * committed. The commit version surfaces as a `batch` column.
    * `mergeSchema` = Delta-style schema evolution on read: commits
    * written with widened schemas union into one (missing columns
    * null), per the schemaString each commit's metaData records.
    *
    * Presentation semantics, disclosed divergence from Delta: the
    * presented schema is the UNION OF THE VISIBLE FILES' schemas, so a
    * column that no visible file carries (the table emptied, then only
    * narrow appends landed) temporarily disappears from presentation —
    * Delta would present it as all-null from the table schema. The
    * RECORDED table schema stays monotone regardless (latestSchema —
    * snapshot claims record the evolved union, TypeWideningSpec pins
    * this), so the column and its widened type reappear intact with the
    * next write that carries it; nothing is lost, only not shown while
    * no file holds it.
    *
    * LIVE reads of flat commits present columns in the RECORDED schema
    * order (batch last) — the Delta presentation — because the scan
    * takes the recorded physical schema instead of per-commit footer
    * inference; time-travel reads keep the legacy union-accretion order
    * (StreamingSpec pins live ≡ as-of-latest value-wise).
    *
    * The plan does not grow with the table's history: every flat file
    * of every visible commit is ONE scan ([[scanCommits]]), and `batch`
    * is looked up per row, so the code Spark generates for a read — and
    * for every streaming micro-batch plan built on it — is the same
    * after commit 3 and commit 3000 and hits the codegen cache. */
  def read(spark: SparkSession,
      versionAsOf: Option[Long] = None,
      mergeSchema: Boolean = false): DataFrame = {
    val live = snapshot()
    readAt(spark, live, versionAsOf.map(asOf(live, _)), mergeSchema)
  }

  /** [[read]] of `at` (None: the live state), presented through the
    * live snapshot's column mapping. */
  private def readAt(spark: SparkSession, live: Snapshot, at: Option[Snapshot],
      mergeSchema: Boolean = false): DataFrame = {
    val s = at.getOrElse(live)
    // metadata-only commits (SET CONSTRAINT) carry no data files
    val commits = s.live
    if (commits.isEmpty) return spark.emptyDataFrame
    val ts = s.ts
    // Flat commits read through an EXPLICIT recorded schema — the
    // log-is-the-schema-authority path: no per-call footer-inference
    // job, and the add-listed exact file paths replace the directory
    // listing (§6). Live reads take the latest recorded physical schema
    // (flatReader); time-travel reads take the schema RECORDED AT the
    // newest visible commit that records one (the as-of authority), but
    // only while no column mapping existed at that version — under
    // mapping the files carry frozen physical names that the as-of
    // logical schema cannot address, so those keep the per-commit
    // inference read.
    val explicit = explicitReader(spark, live, at)
    if (ts.isEmpty)
      // fast path — a table never touched by merge-on-read reads with
      // no row-position columns and no anti-joins
      dropMat(toLogical(live, scanCommits(spark, commits, explicit, batch = true,
        pos = false, mergeSchema)(_ => true)))
    else {
      val scanned = scanWithPos(spark, live, commits, ts, mergeSchema,
        explicit = explicit)
      if (scanned.columns.isEmpty) scanned // every file removed
      else dropMat(applyTombstones(scanned, ts).drop(FileCol, RidxCol))
    }
  }

  /** The explicit-schema reader for flat committed files of this read,
    * when one is safe (see [[read]]): latest recorded physical schema
    * for live reads (mat columns included — [[flatReader]]), the
    * schema recorded at the as-of snapshot for time-travel reads of a
    * version with no column mapping yet, None (→ per-dir inference)
    * otherwise. */
  private def explicitReader(spark: SparkSession, live: Snapshot,
      at: Option[Snapshot]): Option[org.apache.spark.sql.DataFrameReader] =
    at match {
      case None => physicalReadSchema(live).map(_ => flatReader(spark, live))
      case Some(s) =>
        if (s.mapping.nonEmpty || s.dropped.nonEmpty) None
        else s.schema.filter(_.fields.nonEmpty).map(spark.read.schema(_))
    }

  // ---------------------------------------------------------------------
  // merge-on-read (deletion vectors)
  // ---------------------------------------------------------------------

  private val FileCol = "__graft_file"
  private val RidxCol = "__graft_ridx"

  /** Row-tracking MATERIALIZATION columns (reserved physical payload,
    * the Delta materialized-row-id analog): a rewrite (OPTIMIZE /
    * copy-on-write MERGE / DELETE / REPLACE WHERE) pins each surviving
    * row's id — and, where preserved, its commit version — into these
    * columns inside the rewritten files, so the id survives the row's
    * (file, position) changing. Hidden from every logical read
    * ([[dropMat]]); a fresh row reads its VIRTUAL id instead:
    * baseRowId + row position ([[readWithRowIds]]). */
  private val MatPrefix = "_graft_mat_"
  private val MatIdCol = "_graft_mat_rowid"
  private val MatRcvCol = "_graft_mat_rcv"

  private def dropMat(df: DataFrame): DataFrame = {
    val mat = df.columns.filter(_.startsWith(MatPrefix))
    if (mat.isEmpty) df else df.drop(mat.toIndexedSeq: _*)
  }

  /** The scan-side file identity matching [[addKey]]: `_metadata
    * .file_path` with everything through the table's `data/` root
    * stripped — computed in the scan so tombstones can be subtracted by
    * (file, row position) without reconstructing absolute URIs.
    *
    * FOREIGN files (a shallow clone's references into its source's data
    * root, recorded as absolute paths — the Delta absolute-`add`-path
    * rule) are keyed by their absolute filesystem path instead: the
    * URI scheme is stripped and the rest IS the log's key, so clone-
    * local deletion vectors and removes subtract source files without
    * the clone ever knowing the source root as table state. */
  private def relKeyCol: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, instr, lit, regexp_replace,
      replace, url_decode, when}
    // plain substring search (no per-row regex): the absolute data/ path
    // is rooted, so its first occurrence in the file path is the prefix
    val marker =
      dataDir.toAbsolutePath.normalize.toString.replace("\\", "/") + "/"
    // `_metadata.file_path` is a URI: a space in the table root or a
    // hive-escaped partition value (`p=a%3Ab` on disk) arrives %-escaped
    // (`%20`, `p=a%253Ab`); decode it back to the filesystem path the
    // log keys record ('+' is literal in a URI path, not a space)
    val fp = url_decode(replace(col("_metadata.file_path"), lit("+"), lit("%2B")))
    val pos = instr(fp, marker)
    when(pos > lit(0), fp.substr(pos + lit(marker.length), lit(1 << 20)))
      .otherwise(regexp_replace(fp, "^[a-z][a-zA-Z0-9+.\\-]*:(//)?", ""))
  }

  /** Reads that fell back to one footer-inference scan per commit
    * ([[scanCommits]] without an explicit schema: no recorded schema,
    * or a time-travel read under column mapping) — observable so the
    * slow path is visible, never consulted by the protocol. */
  private[graft] val inferenceReads = new java.util.concurrent.atomic.AtomicLong

  /** ONE parquet scan over `keys` (data/-relative files, or dirs)
    * through `reader`, plus, on request, the FileCol/RidxCol tombstone
    * helpers (`pos`) and the writing commit's version as `batch`.
    * `batch` is looked up per row in the `versions` file → version map,
    * ONE literal keyed by [[relKeyCol]]: Spark hands a
    * map literal to generated code as a reference object instead of
    * inlining it, so the code is the same whatever files or versions
    * the map holds. `_metadata` only resolves directly on a scan
    * relation, so the helpers attach here, before any union. */
  private def scanFiles(reader: org.apache.spark.sql.DataFrameReader,
      keys: Seq[String], versions: Map[String, Int], batch: Boolean,
      pos: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{col, element_at, typedLit}
    val df = reader.parquet(keys.map(k => dataDir.resolve(k).toString): _*)
    val withPos = if (!pos) df else df
      .withColumn(FileCol, relKeyCol)
      .withColumn(RidxCol, col("_metadata.row_index"))
    if (!batch) withPos
    else withPos.withColumn("batch", element_at(typedLit(versions), relKeyCol))
  }

  /** The scan behind [[read]], [[scanWithPos]] and [[probeScan]]: the
    * flat add files of ALL `commits` passing `keep` as ONE [[scanFiles]]
    * scan through the explicit-schema `reader`. The plan is therefore
    * the same size whatever the table's history; a per-commit union
    * tagged with a `lit(version)` would add one codegen stage per commit
    * and shift the `codegenStageId` of every stage after it, so each
    * micro-batch missed Spark's codegen cache and recompiled identical
    * code.
    *
    * Dir-granular commits — hive-partitioned (partition columns live in
    * dir names, which an explicit schema would null out) and RESTORE
    * (its dirs come from different source commits) — keep one inference
    * read per dir, unioned by name at their commit's position, so the
    * presented column order is what a per-commit union gave. Without
    * a `reader`, flat commits fall back to one inference scan per
    * commit ([[inferenceReads]]): a single mergeSchema scan would refuse
    * a type widening between commits that unionByName coerces. */
  private def scanCommits(spark: SparkSession, commits: Seq[Entry],
      reader: Option[org.apache.spark.sql.DataFrameReader], batch: Boolean,
      pos: Boolean, mergeSchema: Boolean = false)
      (keep: String => Boolean): DataFrame = {
    def flat(c: Entry): Boolean =
      c.restoreDirs.isEmpty && c.adds.forall(a => !a.path.contains("/"))
    def kept(cs: Seq[Entry]): Seq[String] =
      cs.flatMap(c => c.adds.map(a => addKey(c, a))).filter(keep)
    val versions = commits.flatMap(c =>
      c.adds.map(a => addKey(c, a) -> c.version.toInt)).toMap
    val infer = spark.read.option("mergeSchema", mergeSchema.toString)
    def scan(r: org.apache.spark.sql.DataFrameReader, keys: Seq[String]) =
      Some(keys).filter(_.nonEmpty).map(scanFiles(r, _, versions, batch, pos))
    val flats = commits.filter(flat)
    if (reader.isEmpty && flats.nonEmpty) inferenceReads.incrementAndGet()
    val frames = commits.flatMap { c =>
      if (!flat(c))
        if (kept(Seq(c)).isEmpty) Nil
        else c.dataDirs.flatMap(d => scan(infer, Seq(d)))
      else reader match {
        case Some(r) => if (c eq flats.head) scan(r, kept(flats)) else None
        case None => scan(infer, kept(Seq(c)))
      }
    }
    if (frames.isEmpty) spark.emptyDataFrame
    else frames.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
  }

  /** [[read]]'s scan plus the file key and row position of every row
    * (the columns tombstone subtraction needs). Flat commits prune
    * REMOVED files out of the scan itself — after a merge-on-read
    * remove or an incremental OPTIMIZE, retired files are not even
    * listed; the remove anti-join then only covers dir-granular
    * (hive/restore) commits. Returns an empty frame when every file is
    * retired. */
  private def scanWithPos(spark: SparkSession, live: Snapshot, commits: Seq[Entry],
      ts: Tombstones, mergeSchema: Boolean = false,
      explicit: Option[org.apache.spark.sql.DataFrameReader] = None)
      : DataFrame =
    toLogical(live, scanCommits(spark, commits, explicit, batch = true, pos = true,
      mergeSchema)(k => !ts.removed.contains(k)))

  /** Subtract tombstones from a [[scanWithPos]] frame: one broadcast
    * anti-join on the file key for whole-file removes, one on (file,
    * row position) for deletion vectors. Both sides are driver-held
    * metadata (bounded by the DV size cap until a snapshot re-bases),
    * so the joins broadcast and the scan itself stays pruned/columnar. */
  private def applyTombstones(df: DataFrame, ts: Tombstones): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val sp = df.sparkSession
    import sp.implicits._
    var out = df
    if (ts.removed.nonEmpty) {
      val rem = ts.removed.toSeq.sorted.toDF("__rm_file")
      out = out.join(broadcast(rem),
        out(FileCol) === rem("__rm_file"), "left_anti")
    }
    if (ts.dv.nonEmpty) {
      import org.apache.spark.sql.functions.{col, explode, sequence}
      // the driver ships consecutive-run RANGES (bounded by the vectors'
      // run structure, not their row count); executors expand them to
      // (file, position) pairs for the equality anti-join
      val runs = ts.dv.toSeq.sortBy(_._1).flatMap { case (f, idxs) =>
        DeletionVectors.ranges(idxs).map { case (lo, hi) => (f, lo, hi) }
      }
      val dv = runs.toDF("__dv_file", "__dv_lo", "__dv_hi")
        .select(col("__dv_file"),
          explode(sequence(col("__dv_lo"), col("__dv_hi"))).as("__dv_ridx"))
      out = out.join(broadcast(dv),
        out(FileCol) === dv("__dv_file") && out(RidxCol) === dv("__dv_ridx"),
        "left_anti")
    }
    out
  }

  // ---------------------------------------------------------------------
  // row tracking (the Delta row-tracking / stable-row-id analog)
  // ---------------------------------------------------------------------

  /** Enable ROW TRACKING: every row gets a STABLE unique id and a
    * row-commit-version, surfaced by [[readWithRowIds]]. Fresh rows cost
    * nothing at write time — a file's ids are VIRTUAL (the add action's
    * `baseRowId` + the row's position, allocated from a high watermark
    * riding each commit's metaData, the Delta domain-metadata analog);
    * rewrites (OPTIMIZE / copy-on-write MERGE / DELETE / REPLACE WHERE)
    * MATERIALIZE surviving rows' ids into reserved physical columns so
    * they survive the (file, position) changing. MERGE-updated rows
    * KEEP their id and take the updating commit as their new
    * row-commit-version — Delta's row-lineage semantics. On a table
    * that already holds data, pass `backfill = true` (the plain enable
    * refuses — the early-Delta restriction, kept as the default so
    * adopting tracking on a large table is an explicit choice):
    * BACKFILL is a METADATA-ONLY snapshot commit, Delta's actual
    * backfill approach — every live add is re-committed (restore-style
    * lift: same files, stats/blooms/DVs carried verbatim, zero data
    * rewritten) with a fresh contiguous `baseRowId` block sized by its
    * recorded row count and its default row-commit-version pinned to
    * the ORIGINAL commit, so pre-existing rows read as "last written
    * where they were written". O(live adds) driver work, no Spark job
    * (footer reads only for legacy adds missing `rows` — and the
    * backfill records the count it read, repairing them). The commit
    * is physical-only: readChanges treats it like COMPACT.
    * Idempotent: returns -1 if already enabled. */
  def enableRowTracking(spark: SparkSession, backfill: Boolean = false): Long = {
    if (snapshot().tracked) return -1L
    if (backfill) {
      // re-points the whole live set, so no rebase: a rival append's
      // file must get a block too, which only a recompute gives it
      val v = occTransact("enableRowTracking", 20, rebase = false) { s =>
        val commits = s.live
        val ts = s.ts
        // live adds, key-qualified like a RESTORE lift (same files, new
        // add actions — the log's newest word on each file wins the fold)
        val lifted = commits.flatMap { c =>
          c.adds.collect {
            case a if !ts.removed.contains(addKey(c, a)) =>
              (c, a.copy(path = addKey(c, a)))
          }
        }
        // a rival enabled tracking mid-race, or nothing to backfill
        if (s.tracked || lifted.isEmpty) None
        else {
          // contiguous id blocks in deterministic key order; physical row
          // counts from the log (DV'd positions still consume ids —
          // virtual ids are base + PHYSICAL position)
          var wm = 0L
          val blocks = lifted.map(_._2).sortBy(_.path).map { a =>
            val n = a.rows.getOrElse(fileRowCount(spark, a.path))
            wm += n
            a.path -> (wm - n, n)
          }.toMap
          val adds = lifted.map { case (c, a) =>
            val (b, n) = blocks(a.path)
            a.copy(rows = Some(n), baseRowId = Some(b),
              rcv = Some(a.rcv.getOrElse(c.version)))
          }
          val keys = blocks.keySet
          metaClaimHook()
          Some((t: Snapshot) => Entry(t.next, snapshot = true, adds = adds,
            op = "ENABLE ROW TRACKING", schemaStr = Some(metaSchemaJson(t)),
            rowIdWatermark = Some(wm),
            restoreDirs = commits.flatMap(_.dataDirs).distinct.filter(_.nonEmpty),
            removes = ts.removed.toSeq.sorted, dvs = ts.dv.filter(kv => keys(kv._1))))
        }
      }
      if (v >= 0 || snapshot().tracked) return v
    }
    metaCommit("ENABLE ROW TRACKING") { s =>
      // checked per attempt on the attempt's snapshot: a claim win at
      // `s.next` proves no rival data landed since (dense claims)
      require(liveData(spark, s).isEmpty,
        "enableRowTracking: enable before data lands, or pass " +
          "backfill = true to assign ids to pre-existing files " +
          "(metadata-only, no rewrite)")
      Entry(s.next, rowIdWatermark = Some(0L))
    }
  }

  /** The row-id high watermark (next id to allocate), or None while row
    * tracking is off. */
  def rowIdWatermark(): Option[Long] = snapshot().aux.rowIdWatermark

  /** (file key, baseRowId, default row-commit-version) for every add of
    * the given commits. Fails loudly on a file that predates row
    * tracking — a silent null id would defeat the stability contract. */
  private def rowIdMetaOf(commits: Seq[Entry]): Seq[(String, Long, Long)] =
    commits.flatMap { c =>
      c.adds.map { a =>
        val b = a.baseRowId.getOrElse(sys.error(
          s"row tracking: file ${addKey(c, a)} predates enablement (no " +
            "baseRowId recorded) — enable row tracking before data lands"))
        (addKey(c, a), b, a.rcv.getOrElse(c.version))
      }
    }

  /** Resolve every row's id/commit-version into the materialization
    * columns: the pinned value where a prior rewrite materialized one,
    * else the virtual value from the file's add action. `df` must carry
    * the FileCol/RidxCol helpers (kept; only the lookup columns are
    * consumed) and every scanned file must appear in `commits`. */
  private def withResolvedMat(df: DataFrame, commits: Seq[Entry]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit}
    val sp = df.sparkSession
    import sp.implicits._
    val meta = rowIdMetaOf(commits).toDF(FileCol, "__rt_base", "__rt_rcv")
    def matOr(c: String) =
      if (df.columns.contains(c)) col(c) else lit(null).cast("long")
    df.join(broadcast(meta), Seq(FileCol))
      .withColumn(MatIdCol, coalesce(matOr(MatIdCol),
        col("__rt_base") + col(RidxCol)))
      .withColumn(MatRcvCol, coalesce(matOr(MatRcvCol), col("__rt_rcv")))
      .drop("__rt_base", "__rt_rcv")
  }

  /** Read the table WITH row-tracking columns: `_row_id` (stable unique
    * row id) and `_row_commit_version` (the commit that last wrote the
    * row's content). Resolution per row: the MATERIALIZED value where a
    * rewrite pinned one, else the VIRTUAL value (its file's baseRowId +
    * row position / the file's default commit version) — exactly the
    * Delta row-tracking read rule. Composes with time travel; deletion
    * vectors and removes are subtracted as in [[read]]. */
  def readWithRowIds(spark: SparkSession,
      versionAsOf: Option[Long] = None): DataFrame = {
    val live = snapshot()
    require(live.tracked,
      "readWithRowIds: row tracking is not enabled on this table")
    val withIds = scanWithRowMeta(spark, live, versionAsOf.map(asOf(live, _)))
    if (withIds.columns.isEmpty) return withIds
    import org.apache.spark.sql.functions.col
    withIds
      .withColumn("_row_id", col(MatIdCol))
      .withColumn("_row_commit_version", col(MatRcvCol))
      .drop(MatIdCol, MatRcvCol)
  }

  /** The live (or as-of) state with FULLY-RESOLVED row ids sitting in
    * the materialization columns — the input every id-preserving
    * rewrite starts from ([[transactSnapshotChanges]]), and the
    * resolver behind [[readWithRowIds]]. `batch` is retained; FileCol/
    * RidxCol helpers are consumed here. Empty-schema frame when no data
    * is visible. */
  private def scanWithRowMeta(spark: SparkSession, live: Snapshot,
      at: Option[Snapshot]): DataFrame = {
    val s = at.getOrElse(live)
    val commits = s.live
    if (commits.isEmpty) return spark.emptyDataFrame
    val ts = s.ts
    // mat columns are REQUIRED here, so only the live flatReader (which
    // appends them to the explicit schema) qualifies; as-of stays on
    // the inference read
    val scanned = scanWithPos(spark, live, commits, ts,
      explicit = if (at.isEmpty) physicalReadSchema(live)
        .map(_ => flatReader(spark, live)) else None)
    if (scanned.columns.isEmpty) return scanned
    withResolvedMat(applyTombstones(scanned, ts), commits)
      .drop(FileCol, RidxCol)
  }

  /** [[liveData]] with row ids materialized into the reserved columns
    * when row tracking is on — what a copy-on-write rewrite must write
    * back so surviving rows keep their ids. Identity to [[liveData]]
    * when tracking is off. */
  private def liveDataMat(spark: SparkSession, s: Snapshot): DataFrame =
    if (!s.tracked) liveData(spark, s)
    else {
      val df = scanWithRowMeta(spark, s, None)
      if (df.columns.isEmpty) df else df.drop("batch")
    }

  /** CDC read (the Delta Change Data Feed analog): the LOGICAL changes
    * committed in versions (fromVersion, toVersion], each row tagged
    * with `_change_type` and its commit version in `batch`.
    *
    *  - append commits contribute their rows as `insert`;
    *  - merge commits contribute their recorded change rows (`insert`,
    *    `update_preimage`, `update_postimage`) and delete commits their
    *    `delete` rows — read from the per-commit change dir the
    *    transaction recorded, NOT reconstructed after the fact;
    *  - compact commits contribute nothing (a physical rewrite of prior
    *    state is not a logical change — same as Delta OPTIMIZE);
    *  - a bare SNAPSHOT commit (arbitrary user transform, no recorded
    *    change rows) in range FAILS LOUDLY: silently skipping it would
    *    hand an incremental consumer a feed missing real changes.
    *
    * Metadata-only selection of which dirs to scan — and, with
    * `pruneBy` (round 17, the CDC data-skipping analog), of which
    * change FILES: commits record per-change-file [min,max] stats
    * (`changeAdd` actions), so a selective consumer (replicate WHERE
    * key = x) opens only the change files whose ranges can intersect
    * the predicate instead of scanning every change row in range. Like
    * readSkipping, this is FILE pruning, not filtering — the caller
    * still applies the predicate; files without stats (pre-r17
    * commits, non-scalar columns) are kept conservatively, as are
    * hive-partitioned append dirs (reading their leaves directly would
    * drop partition columns). An empty post-prune range returns an
    * empty frame. */
  def readChanges(spark: SparkSession, fromVersion: Long,
      toVersion: Long = Long.MaxValue,
      pruneBy: Seq[(String, Double, Double)] = Nil): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val s = snapshot()
    // CDC is a PER-VERSION feed — checkpoints cannot serve it. After
    // cleanupLog, ranges reaching below the oldest surviving entry must
    // fail loudly: silently starting the feed later would hand an
    // incremental consumer a gap it cannot detect.
    val tb = s.truncatedBelow
    if (tb > 0 && fromVersion < tb - 1)
      sys.error(s"readChanges: fromVersion=$fromVersion predates retained " +
        s"history (entries below $tb were reclaimed by cleanupLog); " +
        "re-seed the consumer from a full read() instead")
    // O(range), not O(history): the log file name IS the version, so
    // the range filter runs on the version list and only in-range
    // entries are ever parsed — a tailing consumer's per-batch cost is
    // the batch's own commits, not the table's lifetime.
    val commits = s.listing.versions
      .filter(v => v > fromVersion && v <= toVersion).map(parseCommit)
    // physical-only snapshots are CDC-transparent: COMPACT rewrites
    // prior state, a row-tracking BACKFILL re-points the same files
    // with id metadata — neither changes a logical row
    commits.find(c => c.snapshot && c.changeDir.isEmpty &&
        c.op != "COMPACT" && c.op != "ENABLE ROW TRACKING")
      .foreach { c =>
        sys.error(s"readChanges: version ${c.version} is a ${c.op} snapshot " +
          "with no recorded change rows — the change feed over this range " +
          "would silently miss logical changes. Re-read the full table, or " +
          "commit such transforms via merge()/delete().")
      }
    // file-level pruning predicate over recorded stats (physical
    // names, same translation as readSkippingAll; conservative on a
    // missing stat)
    val phys = pruneBy.map { case (c0, lo, hi) => (s.physicalOf(c0), lo, hi) }
    def keep(a: AddFile): Boolean =
      phys.forall { case (c0, lo, hi) => mayIntersect(a.stats.get(c0), lo, hi) }
    // the pruned read of one change/data dir: explicit surviving files
    // when per-file stats exist and pruning is requested, the whole dir
    // otherwise; None when pruning leaves nothing
    def readDir(rel: String, files: Seq[AddFile])
        : Option[DataFrame] =
      if (phys.isEmpty || files.isEmpty ||
          files.exists(_.path.contains("/"))) // hive leaves: keep the dir
        Some(spark.read.parquet(dataDir.resolve(rel).toString))
      else {
        val kept = files.filter(keep)
        if (kept.isEmpty) None
        else if (kept.size == files.size)
          Some(spark.read.parquet(dataDir.resolve(rel).toString))
        else Some(spark.read.parquet(
          kept.map(a => dataDir.resolve(s"$rel/${a.path}").toString): _*))
      }
    val frames = commits.flatMap {
      case c if c.op == "COMPACT_INC" =>
        // bin-packing is a physical rewrite of prior state — no logical
        // change, same as COMPACT
        None
      case c if c.op == "DELETE_MOR" || c.op == "MERGE_MOR" =>
        // merge-on-read commits: their adds are PHYSICAL (per-file
        // rewrites + merge's new rows) — the logical change set is the
        // recorded change dir, same as the copy-on-write verbs
        c.changeDir.flatMap(cd => readDir(cd, c.changeAdds)
          .map(_.withColumn("batch", lit(c.version).cast("int"))))
      case c if !c.snapshot =>
        // metadata-only commits change no rows; appends prune on their
        // own add-action stats (the same metadata readSkipping uses)
        if (c.adds.isEmpty) None
        else readDir(c.dir, c.adds).map(_
          .withColumn("_change_type", lit("insert"))
          .withColumn("batch", lit(c.version).cast("int")))
      case c => c.changeDir.flatMap { cd =>
        readDir(cd, c.changeAdds)
          .map(_.withColumn("batch", lit(c.version).cast("int")))
      }
    }
    if (frames.isEmpty) spark.emptyDataFrame
    else toLogical(s,
      frames.reduce((a, b) => a.unionByName(b, allowMissingColumns = true)))
  }

  /** STREAMING CDC tail — the "Delta table as a streaming SOURCE"
    * analog, closing the loop on the category's one-liner: a table this
    * sink writes can itself be streamed from. The commit log is an
    * append-only directory of per-version JSON entries, so it IS a file
    * stream: each micro-batch carries the log entries committed since
    * the last trigger, the batch's version range maps to logical rows
    * via [[readChanges]], and `f` receives (changes, batchId) — compose
    * with another sink's idempotent verbs (mergeBatch on the batchId)
    * for exactly-once table→table replication. Restart-safe via the
    * stream checkpoint: a replayed batch re-delivers the same version
    * range under the same batchId. Claim-time mtime stamping keeps the
    * file-stream listing in version order (ties broken by file name =
    * zero-padded version). Versions at or below `fromVersion` are
    * skipped (initial-backfill bound, exclusive). Inherits readChanges'
    * loud failure on bare SNAPSHOT commits in range — a tail cannot
    * silently skip unknowable changes. */
  def tailChanges(spark: SparkSession, checkpointDir: String,
      fromVersion: Long = -1L,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      maxVersionsPerTrigger: Int = Int.MaxValue,
      // selective replication: per-batch change-file pruning on the
      // recorded changeAdd stats (readChanges pruneBy)
      pruneBy: Seq[(String, Double, Double)] = Nil)
      (f: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    // partial-parse only the version; the entry JSON stays the log's
    val entrySchema = StructType(Seq(StructField("txn",
      StructType(Seq(StructField("version", LongType))))))
    // one log entry = one file = one version, so the file-stream rate
    // limit IS a per-trigger version budget — the backfill knob a
    // consumer needs when attaching to a long history (Delta's
    // maxFilesPerTrigger analog)
    val entries = spark.readStream
      .schema(entrySchema)
      .option("pathGlobFilter", "*.json") // never .checkpoint files
      .option("maxFilesPerTrigger", maxVersionsPerTrigger)
      .json(logDir.toString)
    entries.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val vs = batch.select(col("txn.version")).collect()
          .map(_.getLong(0)).filter(_ > fromVersion)
        if (vs.nonEmpty)
          f(readChanges(spark, vs.min - 1, vs.max, pruneBy), id)
      }
      .start()
  }

  /** What a downstream incremental consumer maintains: the live row set
    * reconstructed PURELY from the change feed (never reading the table
    * itself). Per key, the latest change wins — a row exists iff that
    * change is an insert/update_postimage, and is gone iff a delete.
    * Valid for key-unique tables (the CDC-mirrored-dimension case);
    * StreamingSpec asserts it matches read() across
    * append+merge+delete+compact histories. One shuffle on the key. */
  def stateFromChanges(spark: SparkSession, keys: Seq[String],
      toVersion: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val ch = readChanges(spark, -1L, toVersion)
    if (ch.isEmpty) return ch
    // within one batch, row-creating changes (insert/update_postimage)
    // outrank row-ending ones: a RESTORE diff can delete a key's old row
    // and insert its new one in the same version, and a merge pairs
    // preimage with postimage — the surviving row must win the rank
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("batch").desc,
        when(col("_change_type").isin("insert", "update_postimage"), 0)
          .otherwise(1))
    ch.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 &&
        col("_change_type").isin("insert", "update_postimage"))
      .drop("__rn", "_change_type", "batch")
  }

  /** Stat-skipped read: prune committed files whose recorded [min,max]
    * for `column` cannot intersect [lower, upper] (string-compared for
    * strings, numerically for numerics — the comparison mirrors how the
    * stats were written). Files with no stats for the column are kept
    * (skipping must be conservative). The predicate itself still needs
    * applying by the caller — this is file pruning, not filtering. */
  def readSkipping(spark: SparkSession, column: String,
      lower: Double, upper: Double): DataFrame =
    readSkippingAll(spark, Seq((column, lower, upper)))

  /** The commit's effective wall-clock timestamp: its in-commit stamp
    * (claim-time, monotone in version by [[nextIct]]'s clamp) when
    * present; log-file mtime for pre-ICT entries whose raw file
    * survives; None for a pre-ICT commit living only in a checkpoint. */
  private def commitTime(c: Entry): Option[Long] =
    c.ict.orElse(
      if (store.exists(logName(c.version)))
        Some(store.modifiedTime(logName(c.version)))
      else None)

  /** Time travel by WALL CLOCK (the Delta `timestampAsOf` analog): the
    * state as of the newest commit whose IN-COMMIT timestamp (stamped
    * into the entry at claim time — monotone in version order,
    * resilient to file copies and cleanupLog; mtime fallback for
    * pre-ICT entries) is at or before `ts`. Fails loudly when `ts`
    * predates the oldest retained commit — exactly like a version below
    * the cleanupLog window — rather than silently serving a later
    * state. */
  def read(spark: SparkSession, timestampAsOf: java.sql.Timestamp): DataFrame = {
    val cut = timestampAsOf.getTime
    val vs = allKnownCommits(snapshot())
      .filter(c => commitTime(c).exists(_ <= cut)).map(_.version)
    if (vs.isEmpty)
      sys.error(s"timestampAsOf=$timestampAsOf predates the oldest " +
        "retained commit (or the table is empty)")
    read(spark, versionAsOf = Some(vs.max))
  }

  /** Metadata-only COUNT(*) (the Delta numRecords optimization): the
    * table's live row count computed ENTIRELY from the commit log —
    * Σ live adds' recorded per-file row counts minus live deletion-
    * vector cardinalities, with whole-file removes simply dropping
    * their add from the live set. No file is opened, no scan planned;
    * at 100 TB this is the difference between answering a count in
    * milliseconds from the driver and scheduling a full-table job.
    * Falls back to `read().count()` when any live add predates row-
    * count recording (legacy entries) — correct either way, the
    * metadata path is the fast one. Model-checked after every verb by
    * the protocol fuzz. */
  def rowCount(spark: SparkSession, versionAsOf: Option[Long] = None): Long = {
    val cur = snapshot()
    val at = versionAsOf.map(asOf(cur, _))
    val s = at.getOrElse(cur)
    if (s.live.isEmpty) return 0L
    val ts = s.ts
    val addRows = s.live.flatMap(c => c.adds.map(a => addKey(c, a) -> a.rows))
    val live = addRows.filterNot { case (k, _) => ts.removed.contains(k) }
    if (live.forall(_._2.isDefined))
      live.map(_._2.get).sum -
        live.map { case (k, _) => ts.dv.get(k).map(_.length.toLong).getOrElse(0L) }.sum
    else
      readAt(spark, cur, at).count() // legacy adds without counts
  }

  /** Metadata-only column MIN/MAX (the companion to [[rowCount]]): the
    * live table's range for `column`, folded from the per-file footer
    * stats the commit log records — no scan. Numeric stats fold
    * numerically, others lexicographically (the same discipline
    * readSkipping applies). Returns None — and the caller must fall
    * back to a scan — when any live add lacks the stat, or when ANY
    * tombstone exists: a deletion vector or remove may have deleted
    * precisely the row carrying the extreme, so file-level stats can
    * no longer answer exactly (Delta's stats have the same blind
    * spot). Model-checked opportunistically by the protocol fuzz. */
  def columnStats(column: String, versionAsOf: Option[Long] = None)
      : Option[(String, String)] = {
    val live = snapshot()
    val s = versionAsOf.fold(live)(asOf(live, _))
    val commits = s.live
    if (commits.isEmpty || !s.ts.isEmpty) return None
    val ph = live.physicalOf(column)
    val perFile = commits.flatMap(_.adds).map(_.stats.get(ph))
    if (perFile.exists(s => s.isEmpty || s.get._1.isEmpty || s.get._2.isEmpty))
      return None
    val ranges = perFile.map(_.get).map { case (lo, hi) => (lo.get, hi.get) }
    // Fold numerically ONLY when the column's LOGICAL type is numeric:
    // parquet footer min/max for a StringType column are lexicographic
    // per file, and numerically folding string stats that happen to
    // parse as doubles ("9" vs "10") would return extremes that are
    // neither the lexicographic nor the numeric answer. Parseability of
    // the stat strings is not evidence of numeric ordering. A column
    // absent from the CURRENT schema (dropped, or never existed) gets
    // None — the same current-schema view read() presents at every
    // version, and the refuse-to-misread posture for versionAsOf stats
    // whose folding discipline we can no longer type-check. For columns
    // that do exist the latest type is valid at EVERY version: renames
    // are metadata-only and a same-name type flip always aborts
    // (enforceSchema), so types are immutable over a column's life.
    val fieldType = live.schema
      .flatMap(_.fields.find(_.name == column).map(_.dataType))
    if (fieldType.isEmpty) return None
    val numeric =
      fieldType.exists(_.isInstanceOf[org.apache.spark.sql.types.NumericType])
    if (numeric && ranges.forall { case (lo, hi) =>
        lo.toDoubleOption.isDefined && hi.toDoubleOption.isDefined })
      Some((ranges.minBy(_._1.toDouble)._1, ranges.maxBy(_._2.toDouble)._2))
    else
      Some((ranges.map(_._1).min, ranges.map(_._2).max))
  }

  /** DESCRIBE HISTORY analog: one row per commit this table can still
    * serve, newest first — the operational metadata an admin reads
    * before time travel / RESTORE / VACUUM. Driver-side metadata only
    * (folds the same checkpoint-seeded log [[allKnownCommits]] every
    * lookup uses; no data files touched). `timestamp` is the commit's
    * in-commit stamp (claim time, spliced into the entry — so it
    * survives cleanupLog through the checkpoint's verbatim entries);
    * mtime fallback for pre-ICT raw entries, null only for a pre-ICT
    * commit surviving solely through a checkpoint. */
  def history(spark: SparkSession): DataFrame = {
    import spark.implicits._
    allKnownCommits(snapshot()).map { c =>
      val ts = commitTime(c).map(new java.sql.Timestamp(_))
      // operation metric (Delta's numOutputRows): from the recorded
      // per-add counts; null for pre-rows-era commits
      val outRows =
        if (c.adds.nonEmpty && c.adds.forall(_.rows.isDefined))
          Some(c.adds.flatMap(_.rows).sum)
        else None
      (c.version, ts, c.op, c.snapshot, c.adds.size, c.removes.size,
        c.dvs.size, c.streamTxn.map(_._1), c.streamTxn.map(_._2), outRows)
    }.toDF("version", "timestamp", "operation", "snapshot",
        "num_added_files", "num_removed_files", "num_deletion_vectors",
        "stream_app_id", "stream_batch_id", "num_output_rows")
      .orderBy(org.apache.spark.sql.functions.col("version").desc)
  }

  /** String-range variant: prunes files by LEXICOGRAPHIC [min,max] —
    * the order string parquet footer stats are recorded in, so a
    * string-clustered table (ZOrder on a string column) prunes under
    * string predicates too. */
  def readSkipping(spark: SparkSession, column: String,
      lower: String, upper: String): DataFrame =
    readSkippingWith(spark, column) {
      case Some((Some(lo), Some(hi))) => !(hi < lower || lo > upper)
      case _ => true
    }

  /** Conjunctive multi-column stat skipping: a file survives only if its
    * recorded [min,max] intersects EVERY (column, lower, upper) range —
    * the read-side payoff of a z-order clustered write, where footer
    * stats are tight on all clustered columns at once, so a conjunction
    * prunes to (roughly) the product of the per-column survival
    * fractions. A missing or non-numeric stat keeps the file for that
    * conjunct (conservative); the single-column numeric readSkipping is
    * the 1-predicate case of this. */
  def readSkippingAll(spark: SparkSession,
      preds: Seq[(String, Double, Double)]): DataFrame = {
    val s = snapshot()
    val phys = preds.map { case (c, lo, hi) => (s.physicalOf(c), lo, hi) }
    readAddFiles(spark, s) { a =>
      phys.forall { case (col, lo, hi) => mayIntersect(a.stats.get(col), lo, hi) }
    }
  }

  /** Can a file whose recorded [min,max] stat is `st` hold a value in
    * [lower, upper]? A missing or non-numeric stat keeps the file —
    * pruning stays conservative. */
  private def mayIntersect(st: Option[(Option[String], Option[String])],
      lower: Double, upper: Double): Boolean = st match {
    case Some((Some(lo), Some(hi))) =>
      try !(hi.toDouble < lower || lo.toDouble > upper)
      catch { case _: NumberFormatException => true }
    case _ => true
  }

  /** Bloom-pruned point lookup: keep only files whose recorded bloom
    * filter might contain `value` on `column` (plus files with no bloom —
    * skipping stays conservative). The k probe positions recompute the
    * writer's hash via one trivial 1-row Spark job, guaranteeing the
    * exact same xxhash64 both sides. A definite miss (any probed bit
    * clear) excludes the file — the pruning a high-cardinality equality
    * probe needs when per-file [min,max] ranges all overlap. */
  def readLookup(spark: SparkSession, column: String, value: String): DataFrame = {
    import org.apache.spark.sql.functions.{lit, xxhash64}
    val hashes = spark.range(1).select(
      (0 until 3).map(j => xxhash64(lit(j), lit(value)).as(s"h$j")): _*)
      .head().toSeq.map(_.asInstanceOf[Long])
    val s = snapshot()
    val ph = s.physicalOf(column)
    readAddFiles(spark, s) { a =>
      a.bloom.get(ph).forall { words =>
        val bits = words.length * 64L
        hashes.forall { h =>
          val p = ((h % bits) + bits) % bits
          (words((p / 64).toInt) >> (p % 64).toInt & 1L) == 1L
        }
      }
    }
  }

  private def readSkippingWith(spark: SparkSession, column: String)
      (keep: Option[(Option[String], Option[String])] => Boolean): DataFrame = {
    val s = snapshot()
    val ph = s.physicalOf(column)
    readAddFiles(spark, s)(a => keep(a.stats.get(ph)))
  }

  /** Shared pruned-read core: the visible add files passing `keep`
    * (stat/bloom pruning) as ONE [[scanFiles]] scan, leaf files read
    * directly whatever their commit's layout, minus merge-on-read
    * tombstones — removed files never make the scan list; files with a
    * deletion vector get the position-level subtraction. No `batch`
    * column, and no helper columns unless a kept file has a vector. */
  private def readAddFiles(spark: SparkSession, s: Snapshot)
      (keep: AddFile => Boolean): DataFrame = {
    val ts = s.ts
    val keys = s.entries.flatMap { c =>
      c.adds.collect { case a if keep(a) => addKey(c, a) }
    }.filterNot(ts.removed)
    if (keys.isEmpty) spark.emptyDataFrame
    else {
      // explicit physical schema so evolution across the commits cannot
      // silently drop columns
      val dv = keys.exists(ts.dv.contains)
      val base = scanFiles(flatReader(spark, s), keys, Map.empty, batch = false,
        pos = dv)
      dropMat(toLogical(s,
        if (!dv) base
        else applyTombstones(base, Tombstones(Set.empty, ts.dv))
          .drop(FileCol, RidxCol)))
    }
  }

  /** Test hook: the data dirs a committed version references (relative to
    * `data/`) — lets the vacuum race specs assert referenced dirs exist
    * on disk without widening the commit parser's visibility. */
  private[graft] def commitDataDirs(v: Long): Seq[String] =
    parseCommit(v).dataDirs

  /** `s`'s state without the `batch` version-cursor column. */
  private def liveData(spark: SparkSession, s: Snapshot): DataFrame =
    readAt(spark, s, None).drop("batch")

  /** MERGE (upsert): rows of `updates` replace committed rows sharing
    * the same key; non-matching update rows insert. Runs through the
    * optimistic snapshot transaction — concurrent writers retry on
    * conflict. Time travel still sees every prior version.
    *
    * Records its logical change set for the CDC feed exactly as Delta
    * CDF does for MERGE: update rows as preimage+postimage pairs,
    * non-matching rows as inserts. */
  def merge(spark: SparkSession, updates: DataFrame, keys: Seq[String],
      streamTxn: Option[(String, Long)] = None): Long =
    mergeFull(spark, updates, keys, streamTxn = streamTxn)

  /** Full-clause MERGE — the complete Delta MERGE surface in one verb:
    *
    *   WHEN MATCHED AND matchedDelete(target)                THEN DELETE
    *   WHEN MATCHED                            THEN UPDATE (whole-row)
    *   WHEN NOT MATCHED                                      THEN INSERT
    *   WHEN NOT MATCHED BY SOURCE
    *        AND notMatchedBySourceDelete(target)             THEN DELETE
    *
    * Both delete predicates evaluate over the COMMITTED (target) row —
    * Delta's clause-condition-on-target form; the source row of a
    * matched-DELETE key is consumed by that clause and does NOT insert
    * (exactly Delta's clause precedence). [[merge]] is the
    * no-delete-clause special case and delegates here. The
    * not-matched-by-source DELETE is what a full-sync MERGE uses to
    * retire dimension rows absent from the feed.
    *
    * Whole-row upsert semantics as before: an update row REPLACES the
    * committed row, columns it omits go null; allowMissingColumns on
    * every union keeps the verb valid across schema evolution.
    *
    * CDC: deletes from either clause record `delete` rows, replaced
    * rows record preimage+postimage pairs, unmatched sources record
    * inserts — so an incremental consumer can follow every clause. */
  def mergeFull(spark: SparkSession, updates: DataFrame, keys: Seq[String],
      matchedDelete: Option[org.apache.spark.sql.Column] = None,
      notMatchedBySourceDelete: Option[org.apache.spark.sql.Column] = None,
      streamTxn: Option[(String, Long)] = None): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    val s0 = snapshot()
    enforceSchema(s0, updates.schema, mergeSchema = false, "merge")
    val updatesC = conformToTable(s0, updates)
    transactSnapshotChanges(spark, "MERGE", streamTxn = streamTxn) { current =>
      if (current.isEmpty) {
        (updatesC, Some(updatesC.withColumn("_change_type", lit("insert"))))
      } else {
        val mdel = matchedDelete.getOrElse(lit(false))
        val sdel = notMatchedBySourceDelete.getOrElse(lit(false))
        val keyRel = updatesC.select(keys.map(col): _*).distinct()
        val matched = current.join(keyRel, keys, "left_semi")
        val bySource = current.join(keyRel, keys, "left_anti")
        val deletedMatched = matched.filter(mdel)
        val replaced = matched.filter(!mdel)
        // only keys whose committed row SURVIVED the matched-delete
        // clause take the update row; matched-delete keys drop both sides
        val replKeys = replaced.select(keys.map(col): _*).distinct()
        val updReplace0 = updatesC.join(replKeys, keys, "left_semi")
        // row tracking: the update row KEEPS the replaced target row's
        // id (min() pins a deterministic survivor when several target
        // rows shared the key — this merge collapses them to one row);
        // the commit version is NOT carried, so the row's new rcv is
        // this commit — exactly Delta's update semantics
        val updReplace =
          if (!current.columns.contains(MatIdCol)) updReplace0
          else updReplace0.join(
            replaced.groupBy(keys.map(col): _*)
              .agg(org.apache.spark.sql.functions.min(col(MatIdCol))
                .as(MatIdCol)),
            keys, "left")
        val updInsert = updatesC
          .join(current.select(keys.map(col): _*), keys, "left_anti")
        val deletedBySource = bySource.filter(sdel)
        val state = bySource.filter(!sdel)
          .unionByName(updReplace, allowMissingColumns = true)
          .unionByName(updInsert, allowMissingColumns = true)
        val changes = updInsert.withColumn("_change_type", lit("insert"))
          .unionByName(replaced
            .withColumn("_change_type", lit("update_preimage")),
            allowMissingColumns = true)
          .unionByName(updReplace
            .withColumn("_change_type", lit("update_postimage")),
            allowMissingColumns = true)
          .unionByName(deletedMatched
            .withColumn("_change_type", lit("delete")),
            allowMissingColumns = true)
          .unionByName(deletedBySource
            .withColumn("_change_type", lit("delete")),
            allowMissingColumns = true)
        (state, Some(changes))
      }
    }
  }

  /** Highest micro-batch id a stream writer has committed — replayed
    * from the `streamTxn` actions in the log (the Delta `txn`
    * idempotent-writer cursor; the snapshot's metadata fold). */
  def lastStreamBatch(streamAppId: String): Option[Long] =
    snapshot().aux.cursors.get(streamAppId)

  /** Idempotent STREAMING MERGE — the foreachBatch CDC-consumer verb
    * ("stream DeltaLake tables from Kafka" proper: upserts, not just
    * appends). Each commit records `streamTxn{appId, batchId}` next to
    * its data, so a replayed micro-batch (crash + checkpoint restart,
    * or a full re-run over the same source) sees batchId at or below
    * the recorded high-water mark and NO-OPS — no duplicate versions,
    * no re-merged state. Exactly Delta's txn-action pattern for
    * streaming MERGE writers; one stream writer per appId, same as
    * Structured Streaming's own guarantee. Returns the committed
    * version, or None for a skipped replay. */
  def mergeBatch(spark: SparkSession, updates: DataFrame, keys: Seq[String],
      batchId: Long, streamAppId: String = appId,
      mor: Boolean = false): Option[Long] =
    if (lastStreamBatch(streamAppId).exists(_ >= batchId)) None
    else Some(
      if (mor) mergeDV(spark, updates, keys,
        streamTxn = Some(streamAppId -> batchId))
      else merge(spark, updates, keys, Some(streamAppId -> batchId)))

  /** DELETE rows matching the predicate; snapshot-commit the remainder.
    * The deleted rows are recorded as the commit's change set.
    *
    * This is the COPY-ON-WRITE form — it rewrites the whole live state,
    * which is the right call for deletes touching most of the table but
    * fatal at scale for selective ones. [[deleteDV]] is the
    * merge-on-read form (deletion vectors) whose cost is O(matched
    * files), not O(table). */
  def delete(spark: SparkSession, predicate: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.lit
    transactSnapshotChanges(spark, "DELETE") { current =>
      (current.filter(!predicate),
        Some(current.filter(predicate).withColumn("_change_type", lit("delete"))))
    }
  }

  /** Merge-on-read DELETE (the Delta deletion-vector write path): rows
    * matching `predicate` are deleted WITHOUT rewriting untouched data.
    * Per matched file the writer picks the cheapest correct action
    * ([[DeletionVectors.classify]]): fully-matched files are dropped
    * from the live set (`remove` action), files whose total deleted-row
    * vector stays under `dvMaxRows` get a deletion vector (`dv` action
    * — readers subtract the positions by `_metadata.row_index`), and
    * files over the cap are rewritten file-locally (kept rows re-staged,
    * original removed) so vectors stay small enough to broadcast.
    * Unmatched files are NEVER touched — at 100 TB a selective DELETE
    * costs O(matched files), while the copy-on-write [[delete]] costs
    * O(table).
    *
    * Runs through the OCC claim loop like every snapshot transaction;
    * records matched rows as its CDC `delete` change set; time travel
    * to any pre-delete version still sees the rows (tombstones fold per
    * version). A later snapshot commit (merge/compact/restore) re-bases
    * the state and clears all tombstones. Returns the committed
    * version, or -1 if the table has no data commits. */
  def deleteDV(spark: SparkSession, predicate: org.apache.spark.sql.Column,
      dvMaxRows: Int = 100000, maxRetries: Int = 20): Long = {
    import org.apache.spark.sql.functions.lit
    if (snapshot().live.isEmpty) return -1L
    morCommit(spark, "DELETE_MOR", dvMaxRows, maxRetries, None) { statePos =>
      val doomed = statePos.filter(predicate)
      (doomed, None,
        doomed.drop(FileCol, RidxCol).withColumn("_change_type", lit("delete")))
    }
  }

  /** Merge-on-read MERGE (upsert via deletion vectors): matched
    * committed rows are tombstoned in place (same per-file
    * remove/vector/rewrite policy as [[deleteDV]]) and `updates` lands
    * as new files — one commit, cost O(matched files + |updates|)
    * instead of [[merge]]'s O(table) rewrite. This is the verb a
    * STREAMING upsert pipeline must use at scale: each micro-batch
    * touches only the files containing its keys. `updates` is
    * broadcast for the match probe, so it should be micro-batch-sized
    * (the streaming case by construction). CDC change rows (insert /
    * update_preimage / update_postimage) are recorded exactly as
    * [[merge]] records them. */
  def mergeDV(spark: SparkSession, updates0: DataFrame, keys: Seq[String],
      dvMaxRows: Int = 100000, maxRetries: Int = 20,
      streamTxn: Option[(String, Long)] = None): Long = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    val s0 = snapshot()
    enforceSchema(s0, updates0.schema, mergeSchema = false, "mergeDV")
    val updates = applyGenerated(s0, conformToTable(s0, updates0))
    if (s0.live.isEmpty)
      return merge(spark, updates, keys, streamTxn)
    // the source's per-key-column bounds prune the probe to files whose
    // stats ranges intersect (one tiny agg job on the micro-batch-sized
    // source; non-numeric keys contribute no bound — conservative)
    import org.apache.spark.sql.functions.{max => fmax, min => fmin}
    val aggs = keys.flatMap(k => Seq(
      fmin(col(k)).cast("double").as(s"__lo_$k"),
      fmax(col(k)).cast("double").as(s"__hi_$k")))
    val bRow = updates.agg(aggs.head, aggs.tail: _*).head()
    val bounds = keys.zipWithIndex.flatMap { case (k, i) =>
      if (bRow.isNullAt(2 * i) || bRow.isNullAt(2 * i + 1)) None
      else Some(k -> (bRow.getDouble(2 * i), bRow.getDouble(2 * i + 1)))
    }.toMap
    morCommit(spark, "MERGE_MOR", dvMaxRows, maxRetries, streamTxn,
        keyBounds = bounds) { statePos =>
      val keyRel = updates.select(keys.map(col): _*).distinct()
      val doomed = statePos.join(broadcast(keyRel), keys, "left_semi")
      // matched keys ARE doomed's keys (cached by morCommit), so the
      // insert/postimage split broadcasts them instead of re-scanning
      // the table's key column
      val doomedKeys = doomed.select(keys.map(col): _*).distinct()
      val inserted = updates.join(broadcast(doomedKeys), keys, "left_anti")
        .withColumn("_change_type", lit("insert"))
      val pre = doomed.drop(FileCol, RidxCol)
        .withColumn("_change_type", lit("update_preimage"))
      val post = updates.join(broadcast(doomedKeys), keys, "left_semi")
        .withColumn("_change_type", lit("update_postimage"))
      // row tracking: an UPDATED row KEEPS its id — attach the matched
      // target row's resolved id to the update row (min() pins a
      // deterministic survivor when several target rows share a key,
      // which this merge collapses to one update row anyway). Its
      // commit version is deliberately NOT carried: the new file's
      // default — this commit — is the row's new rcv, Delta's rule.
      // Inserted rows take null and read back fresh virtual ids.
      val appendRows =
        if (!statePos.columns.contains(MatIdCol)) updates
        else updates.join(
          broadcast(doomed.groupBy(keys.map(col): _*)
            .agg(org.apache.spark.sql.functions.min(col(MatIdCol))
              .as(MatIdCol))),
          keys, "left")
      (doomed, Some(appendRows),
        inserted.unionByName(pre, allowMissingColumns = true)
          .unionByName(post, allowMissingColumns = true))
    }
  }

  /** Parquet-footer opens by [[fileRowCount]] — zero when every add
    * action carries `rows` (all writers have recorded it since the
    * field shipped); exposed so tests pin the classify step's
    * no-footer-I/O claim instead of trusting it. */
  private[graft] val footerRowCountReads =
    new java.util.concurrent.atomic.AtomicLong

  /** Total physical rows of a committed file, from its parquet footer —
    * metadata-only, the LEGACY fallback for adds that predate the
    * recorded `rows` field (morCommit classifies from the log's own
    * counts first: a serial driver-side footer loop over thousands of
    * matched files is real I/O for data the commits already carry). */
  private def fileRowCount(spark: SparkSession, key: String): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    footerRowCountReads.incrementAndGet()
    val conf = spark.sessionState.newHadoopConf()
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(dataDir.resolve(key).toUri), conf))
    try r.getFooter.getBlocks.asScala.map(_.getRowCount.longValue).sum
    finally r.close()
  }

  /** The merge-on-read OCC transaction core. `f` maps the live state
    * (WITH file/position helper columns) to:
    *
    *  - `doomed`: the live rows this commit deletes (subset of the
    *    input, helper columns intact — positions drive the per-file
    *    classify);
    *  - `appended`: new rows to add in the same commit (merge's
    *    updates), or None;
    *  - `changes`: the logical CDC change rows to record.
    *
    * The writer persists only `doomed` (matched rows — small by
    * assumption; the table itself is never cached), classifies each
    * matched file via footer row counts, collects row positions ONLY
    * for vector-tier files, rewrites kept rows of over-cap files with a
    * properly file-pruned re-scan, and claims the next version with
    * remove/dv/add actions plus the change dir. Conflicts recompute
    * from fresh state, exactly like [[transactSnapshotChanges]]. */
  /** The merge-on-read PROBE scan: live files of the pruned commits,
    * with file/position helper columns and no `batch`. The surviving
    * stat-pruned FILES of every flat commit (every commitAppend/
    * morCommit output) are one [[scanCommits]] scan, so the probe plan
    * — and its generated code — does not change from one merge to the
    * next. Hive-partitioned and RESTORE commits scan dir-granular, one
    * read per dir (reading leaf files directly would drop the partition
    * columns; a restore's dirs come from different source commits, and
    * unionByName type-coerces across a widening boundary that parquet's
    * mergeSchema refuses — fuzz seed 12), and rely on the tombstone
    * anti-join + row-group stats instead. */
  private def probeScan(spark: SparkSession, s: Snapshot,
      bounds: Map[String, (Double, Double)]): DataFrame = {
    val (commits, ts) = (s.live, s.ts)
    val stats = commits.flatMap(c => c.adds.map(a => addKey(c, a) -> a.stats))
      .toMap
    toLogical(s, scanCommits(spark, commits,
      physicalReadSchema(s).map(_ => flatReader(spark, s)), batch = false,
      pos = true) { k =>
      !ts.removed.contains(k) && bounds.forall { case (col, (lo, hi)) =>
        mayIntersect(stats(k).get(col), lo, hi) }
    })
  }

  private def morCommit(spark: SparkSession, op: String, dvMaxRows: Int,
      maxRetries: Int, streamTxn: Option[(String, Long)],
      keyBounds: Map[String, (Double, Double)] = Map.empty)
      (f: DataFrame => (DataFrame, Option[DataFrame], DataFrame)): Long = {
    import org.apache.spark.sql.functions._
    occTransact(op, maxRetries) { s =>
      val commits = s.live
      val ts0 = s.ts
      // stat-pruned probe (the Delta MERGE file-skipping argument: a key
      // present in a file is inside that file's [min,max], so files
      // pruned by the source's key bounds can contain NO matched rows —
      // skipping them changes nothing)
      val probe = probeScan(spark, s,
        keyBounds.map { case (k, v) => s.physicalOf(k) -> v })
      val statePos =
        if (probe.columns.isEmpty) {
          // every file pruned: nothing can match, but f still needs a
          // typed empty relation (merge then classifies all updates as
          // inserts)
          val sch = s.schema.getOrElse(StructType(Nil))
          val base = spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
            .withColumn(FileCol, lit(""))
            .withColumn(RidxCol, lit(0L))
          if (!s.tracked) base
          else base.withColumn(MatIdCol, lit(null).cast("long"))
            .withColumn(MatRcvCol, lit(null).cast("long"))
        } else {
          val t = applyTombstones(probe, ts0)
          // row tracking: hand f the matched-row scan with ids RESOLVED
          // so an update can carry its target row's id into the new
          // file (mergeDV's preservation join)
          if (!s.tracked) t
          else withResolvedMat(t, commits)
        }
      val (doomed0, appended, changes) = f(statePos)
      val doomed = doomed0.persist()
      try {
        val counts = doomed.groupBy(col(FileCol)).agg(count(lit(1)).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        // physical row counts from the add actions already in hand —
        // footer I/O only for legacy adds that never recorded `rows`
        val rowsByKey: Map[String, Long] = commits.flatMap(c =>
          c.adds.flatMap(a => a.rows.map(addKey(c, a) -> _))).toMap
        val actions = counts.map { case (k, n) =>
          k -> DeletionVectors.classify(n,
            ts0.dv.get(k).map(_.length.toLong).getOrElse(0L),
            rowsByKey.getOrElse(k, fileRowCount(spark, k)), dvMaxRows)
        }
        val removeKeys = actions.collect {
          case (k, DeletionVectors.Remove) => k }.toSeq.sorted
        val dvKeys = actions.collect {
          case (k, DeletionVectors.Vector) => k }.toSeq.sorted
        val rewriteKeys = actions.collect {
          case (k, DeletionVectors.Rewrite) => k }.toSeq.sorted
        val dvNew: Map[String, Array[Long]] =
          if (dvKeys.isEmpty) Map.empty
          else doomed.filter(col(FileCol).isin(dvKeys: _*))
            .groupBy(col(FileCol)).agg(collect_list(col(RidxCol)).as("idxs"))
            .collect().map { r =>
              val k = r.getString(0)
              k -> DeletionVectors.union(
                ts0.dv.getOrElse(k, Array.empty[Long]),
                r.getSeq[Long](1).toArray)
            }.toMap
        // over-cap files: rewrite kept rows from a re-scan of JUST those
        // files (file-pruned at the source, unlike filtering the full
        // state scan), minus their existing DV rows and this commit's
        // doomed rows
        val kept = if (rewriteKeys.isEmpty) None else Some {
          val scan = toLogical(s, flatReader(spark, s)
            .parquet(rewriteKeys.map(k => dataDir.resolve(k).toString): _*)
            .withColumn(FileCol, relKeyCol)
            .withColumn(RidxCol, col("_metadata.row_index")))
          val live = applyTombstones(scan, Tombstones(Set.empty,
              ts0.dv.filter(kv => rewriteKeys.contains(kv._1))))
            .join(doomed.select(col(FileCol), col(RidxCol)),
              Seq(FileCol, RidxCol), "left_anti")
          // row tracking: kept rows of a rewritten over-cap file change
          // (file, position) — pin their ids before the drop
          (if (!s.tracked) live
           else withResolvedMat(live, commits))
            .drop(FileCol, RidxCol)
        }
        val newRows = (kept, appended) match {
          case (Some(a), Some(b)) => Some(a.unionByName(b, allowMissingColumns = true))
          case (a, b) => a.orElse(b)
        }
        val uuid = java.util.UUID.randomUUID().toString
        // declared bloom policy rides merge-on-read rewrites too:
        // over-cap rewrites and merge's inserted rows get fresh blooms so
        // point-probe pruning survives table maintenance
        val pub = newRows.fold(Unpublished) { nr =>
          val (polCols, polBits) = bloomPolicy(s)
          publish(s, nr, s"files/$uuid", Nil, polCols, polBits, check = true)
        }
        // the CDC feed is logical — strip helper/materialization columns
        val ch = publish(s, dropMat(changes), s"changes/$uuid", Nil, Nil, 0,
          check = false)
        // evolved union, same monotonicity argument as the snapshot
        // claim: the probe state's file-derived schema can lack columns
        // the TABLE schema has
        val morSchemaBase = org.apache.spark.sql.types.StructType(
          statePos.drop(FileCol, RidxCol).schema.fields
            .filterNot(_.name.startsWith(MatPrefix)))
        // a delta-shaped commit (removes + DVs + adds) keeps rival
        // appends visible by construction — no base field needed; a
        // rebased re-claim is safe because the rival's files did not
        // exist at this transaction's read, so they intersect neither
        // its probe scan nor its removes/DV keys
        Some { (t: Snapshot) =>
          Entry(t.next, if (pub.adds.nonEmpty) pub.dir else "", adds = pub.adds,
            op = op, schemaStr = Some(evolvedSchemaOf(t, morSchemaBase)._1),
            changeDir = Some(ch.dir), changeAdds = ch.adds, streamTxn = streamTxn,
            removes = removeKeys ++ rewriteKeys, dvs = dvNew,
            matFiles = pub.adds.nonEmpty && t.tracked)
        }
      } finally doomed.unpersist(blocking = false)
    }
  }

  /** REPLACE WHERE (Delta's predicate/partition overwrite): atomically
    * delete the committed rows matching `predicate` and insert
    * `replacement` in ONE snapshot commit — the idempotent backfill
    * verb ("rewrite day X") that append+delete cannot express
    * atomically. Every replacement row must satisfy the predicate
    * (enforced per row inside the write via the same short-circuit
    * raise_error guard as CHECK constraints — a row outside the
    * predicate aborts the transaction, exactly Delta's behavior).
    * Records deletes + inserts as the commit's CDC change set; runs
    * through the OCC loop, so concurrent writers retry cleanly. */
  def replaceWhere(spark: SparkSession, predicate: org.apache.spark.sql.Column,
      replacement: DataFrame): Long = {
    import org.apache.spark.sql.functions._
    val s0 = snapshot()
    enforceSchema(s0, replacement.schema, mergeSchema = false, "replaceWhere")
    val replacementC = conformToTable(s0, replacement)
    val guarded = replacementC.filter(
      when(predicate, lit(true)).otherwise(raise_error(concat(
        lit("replaceWhere: replacement row outside the predicate: "),
        to_json(struct(replacementC.columns.map(col): _*))))))
    transactSnapshotChanges(spark, "REPLACE WHERE") { current =>
      if (current.isEmpty)
        (guarded, Some(guarded.withColumn("_change_type", lit("insert"))))
      else {
        val kept = current.filter(!predicate)
        val removed = current.filter(predicate)
          .withColumn("_change_type", lit("delete"))
        (kept.unionByName(guarded, allowMissingColumns = true),
          Some(removed.unionByName(
            guarded.withColumn("_change_type", lit("insert")),
            allowMissingColumns = true)))
      }
    }
  }

  // ---------------------------------------------------------------------
  // CHECK constraints (Delta ALTER TABLE ADD CONSTRAINT analog)
  // ---------------------------------------------------------------------

  /** The table's active CHECK constraints: name → boolean SQL
    * expression. Latest-wins log replay — a commit CARRYING the
    * constraints field replaces the active set; commits without it
    * leave the set untouched. */
  def activeConstraints(): Map[String, String] = snapshot().aux.constraints

  /** ADD CONSTRAINT: validates EXISTING data first (a constraint the
    * committed table already violates is rejected — Delta's ADD
    * CONSTRAINT semantics), then commits the new active set as a
    * metadata-only log entry through the version-claim loop. Every
    * subsequent write enforces it per row at write time (stage()). */
  def setConstraint(spark: SparkSession, name: String, exprSql: String): Long = {
    import org.apache.spark.sql.functions._
    val live = liveData(spark, snapshot())
    if (!live.isEmpty) {
      val bad = live.filter(!expr(exprSql)).count()
      require(bad == 0,
        s"setConstraint '$name': $bad committed rows already violate ($exprSql)")
    }
    constraintCommit(_ + (name -> exprSql))
  }

  /** DROP CONSTRAINT (unknown names are a no-op commit, like Delta with
    * IF EXISTS). */
  def dropConstraint(name: String): Long =
    constraintCommit(_ - name)

  // ---------------------------------------------------------------------
  // domain metadata (the Delta domainMetadata action analog)
  // ---------------------------------------------------------------------

  /** All live metadata domains: name → configuration. Latest-wins PER
    * DOMAIN (a commit carries only the domains it touches — the Delta
    * domainMetadata delta shape, unlike constraints' whole-set
    * replacement), folded incrementally into the [[Snapshot]] and
    * surviving cleanupLog through the checkpoint aux header. */
  def activeDomains(): Map[String, Map[String, String]] =
    snapshot().aux.domains

  /** The configuration of one domain, if set. */
  def domainMetadata(domain: String): Option[Map[String, String]] =
    activeDomains().get(domain)

  /** SET a metadata domain (the Delta `domainMetadata` action): commits
    * `domain → config` as a metadata-only entry through the OCC claim
    * loop. Domains are the protocol's general named-metadata slot —
    * Delta builds clustering state and similar features on it; this
    * sink records `graft.clustering` through the same verb. Dense
    * claims serialize concurrent writers; the last committed delta
    * wins its domain and no other (per-domain fold). */
  def setDomainMetadata(domain: String, config: Map[String, String]): Long = {
    require(domain.nonEmpty, "setDomainMetadata: empty domain name")
    domainCommit(Map(domain -> Some(config)))
  }

  /** REMOVE a metadata domain (a tombstone delta; unknown names are a
    * no-op commit, like Delta's removed=true action). */
  def removeDomainMetadata(domain: String): Long =
    domainCommit(Map(domain -> None))

  /** Declare — or RE-declare — the table's clustering layout (the
    * Delta `ALTER TABLE ... CLUSTER BY` analog): a metadata-only commit
    * recording the columns (PHYSICAL names, rename-proof) in the
    * `graft.clustering` domain, latest-wins. Clustered writes record
    * the same domain implicitly; this verb is how the key EVOLVES
    * without a write.
    *
    * The re-cluster window, disclosed exactly as Delta's liquid
    * clustering has it: already-committed files KEEP their old layout
    * until the next OPTIMIZE — a parameterless [[compactSmall]]
    * discovers the new key from the domain and re-clusters every file
    * it packs (pass `targetBytes = Long.MaxValue` to force ALL live
    * flat files through one re-clustering pass); reads stay correct
    * throughout, only skipping tightness on the NEW key lags until
    * then. */
  def setClusterBy(cols: Seq[String]): Long = {
    require(cols.nonEmpty, "setClusterBy: empty column list — use " +
      "removeDomainMetadata(\"graft.clustering\") to drop the layout")
    val s = snapshot()
    cols.foreach(c => require(s.schema.forall(_.fieldNames.contains(c)),
      s"setClusterBy: column '$c' is not in the table schema"))
    domainCommit(clusterDomain(s, cols).get)
  }

  private def domainCommit(
      delta: Map[String, Option[Map[String, String]]]): Long =
    metaCommit("SET DOMAIN METADATA")(s => Entry(s.next, domains = Some(delta)))

  // ---------------------------------------------------------------------
  // generated columns (Delta GENERATED ALWAYS AS analog)
  // ---------------------------------------------------------------------

  /** The table's active generated columns: name → SQL expression over
    * the other columns. Same latest-wins metaData replay as
    * constraints. */
  def activeGenerated(): Map[String, String] = snapshot().aux.generated

  /** Declare `name` GENERATED ALWAYS AS (`exprSql`): every subsequent
    * write computes the column when the frame omits it, and VALIDATES
    * it per row (write-aborting, like CHECK) when the frame supplies it
    * — so a derived partition/skipping column (`day` from a timestamp,
    * a bucket from a key) is always present and always right, and
    * `commitAppend(partitionBy/clusterBy = Seq(name))` plus
    * `readSkipping` on it prune exactly as Delta's partition-evolution
    * story intends. On a NON-empty table the column must already exist
    * and match the expression on every committed row (validated here,
    * one scan — the Delta restriction that generated columns are
    * declared before data is relaxed to "or provably consistent"). */
  def setGeneratedColumn(spark: SparkSession, name: String,
      exprSql: String): Long = {
    import org.apache.spark.sql.functions._
    val live = liveData(spark, snapshot())
    if (!live.isEmpty) {
      require(live.columns.contains(name),
        s"setGeneratedColumn '$name': committed rows lack the column; " +
          "declare generated columns before data lands, or backfill first")
      val bad = live.filter(!(col(name) <=> expr(exprSql))).count()
      require(bad == 0,
        s"setGeneratedColumn '$name': $bad committed rows do not match ($exprSql)")
    }
    generatedCommit(_ + (name -> exprSql))
  }

  /** Drop the generation rule (the column and its data stay). */
  def dropGeneratedColumn(name: String): Long =
    generatedCommit(_ - name)

  // ---------------------------------------------------------------------
  // column mapping (Delta RENAME/DROP COLUMN without rewrite)
  // ---------------------------------------------------------------------

  // Column mapping lives in the snapshot's metadata fold
  // ([[Snapshot.mapping]]: logical → PHYSICAL name, sparse — only renamed
  // columns — plus the physically-dropped names). Physical names are
  // frozen at first write (Delta freezes a UUID; we freeze the original
  // name): a rename is a metadata-only commit re-labelling the logical
  // view, data files are never touched.

  /** The explicit schema for FLAT physical-file scans: the table's
    * logical schema under physical names. An explicit-schema parquet
    * read null-pads columns a pre-evolution file lacks and ignores a
    * dropped column's bytes — exactly the evolution + mapping read
    * semantics — with NO footer-merge schema inference pass, which is
    * the scalable path (mergeSchema lists and merges every footer).
    * Only for flat scans: an explicit schema would null out hive
    * partition columns, which live in dir names, not footers. */
  private def physicalReadSchema(s: Snapshot): Option[StructType] =
    s.schema.filter(_.fields.nonEmpty).map(sch =>
      StructType(sch.fields.map(f => f.copy(name = s.physicalOf(f.name)))))

  /** A parquet reader for flat committed files: explicit physical
    * schema when the table has one, mergeSchema fallback otherwise. */
  private def flatReader(spark: SparkSession, snap: Snapshot)
      : org.apache.spark.sql.DataFrameReader =
    physicalReadSchema(snap) match {
      case Some(s) =>
        // row tracking: the explicit physical schema must ALSO list the
        // materialization columns or the scan silently reads them as
        // absent — files without them fill null (virtual ids apply),
        // files with them surface the pinned ids
        val s2 =
          if (!snap.tracked) s
          else org.apache.spark.sql.types.StructType(s.fields ++ Seq(
            org.apache.spark.sql.types.StructField(MatIdCol,
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField(MatRcvCol,
              org.apache.spark.sql.types.LongType)))
        spark.read.schema(s2)
      case None => spark.read.option("mergeSchema", "true")
    }

  /** Rename a LOGICAL frame to its physical on-disk names (last step
    * before staging — after constraints/generation, which speak
    * logical). One simultaneous select, not a rename fold: under chained
    * renames a physical target can equal ANOTHER column's logical name
    * (a→b after b→c), and sequential renames would collide mid-fold. */
  private def toPhysical(s: Snapshot, df: DataFrame): DataFrame = {
    val m = s.mapping
    if (m.isEmpty || !df.columns.exists(m.contains)) df
    else {
      import org.apache.spark.sql.functions.col
      df.select(df.columns.map(c => col(c).as(m.getOrElse(c, c))): _*)
    }
  }

  /** Present a PHYSICAL scan frame logically: drop dead columns, apply
    * renames (simultaneous, same collision argument as [[toPhysical]]).
    * Helper columns (batch, file/pos) pass through. No-op (and no cost)
    * while the table has no mapping. */
  private def toLogical(s: Snapshot, df: DataFrame): DataFrame = {
    val (m, dropped) = (s.mapping, s.dropped)
    if (m.isEmpty && dropped.isEmpty) df
    else {
      import org.apache.spark.sql.functions.col
      val rev = m.map(_.swap) // physical -> logical
      val keep = df.columns.filterNot(dropped.contains)
      if (keep.sameElements(df.columns) && !keep.exists(rev.contains)) df
      else df.select(keep.map(c => col(c).as(rev.getOrElse(c, c))): _*)
    }
  }

  /** Guard for rename/drop: refuse while a CHECK constraint or a
    * generated-column expression references the column (Delta blocks
    * the same way — the expr would silently stop resolving). */
  private def requireUnreferenced(s: Snapshot, name: String, verb: String): Unit = {
    val refs = (s.aux.constraints ++ s.aux.generated).filter {
      case (n, e) => n == name ||
        ("""\b""" + java.util.regex.Pattern.quote(name) + """\b""").r
          .findFirstIn(e).isDefined
    }
    require(refs.isEmpty,
      s"$verb '$name': referenced by constraint/generated expr ${refs.keys.mkString(", ")}")
  }

  /** RENAME COLUMN (metadata-only, the Delta column-mapping analog):
    * re-labels `oldName` as `newName` in the logical schema and maps
    * the new logical name onto the frozen physical name. Writes keep
    * landing under the physical name; reads present the logical one;
    * stats/bloom skipping keeps pruning (the footers carry physical
    * names, [[readSkippingAll]] translates). Time travel BEFORE this
    * commit shows the old name, after it the new — exactly a metadata
    * transition. */
  def renameColumn(oldName: String, newName: String): Long = {
    val s = snapshot()
    val cur = s.schema.getOrElse(sys.error(
      s"renameColumn: no committed schema to rename in"))
    require(cur.fieldNames.contains(oldName),
      s"renameColumn: no column '$oldName' in ${cur.fieldNames.mkString(",")}")
    require(!cur.fieldNames.contains(newName),
      s"renameColumn: '$newName' already exists")
    requireUnreferenced(s, oldName, "renameColumn")
    val (m, dropped) = (s.mapping, s.dropped)
    val ph = m.getOrElse(oldName, oldName)
    require(!dropped.contains(ph), s"renameColumn: '$oldName' was dropped")
    // logical and physical namespaces must stay disjoint-or-identical:
    // renaming ONTO a frozen physical name (e.g. a→b after b→c) would
    // make raw physical frames ambiguous under translation
    val physicals = cur.fieldNames.map(f => m.getOrElse(f, f)).toSet ++ dropped
    require(!physicals.contains(newName),
      s"renameColumn: '$newName' is a frozen physical name of this table")
    val schema = org.apache.spark.sql.types.StructType(cur.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    mappingCommit(schema.json, (m - oldName) + (newName -> ph), dropped.toSeq,
      s"RENAME COLUMN", derivedFrom = cur.json)
  }

  /** DROP COLUMN (metadata-only): removes the column from the logical
    * schema and tombstones its physical name — data files keep the
    * bytes, readers never see them, and the name cannot be re-added
    * (enforced in [[enforceSchema]]: resurrecting it would make old
    * files' bytes reappear under the new column). */
  def dropColumn(name: String): Long = {
    val s = snapshot()
    val cur = s.schema.getOrElse(sys.error(
      s"dropColumn: no committed schema to drop from"))
    require(cur.fieldNames.contains(name),
      s"dropColumn: no column '$name' in ${cur.fieldNames.mkString(",")}")
    requireUnreferenced(s, name, "dropColumn")
    val (m, dropped) = (s.mapping, s.dropped)
    val ph = m.getOrElse(name, name)
    val schema = org.apache.spark.sql.types.StructType(
      cur.fields.filterNot(_.name == name))
    mappingCommit(schema.json, m - name, (dropped + ph).toSeq, "DROP COLUMN",
      derivedFrom = cur.json)
  }

  /** `derivedFrom` is the committed schema json the caller computed
    * its rename/drop FROM: unlike the other metadata verbs (whose
    * payloads are schema-independent and simply re-record the current
    * schema per attempt), a mapping commit's recorded schema IS a
    * transform of the schema it read — if a rival evolves the table
    * mid-race, re-recording the stale transform would revert the
    * rival's evolution, and silently re-deriving could rename a
    * column the rival just dropped. Abort instead (Delta's
    * MetadataChangedException posture); the caller re-runs. The check
    * runs per attempt on the attempt's snapshot ([[metaCommit]]). */
  private def mappingCommit(schemaJson: String, m: Map[String, String],
      dropped: Seq[String], op: String, derivedFrom: String): Long =
    metaCommit(op) { s =>
      if (s.schema.map(_.json) != Some(derivedFrom))
        sys.error(s"$op: a concurrent commit changed the table schema " +
          "while this metadata commit raced — re-derive and retry " +
          "(metadata conflict)")
      Entry(s.next, schemaStr = Some(schemaJson), columnMapping = Some(m),
        droppedCols = Some(dropped))
    }

  /** Write-side application ([[stage]]-adjacent, but BEFORE schema
    * recording so the commit's metaData sees the computed column):
    * compute absent generated columns; validate present ones per row
    * with the same write-abort as CHECK constraints. A NULL value
    * counts as "not provided" and is computed — that is both Delta's
    * generated-column behavior and what a whole-row upsert needs after
    * its narrower frame was null-padded by the union. */
  private def applyGenerated(s: Snapshot, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    // identity rules are NOT expressions: assignment happens in the
    // append paths (assignIdentity), and snapshot transforms carry the
    // already-assigned values through untouched
    val gen = s.aux.generated.filterNot(_._2.startsWith("IDENTITY("))
    if (gen.isEmpty) df
    else gen.toSeq.sortBy(_._1).foldLeft(df) { case (d, (n, e)) =>
      if (!d.columns.contains(n)) d.withColumn(n, expr(e))
      else d.withColumn(n,
        when(col(n) <=> expr(e), col(n))
          .when(col(n).isNull, expr(e))
          .otherwise(raise_error(concat(
            lit(s"generated column '$n' ($e) mismatch on row: "),
            to_json(struct(d.columns.map(col): _*))))))
    }
  }

  // ---------------------------------------------------------------------
  // identity columns (Delta GENERATED ALWAYS AS IDENTITY)
  // ---------------------------------------------------------------------

  /** An identity rule rides the generated-column metaData slot as
    * `IDENTITY(start,step,watermark)` — declaration, latest-wins log
    * replay, and checkpoint-aux survival all come for free. `watermark`
    * is the LAST VALUE USED; the next assigned value is
    * watermark + step. */
  private val IdentityRule =
    """IDENTITY\((-?\d+),(-?\d+),(-?\d+)(,gaps)?\)""".r

  /** Active identity rules as (column, start, step, watermark),
    * name-sorted for deterministic multi-column assignment order. */
  private def identityRules(s: Snapshot): Seq[(String, Long, Long, Long, Boolean)] =
    s.aux.generated.toSeq.sortBy(_._1).collect {
      case (n, IdentityRule(s, k, w, g)) =>
        (n, s.toLong, k.toLong, w.toLong, g != null)
    }

  /** Assign contiguous identity values to every row of `df` from each
    * rule's watermark. Two passes over a persisted frame: (1) count
    * rows per partition, (2) value = watermark + step × (rows in
    * earlier partitions + row index within this partition), with the
    * within-partition index recovered from the low 33 bits of
    * `monotonically_increasing_id` (its documented layout) and the
    * per-partition base offsets broadcast-joined in — no global sort,
    * no driver round-trip of data, contiguous ids (Delta guarantees
    * only uniqueness/monotonicity; contiguity keeps the watermark
    * growth bounded by row count). Both passes read the PERSISTED
    * blocks, so they see one partitioning; the standard
    * monotonically_increasing_id caveat applies — a nondeterministic
    * upstream whose evicted blocks recompute differently between the
    * passes should be checkpointed by the caller first. Returns the
    * assigned frame, the advanced rules for the commit's metaData,
    * and a release handle for the persist pin. */
  private def assignIdentity(df: DataFrame,
      rules: Seq[(String, Long, Long, Long, Boolean)])
      : (DataFrame, Map[String, String], () => Unit) = {
    val prep = prepareIdentity(df, rules.map(_._1))
    val (assigned, advanced) = assignFromPrep(prep, rules)
    (assigned, advanced, () => prep.release())
  }

  /** The watermark-INDEPENDENT half of identity assignment: pin the
    * frame and measure per-partition counts once. Under OCC contention a
    * rival commit moving the watermark invalidates the assigned VALUES,
    * not the partitioning or the counts — so the retry loop reuses this
    * prep and pays only re-projection + re-staging per retry, not a
    * re-persist + an extra count job. */
  private[graft] case class IdentityPrep(pinned: DataFrame,
      offRows: Seq[(Int, Long)], total: Long) {
    def release(): Unit = { pinned.unpersist(blocking = false); () }
  }

  private[graft] def prepareIdentity(df: DataFrame,
      ruleNames: Seq[String]): IdentityPrep = {
    import org.apache.spark.sql.functions._
    ruleNames.foreach { n =>
      require(!df.columns.contains(n),
        s"identity column '$n' is GENERATED ALWAYS — remove it from the frame")
    }
    val pinned = df.persist()
    val counts = pinned.groupBy(spark_partition_id().as("__pid")).count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val total = counts.map(_._2).sum
    var acc = 0L
    val offRows = counts.map { case (p, c) => val o = acc; acc += c; (p, o) }
    IdentityPrep(pinned, offRows.toSeq, total)
  }

  private[graft] def assignFromPrep(prep: IdentityPrep,
      rules: Seq[(String, Long, Long, Long, Boolean)])
      : (DataFrame, Map[String, String]) = {
    import org.apache.spark.sql.functions._
    // re-check the FRESH rules against the frame, not just the ones read
    // at loop entry: a rival can declare a NEW identity column mid-race
    // (legal while the table is empty), and silently overwriting a
    // same-named user column would violate GENERATED ALWAYS
    rules.foreach { case (n, _, _, _, _) =>
      require(!prep.pinned.columns.contains(n),
        s"identity column '$n' is GENERATED ALWAYS — remove it from the frame")
    }
    val sp = prep.pinned.sparkSession
    import sp.implicits._
    val offDf = prep.offRows.toDF("__pid", "__off")
    // __pid/__rip are projected over the PERSISTED blocks before the
    // broadcast join, so they see the exact partitioning the count pass
    // measured
    var out = prep.pinned
      .withColumn("__pid", spark_partition_id())
      .withColumn("__rip",
        monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)))
      .join(broadcast(offDf), "__pid")
    rules.foreach { case (n, _, step, wm, _) =>
      out = out.withColumn(n,
        lit(wm + step) + lit(step) * (col("__off") + col("__rip")))
    }
    val assigned = out.drop("__pid", "__rip", "__off")
    val advanced = rules.map { case (n, s0, k, wm, g) =>
      n -> s"IDENTITY($s0,$k,${wm + k * prep.total}${if (g) ",gaps" else ""})"
    }.toMap
    (assigned, advanced)
  }

  /** Declare `name` GENERATED ALWAYS AS IDENTITY (START WITH `start`
    * STEP `step`): every append assigns the column automatically —
    * unique, increasing by `step`, contiguous per batch — and a frame
    * that carries the column is REJECTED (the ALWAYS semantics). The
    * high watermark rides each assigning commit's metaData, so it
    * replays from the log (and survives cleanupLog via the checkpoint
    * aux) — two sink instances over the same table continue the same
    * sequence. Must be declared before data lands (the Delta
    * restriction). Snapshot transforms (merge/compact/restore) carry
    * assigned values through untouched; unlike Delta, MERGE does not
    * assign to its inserted rows — route new rows through an append.
    * Concurrent appends are safe: a writer that loses its claim race
    * re-reads the watermark and re-assigns before retrying, so ranges
    * never collide ([[commitAppend]]'s identity loop).
    *
    * `allowGaps = true` trades CONTIGUITY away for cheap contention
    * (the Delta identity semantics): each append reserves its range in
    * a metadata-only pre-commit, so a rival costs one O(1) metadata
    * re-claim instead of a re-assign + re-stage rewrite, and a crash
    * after the reservation leaves a gap in the sequence — values stay
    * unique and increasing either way. Default (false) keeps the
    * stronger gap-free guarantee: assignment and data ride one atomic
    * commit (contention cost measured in golden/occ_r14.json). */
  def setIdentityColumn(spark: SparkSession, name: String,
      start: Long = 1L, step: Long = 1L, allowGaps: Boolean = false): Long = {
    require(step != 0, "setIdentityColumn: step must be non-zero")
    require(liveData(spark, snapshot()).isEmpty,
      s"setIdentityColumn '$name': declare identity columns before data lands")
    generatedCommit(_ + (name ->
      s"IDENTITY($start,$step,${start - step}${if (allowGaps) ",gaps" else ""})"))
  }

  private def generatedCommit(f: Map[String, String] => Map[String, String]): Long =
    metaCommit("SET GENERATED")(s => Entry(s.next, generated = Some(f(s.aux.generated))))

  /** `s`'s committed schema for a metadata-only entry. */
  private def metaSchemaJson(s: Snapshot): String =
    s.schema.map(_.json).getOrElse(Entry.EmptySchema)

  /** Test seam (no-op in production): fires before each metadata-only
    * claim attempt, so a spec can race a schema evolution into the
    * window deterministically. */
  private[graft] var metaClaimHook: () => Unit = () => ()

  /** THE claim loop of every metadata-only commit (constraints,
    * generated columns, domains, column mapping, the plain row-tracking
    * enable): per attempt, take a snapshot, fire [[metaClaimHook]],
    * build the entry at its `next` version with `entryAt(snapshot)` and
    * claim it as `op`; a lost claim retries on a fresh snapshot. The
    * entry has no data dir and no adds, and `snapshot = false`, so it
    * neither hides prior data nor trips the CDC feed's loud-failure path. It
    * records the committed schema as of the attempt unless it sets its
    * own. Schema AND payload are re-derived on every attempt: a commit
    * that lost a race to a schema-evolving rival and then recorded the
    * schema it read at entry would silently REVERT the rival's evolution
    * in latestSchema. A check `entryAt` makes on its snapshot is
    * race-free: version claims are dense, so winning `next` proves no
    * rival committed after the snapshot. */
  private def metaCommit(op: String)(entryAt: Snapshot => Entry): Long = {
    while (true) {
      val s = snapshot()
      metaClaimHook()
      val e = entryAt(s)
      if (claim(s, e.copy(op = op, schemaStr = e.schemaStr.orElse(Some(metaSchemaJson(s))))))
        return e.version
    }
    -1L // unreachable
  }

  private def constraintCommit(f: Map[String, String] => Map[String, String]): Long =
    metaCommit("SET CONSTRAINT")(s => Entry(s.next, constraints = Some(f(s.aux.constraints))))

  /** RESTORE TABLE TO VERSION `toVersion` (the Delta RESTORE analog):
    * a METADATA-ONLY snapshot commit that re-points the live file set
    * at exactly the data dirs visible at `toVersion` — no data files
    * are rewritten or copied; the add actions (with their original
    * per-file stats and blooms, so readSkipping/readLookup keep
    * pruning) are lifted from the source commits into the new commit.
    * History stays linear: the restore is just the next version, time
    * travel to any pre-restore version still works, and a restore of a
    * restore flattens transitively (dataDirs). The commit records the
    * LOGICAL diff (rows deleted since `toVersion` as `insert`, rows
    * added since as `delete`) as its CDC change set, so incremental
    * consumers follow the rollback instead of going silently stale.
    * Runs through the OCC claim loop — a concurrent commit invalidates
    * the computed diff, so re-read and recompute. Returns the committed
    * version. */
  /** SHALLOW CLONE (the Delta `CREATE TABLE ... SHALLOW CLONE` analog):
    * materialize a new, independently-writable table at `targetDir`
    * that references THIS table's data files without copying a byte.
    * The clone gets a full copy of the source's commit LOG (every raw
    * entry, checkpoint, and truncation marker — so the clone serves
    * the same time travel, CDC and history as the source at clone
    * time), with every data path rewritten to an ABSOLUTE path into
    * the source's data root — the Delta absolute-`add`-path mechanism.
    * Relative paths always resolve under a table's own `data/`;
    * absolute paths pass through (`Path.resolve` semantics), so every
    * read verb — scans, skipping, bloom lookup, CDC, merge-on-read
    * subtraction ([[relKeyCol]]'s absolute branch) — works unchanged.
    *
    * Writes after the clone diverge: new commits (append / merge /
    * deleteDV / OPTIMIZE) land in the CLONE's data root and log, never
    * the source's; a copy-on-write verb or [[compact]] on the clone
    * rewrites referenced source data into clone-local files, after
    * which the clone is physically independent. [[vacuum]] on the
    * clone lists only the clone's own data root, so it can never
    * reclaim source files. The one live coupling, exactly as in Delta:
    * VACUUM or destructive history operations ON THE SOURCE can remove
    * files the clone still references — run [[compact]] on the clone
    * first if the source's lifecycle is not under your control.
    *
    * The target must not already have a log. Uses direct log-file
    * writes (no OCC claims — the target is required to be fresh, and
    * the source log files are immutable once committed). Returns the
    * clone's latest version. Chained clones work: already-absolute
    * paths are preserved verbatim. Absolute-path detection assumes
    * POSIX roots (leading "/"): Windows drive-letter paths would need a
    * scheme-aware form of both abs() and relKeyCol's foreign branch. */
  def cloneTo(targetDir: String): Long = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val tgt = storeFactory(Paths.get(targetDir, "_graft_log"))
    require(tgt.list().isEmpty,
      s"cloneTo: $targetDir already has a commit log")
    val listing = LogListing(store.list())
    val vs = listing.versions
    require(vs.nonEmpty || listing.checkpoints.nonEmpty,
      "cloneTo: source table has no commits")
    val srcRoot = dataDir.toAbsolutePath.normalize.toString.replace("\\", "/")
    def abs(rel: String): String =
      if (rel.isEmpty || rel.startsWith("/")) rel else s"$srcRoot/$rel"
    // Rewrite ONE commit entry's data references to absolute. Top-level
    // fields only — never recursive, so user columns named "dir"/"dv"/
    // "remove" inside schemaString or per-file stats are untouched.
    def rewriteEntry(text: String, vHint: Long = -1L): String = {
      val j = JsonMethods.parse(text)
      val fields = j match {
        case JObject(fs) => fs
        case _ => return text // unparseable shapes are copied verbatim
      }
      // pre-dir legacy entries omit the field and the parser defaults it
      // to the RELATIVE "batch=<v>" — materialize that default here (made
      // absolute below) or the clone would resolve it under its own
      // empty data root
      val fields1 =
        if (fields.exists(_._1 == "dir")) fields
        else {
          // version from the txn action, else the caller's hint (the
          // raw-log file name) — a pre-dir pre-txn entry left verbatim
          // would resolve its implicit relative dir under the CLONE's
          // empty data root
          val v = fields.collectFirst { case ("txn", o: JObject) =>
            (o \ "version") match { case JInt(x) => x.toLong; case _ => -1L }
          }.filter(_ >= 0).getOrElse(vHint)
          // refuse rather than copy verbatim: a pre-txn/pre-dir entry
          // surviving only in a checkpoint keeps its implicit relative
          // "batch=<v>" dir, which on the clone resolves under the
          // clone's EMPTY data root — those commits would silently read
          // as zero rows (same refuse-to-misread posture as the
          // readerFeatures check)
          if (v < 0) sys.error("cloneTo: cannot determine the version of a " +
            "pre-dir pre-txn checkpoint entry — refusing to clone a log " +
            "whose implicit data dirs cannot be made absolute")
          fields :+ ("dir", JString(s"batch=$v"))
        }
      // restore/lifted entries key their adds at data-root granularity
      // (dir empty or re-pointed dirs); ordinary commits key adds
      // relative to their own dir, which itself goes absolute
      val keySpaceAdds = fields1.exists {
        case ("restoreDirs", JArray(items)) => items.nonEmpty
        case _ => false
      } || fields1.collectFirst { case ("dir", JString(d)) => d }.forall(_.isEmpty)
      val out = fields1.map {
        case ("dir", JString(d)) => ("dir", JString(abs(d)))
        case ("restoreDirs", JArray(items)) =>
          ("restoreDirs", JArray(items.map {
            case JString(s) => JString(abs(s)); case x => x
          }))
        case ("changeDir", JString(d)) => ("changeDir", JString(abs(d)))
        case ("remove", JArray(items)) =>
          ("remove", JArray(items.map {
            case JString(s) => JString(abs(s)); case x => x
          }))
        case ("dv", JObject(fs)) =>
          ("dv", JObject(fs.map { case (k, v) => (abs(k), v) }))
        case ("add", JArray(items)) if keySpaceAdds =>
          ("add", JArray(items.map {
            case JObject(afs) => JObject(afs.map {
              case ("path", JString(p)) => ("path", JString(abs(p)))
              case other => other
            })
            case x => x
          }))
        case other => other
      }
      // a cloned entry references foreign roots by absolute path — a
      // reader must understand pass-through resolution, so declare it
      val feats0 = out.collectFirst { case ("protocol", o: JObject) =>
        (o \ "readerFeatures") match {
          case JArray(items) => items.collect { case JString(s) => s }
          case _ => Nil
        }
      }.getOrElse(Nil)
      val proto = ("protocol", JObject(List(("readerFeatures",
        JArray((feats0 :+ "absolutePaths").distinct.map(JString(_)))))))
      // keep "ict" as the FIRST field, where Entry.render puts it
      val fields2 = out.filterNot(_._1 == "protocol") match {
        case (h @ ("ict", _)) :: rest => h :: proto :: rest
        case rest => proto :: rest
      }
      JsonMethods.compact(JsonMethods.render(JObject(fields2)))
    }
    tgt.ensureRoot()
    Files.createDirectories(Paths.get(targetDir, "data"))
    vs.foreach { v =>
      tgt.put(logName(v), rewriteEntry(store.read(logName(v)), vHint = v))
    }
    // checkpoints: line 1 is the aux header (no data paths), the rest
    // are commit entries — rewritten like the raw log so a clone of a
    // cleanupLog'd source still replays from its checkpoint. A
    // multipart checkpoint keeps its shape: the manifest head is copied
    // verbatim (sidecar names, counts and last-versions are unchanged
    // by a 1:1 entry rewrite) and each sidecar's entries are rewritten
    // into a clone-local sidecar of the same name.
    listing.checkpoints.foreach { cv =>
      val lines = store.readLines(ckptNameOf(cv)).filter(_.nonEmpty)
      if (lines.nonEmpty) {
        val parts = try CkptAux.parse(lines.head).fold(Seq.empty[SidecarRef])(_._3)
          catch { case scala.util.control.NonFatal(_) => Nil }
        if (parts.isEmpty) {
          val body = lines.head +: lines.tail.map(rewriteEntry(_))
          tgt.put(ckptNameOf(cv), body.mkString("\n") + "\n")
        } else try {
          parts.foreach { p =>
            val ls = store.readLines(p.name).filter(_.nonEmpty)
            tgt.put(p.name,
              ls.map(rewriteEntry(_)).mkString("", "\n", "\n"))
          }
          tgt.put(ckptNameOf(cv), lines.head + "\n")
        } catch {
          // a multipart checkpoint with a missing/torn sidecar is
          // unusable on the source too — skip it (readers fall back),
          // matching the torn single-file posture, UNLESS it carries a
          // pre-dir refusal (rewriteEntry sys.errors), which must
          // propagate: a clone silently missing that checkpoint would
          // misread, not degrade
          case e: RuntimeException
              if e.getMessage != null &&
                e.getMessage.startsWith("cloneTo:") => throw e
          case scala.util.control.NonFatal(_) =>
            tgt.delete(ckptNameOf(cv))
        }
      }
    }
    if (listing.truncated)
      tgt.put(TruncMarkerName, store.read(TruncMarkerName))
    // version checksums summarize the version-pinned log FOLD (counts,
    // not paths), which the clone's rewritten entries preserve exactly —
    // copy them verbatim so the clone's integrity checks keep working
    listing.crcs.foreach { v =>
      tgt.put(crcName(v), store.read(crcName(v)))
    }
    (vs ++ listing.checkpoints).max
  }

  /** DEEP CLONE (the Delta `CREATE TABLE ... DEEP CLONE` analog, with a
    * stronger contract): materialize an independently-writable PHYSICAL
    * copy of this table at `targetDir` — the commit log (raw entries,
    * checkpoints, sidecars, truncation marker) byte-identical and every
    * referenced data dir copied — so the clone serves the source's FULL
    * history (time travel, CDC, row ids, metadata folds) with zero live
    * coupling: vacuum, cleanupLog, or outright deletion of the source
    * cannot touch it. Delta's deep clone copies only the live snapshot
    * and restarts history at version 0; keeping the log verbatim is
    * strictly stronger and the byte cost is the same order (history
    * shares files with the live set except rewritten ones).
    *
    * Cost is O(referenced data bytes), deliberately — physical
    * independence is the verb's whole point; [[cloneTo]] is the
    * zero-copy sibling. Data dirs a destructive
    * `vacuum(retainHistory = false)` already reclaimed are skipped:
    * the source cannot serve those reads either, and the clone fails
    * them identically.
    *
    * REFUSED when any servable log entry references data by ABSOLUTE
    * path — i.e. the source is itself a shallow clone. A byte copy of
    * such a log would keep pointing into the foreign root, silently
    * re-creating exactly the coupling this verb removes. To deep-clone
    * a shallow clone, localize it first: [[compact]] (live set goes
    * clone-local), then checkpoint past the snapshot and
    * [[cleanupLog]] (absolute-path history entries leave the servable
    * log) — after which deepCloneTo succeeds. */
  def deepCloneTo(targetDir: String): Long = {
    def emptyOrAbsent(p: Path): Boolean = !Files.isDirectory(p) || {
      val s = Files.list(p)
      try !s.iterator().hasNext finally s.close()
    }
    val tgt = storeFactory(Paths.get(targetDir, "_graft_log"))
    require(tgt.list().isEmpty,
      s"deepCloneTo: $targetDir already has a commit log")
    // a pre-existing data tree would be silently MERGED with the clone
    // (copies replace name-collisions but leave strangers in place) —
    // stale files the cloned log never references would survive in the
    // target, defeating the byte-identical contract
    require(emptyOrAbsent(Paths.get(targetDir, "data")),
      s"deepCloneTo: $targetDir already has a data tree — clone into an " +
        "empty target (stale unreferenced files would otherwise survive)")
    val commits = allKnownCommits(snapshot())
    require(commits.nonEmpty, "deepCloneTo: source table has no commits")
    commits.foreach { c =>
      val refs = c.dataDirs ++ c.changeDir ++ c.removes ++ c.dvs.keys ++
        (if (c.restoreDirs.nonEmpty || c.dir.isEmpty) c.adds.map(_.path)
         else Nil)
      refs.find(_.startsWith("/")).foreach { r =>
        sys.error(s"deepCloneTo: version ${c.version} references data by " +
          s"absolute path ($r) — the source is a shallow clone, and a " +
          "byte copy would stay coupled to the foreign root. compact() " +
          "it (localizes the live set), then checkpoint + cleanupLog " +
          "(retires the absolute-path history), and deep-clone again.")
      }
    }
    // every data dir any servable version references: re-pointed dirs
    // for restores, the commit's own dir otherwise (root-keyed adds
    // contribute their paths' parent dirs), plus CDC change dirs
    val dirs: Seq[String] = commits.flatMap { c =>
      val dataRefs =
        if (c.restoreDirs.nonEmpty) c.restoreDirs
        else if (c.dir.nonEmpty) Seq(c.dir)
        else c.adds.map { a =>
          a.path.lastIndexOf('/') match {
            case -1 => ""
            case i => a.path.substring(0, i)
          }
        }
      dataRefs ++ c.changeDir
    }.distinct.filter(_.nonEmpty)
    def copyTree(src: Path, dst: Path): Unit =
      withDirStream(Files.walk(src))(_.toSeq).foreach { p =>
        val t = dst.resolve(src.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else {
          Files.createDirectories(t.getParent)
          Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
        }
      }
    tgt.ensureRoot()
    val tgtData = Paths.get(targetDir, "data")
    Files.createDirectories(tgtData)
    // the log, verbatim: raw entries, checkpoints (manifest heads AND
    // sidecar bodies — all paths inside are relative, so a 1:1 object
    // copy is already correct), and the truncation marker
    store.list().foreach { n =>
      if (n.endsWith(".json") ||
          n.endsWith(".checkpoint") || n.endsWith(".sidecar") ||
          n.endsWith(".crc") || n == TruncMarkerName)
        tgt.put(n, store.read(n))
    }
    dirs.foreach { rel =>
      val src = dataDir.resolve(rel)
      if (Files.exists(src)) copyTree(src, tgtData.resolve(rel))
    }
    commits.map(_.version).max
  }

  def restore(spark: SparkSession, toVersion: Long, maxRetries: Int = 20): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    val live = snapshot()
    require(live.listing.versions.contains(toVersion),
      s"restore: version $toVersion is not committed")
    val visibleAt = asOf(live, toVersion)
    val src = visibleAt.live
    require(src.nonEmpty, s"restore: no data visible at version $toVersion")
    val dirs = src.flatMap(_.dataDirs).distinct
    // merge-on-read state at the target version: files removed by then
    // are NOT lifted, and surviving deletion vectors ride the restore
    // commit itself — otherwise a restore past a DV delete would
    // resurrect the deleted rows
    val tsAt = visibleAt.ts
    // re-pointed add actions: paths become data/-relative; stats,
    // blooms, row counts and sizes carry over verbatim (restore cannot
    // change them); row tracking ids carry too, the default rcv pinned
    // to the SOURCE commit (a restore re-points files, it does not
    // rewrite rows)
    val lifted = src.flatMap { c =>
      c.adds.collect {
        case a if !tsAt.removed.contains(addKey(c, a)) =>
          a.copy(path = addKey(c, a),
            rcv = a.rcv.orElse(a.baseRowId.map(_ => c.version)))
      }
    }
    // Row-id carry across the enablement boundary: a lifted add that
    // PREDATES row tracking (restore target before a backfill enable)
    // has no recorded block — reuse the newest block ANY known commit
    // recorded for the same file (the backfill re-committed exactly
    // these paths, so unchanged files keep their ids — stability). A
    // file NO commit ever assigned (retired before the backfill ran)
    // is REFUSED: its rows never had ids, a fresh block would hand
    // surviving business rows new ids mid-history — the id-stability
    // break Delta avoids by refusing protocol-boundary restores
    // outright (this guard refuses only the underivable subset;
    // fuzz seed 20 found the drift).
    val tracked = live.tracked
    val knownIds: Map[String, (Long, Long)] =
      if (!tracked) Map.empty
      else allKnownCommits(live).sortBy(_.version).flatMap { c =>
        c.adds.flatMap(a => a.baseRowId.map(b =>
          addKey(c, a) -> (b, a.rcv.getOrElse(c.version))))
      }.toMap // ascending fold: the newest recording of a key wins
    val carriedIds: Map[String, (Long, Long)] =
      if (!tracked) Map.empty
      else lifted.flatMap { a =>
        a.baseRowId.map(b => (b, a.rcv.getOrElse(0L)))
          .orElse(knownIds.get(a.path)).map(a.path -> _)
      }.toMap
    if (tracked) {
      val unassigned = lifted.filterNot(a => carriedIds.contains(a.path))
      if (unassigned.nonEmpty)
        sys.error(s"restore: version $toVersion predates row tracking and " +
          s"${unassigned.size} of its files (e.g. ${unassigned.head.path}) " +
          "were retired before the backfill assigned ids — restoring would " +
          "give their surviving rows fresh ids mid-history. Restore to a " +
          "version at or after enablement instead (row-id stability)")
    }
    val adds = lifted.map(a => a.copy(baseRowId = carriedIds.get(a.path).map(_._1),
      rcv = carriedIds.get(a.path).map(_._2)))
    val liftedKeys = adds.map(_.path).toSet
    val target = readAt(spark, live, Some(visibleAt)).drop("batch")
    // re-points the whole live set, so no rebase: re-claiming past a
    // rival append would silently drop its rows
    occTransact("restore", maxRetries, rebase = false) { s =>
      val current0 = liveData(spark, s)
      // an everything-deleted live state reads as a schemaless empty
      // frame; diff it as zero rows of the target's shape
      val current = if (current0.columns.isEmpty) target.limit(0) else current0
      // align schemas before the positional exceptAll: a restore across
      // schema evolution diffs frames with different column sets, so
      // null-pad each side to the union schema in ONE column order
      val tAl = target.unionByName(current.limit(0), allowMissingColumns = true)
      val cAl = current.unionByName(target.limit(0), allowMissingColumns = true)
        .select(tAl.columns.map(col): _*)
      // logical diff current -> target (multiset semantics): what a CDC
      // consumer must apply to follow the rollback
      val changes = tAl.exceptAll(cAl).withColumn("_change_type", lit("insert"))
        .unionByName(
          cAl.exceptAll(tAl).withColumn("_change_type", lit("delete")))
      val ch = publish(s, changes, s"changes/${java.util.UUID.randomUUID()}",
        Nil, Nil, 0, check = false)
      Some((t: Snapshot) => Entry(t.next, snapshot = true, adds = adds, op = "RESTORE",
        schemaStr = Some(target.schema.json), changeDir = Some(ch.dir),
        changeAdds = ch.adds, restoreDirs = dirs,
        // removed files are excluded from the lifted adds, but the
        // re-pointed DIRS still physically contain them — the restore
        // commit re-states the removes so the dir-granular scan keeps
        // subtracting them after the snapshot fold restarts
        removes = tsAt.removed.toSeq.sorted,
        dvs = tsAt.dv.filter(kv => liftedKeys(kv._1)),
        // the lifted files may carry materialized ids from rewrites
        // before the restore point
        matFiles = tracked))
    }
  }

  /** Compact the live state (many small append batches → one snapshot);
    * semantically a no-op, physically the Delta OPTIMIZE analog — so it
    * records NO change rows and readChanges skips it. With `clusterBy`,
    * the rewrite is z-order clustered (OPTIMIZE ZORDER BY): the
    * snapshot's per-file stats come out tight on every clustered
    * column, so readSkipping prunes on any of them even though the
    * original appends were written in arrival order.
    *
    * A PARAMETERLESS compact discovers the declared layout from the
    * `graft.clustering` domain, like [[compactSmall]] (round 17): after
    * [[setClusterBy]] evolves the key, this full rewrite is the
    * OPTIMIZE FULL analog — EVERY live row lands in the new layout,
    * including files too big for the incremental pass. A table with no
    * recorded layout packs in arrival order, exactly as before. */
  def compact(spark: SparkSession, clusterBy: Seq[String] = Nil,
      clusterFiles: Int = 8): Long = {
    val cb = if (clusterBy.nonEmpty) clusterBy else activeClusterCols(snapshot())
    transactSnapshotChanges(spark, "COMPACT") { live =>
      (if (cb.isEmpty) live
       else graft.operators.ZOrder.cluster(live, cb, clusterFiles),
        None)
    }
  }

  /** Incremental OPTIMIZE (the actual Delta OPTIMIZE semantics:
    * bin-pack SMALL files, leave big ones alone): live files under
    * `targetBytes` are read (deletion vectors subtracted — packing
    * materializes them away), re-written as ~targetBytes files, and
    * committed as a NON-snapshot entry whose `remove` actions retire
    * the originals. [[compact]] rewrites the whole table — right for
    * re-clustering, wrong for the steady-state small-files problem a
    * streaming ingest creates, where O(small files) work per OPTIMIZE
    * run is the point. Physical-only like compact: contributes nothing
    * to the CDC feed; time travel before the commit still sees the
    * original files. Hive-partitioned commits are skipped (reading
    * their leaf files directly would drop partition columns); the OCC
    * claim loop re-picks candidates on conflict, so a concurrent DV
    * delete can never be lost. Returns the committed version, or -1
    * when fewer than `minFiles` candidates exist. */
  def compactSmall(spark: SparkSession, targetBytes: Long = 128L << 20,
      minFiles: Int = 2, maxRetries: Int = 20,
      clusterBy: Seq[String] = Nil, clusterFiles: Int = 0): Long = {
    import org.apache.spark.sql.functions.col
    // OPTIMIZE discovers the table's layout from the log when the caller
    // passes none: clustered writes record their PHYSICAL columns in the
    // `graft.clustering` domain, so an auto-compact (streaming-ingest
    // maintenance) preserves the declared clustering instead of
    // silently packing in arrival order — the Delta liquid-clustering
    // discovery loop, closed on both ends. activeClusterCols translates
    // back to the logical view, so a RENAME never narrows the layout; a
    // recorded column DROPped since the clustered write is skipped
    // (explicit clusterBy still fails loudly).
    occTransact("compactSmall", maxRetries) { s =>
      val clusterCols =
        if (clusterBy.nonEmpty) clusterBy else activeClusterCols(s)
      val ts = s.ts
      val candAdds = s.live
        .filter(c => c.adds.forall(a => !a.path.contains("/")))
        .flatMap(c => c.adds.map(a => addKey(c, a) -> a))
        .filterNot { case (k, _) => ts.removed(k) }
        .map { case (k, a) => (k, a, Files.size(dataDir.resolve(k))) }
        .filter(_._3 < targetBytes)
      val cands = candAdds.map(t => (t._1, t._3))
      if (cands.size < minFiles) None
      else {
        val nOut = math.max(1,
          math.ceil(cands.map(_._2).sum.toDouble / targetBytes).toInt)
        // one scan over files from DIFFERENT commits: explicit physical
        // schema — without it parquet would silently adopt one file's
        // schema and DROP the other commits' evolved columns
        val scan = flatReader(spark, s)
          .parquet(cands.map(c => dataDir.resolve(c._1).toString): _*)
          .withColumn(FileCol, relKeyCol)
          .withColumn(RidxCol, col("_metadata.row_index"))
        val tracked = s.tracked
        val live1 = applyTombstones(scan, Tombstones(Set.empty, ts.dv))
        // row tracking: the packed rows change (file, position), so pin
        // each one's id/commit-version into the materialization columns
        // before the positions are lost — OPTIMIZE preserves row ids
        val live0 = (if (tracked)
            withResolvedMat(live1, s.live)
          else live1)
          .drop(FileCol, RidxCol)
        // OPTIMIZE ... ZORDER BY, incrementally: z-order just the packed
        // small files (the scan frame carries PHYSICAL names — translate
        // the clustering columns). Big files keep their existing layout.
        val packed =
          if (clusterCols.isEmpty) live0.coalesce(nOut)
          else graft.operators.ZOrder.cluster(live0, clusterCols.map(s.physicalOf),
            if (clusterFiles > 0) clusterFiles else math.max(nOut, 2))
        // blooms SURVIVE OPTIMIZE: recompute them for the packed output
        // over the union of the recorded bloom policy and whatever
        // columns the retired files carried blooms for (legacy tables
        // that predate the `graft.bloom` domain) — otherwise an
        // auto-compacting streaming table silently loses the point-probe
        // pruning q_sink_bloom_lookup exists to demonstrate
        val (polCols, polBits) = bloomPolicy(s)
        val retiredBlooms = candAdds.map(_._2.bloom)
        val bloomCols = (polCols ++ retiredBlooms.flatMap(_.keys)).distinct
        val bloomBits =
          if (polCols.nonEmpty) polBits
          else retiredBlooms.flatMap(_.values.map(_.length * 64))
            .maxOption.getOrElse(4096)
        // check=false: a physical rewrite of already-validated committed
        // rows (and the frame carries PHYSICAL names — constraint exprs
        // would not even resolve against them)
        val pub = publish(s, packed, s"files/${java.util.UUID.randomUUID()}",
          Nil, bloomCols, bloomBits, check = false)
        // a rival PURE APPEND cannot touch the packed candidates (its files
        // did not exist at the read), so a rebase re-claims the packed
        // output as-is; its new small files are simply the next OPTIMIZE
        // run's work. A rival with removes/DVs (including a rival
        // OPTIMIZE) may have retired a candidate — full re-pick.
        Some { (t: Snapshot) =>
          Entry(t.next, pub.dir, adds = pub.adds, op = "COMPACT_INC",
            schemaStr = Some(t.schema.map(_.json).getOrElse(packed.schema.json)),
            removes = cands.map(_._1), matFiles = tracked,
            // re-record only an EXPLICIT caller declaration: the
            // discovered set may be narrowed by a concurrent DROP, and
            // re-recording it would make the narrowing permanent
            domains = clusterDomain(t, clusterBy))
        }
      }
    }
  }

  /** VACUUM analog: delete data that no committed version references —
    * abandoned OCC staging dirs (lost snapshot races) and, with
    * `retainHistory = false`, data dirs superseded by a later snapshot
    * (after which time travel before that snapshot is gone, exactly as
    * Delta's VACUUM breaks time travel past the retention window).
    * Returns the number of directories removed. Never touches dirs a
    * visible commit references, so readers are unaffected.
    *
    * `minAgeMs` is the Delta retention guard, and it is NOT optional
    * safety theater: an OCC writer moves its data into `data/files/…`
    * BEFORE winning the version claim, so a freshly-moved dir is
    * momentarily unreferenced by any commit. A vacuum racing that window
    * without an age floor would purge data whose claim then succeeds —
    * a committed version pointing at deleted files. Dirs younger than
    * `minAgeMs` are skipped (default 1 h; pass 0 only when no writer can
    * be in flight, as the single-threaded tests do).
    *
    * The age clock starts at MOVE time, not staging-write time: a rename
    * preserves the source mtime, so each writer re-stamps the moved dir
    * ([[touchNow]]) the moment it lands under `data/`. The residual
    * exposure is therefore only the post-move claim loop (version probe +
    * OCC retries), not the potentially-long fileStats/fileBlooms phase —
    * a writer must stall >minAgeMs BETWEEN the move and the claim for the
    * race to reopen. */
  /** Re-stamp a just-moved dir's mtime to now: the atomic move preserves the
    * staging mtime, which would start vacuum's retention clock at
    * staging-write completion instead of at the move — shrinking the
    * guard window by however long stats/bloom collection took. */
  private def touchNow(p: Path): Unit =
    Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))

  /** Every commit this table can still serve: the newest parseable
    * checkpoint's visible entries (whose raw log files may have been
    * reclaimed by [[cleanupLog]]) unioned with the surviving raw
    * entries. Vacuum's referenced-set computation must use THIS, not
    * the raw log alone — after cleanup, checkpoint-served commits still
    * point at live data dirs. Read from `s`'s LIST. */
  private def allKnownCommits(s: Snapshot): Seq[Entry] = {
    val raw = s.listing.versions.map(parseCommit)
    val rawVs = raw.map(_.version).toSet
    val seed: Seq[Entry] =
      if (s.truncatedBelow == 0L)
        // never cleaned: the raw log is complete, the newest checkpoint
        // only short-cuts what raw already has
        s.listing.checkpoints.reverseIterator
          .flatMap(loadCheckpoint(_, s.listing, 0L))
          .nextOption().fold(Seq.empty[Entry])(_.entries)
      else {
        // after a cleanup, entries below the truncation anchor survive
        // ONLY in checkpoints — and a snapshot committed between two
        // checkpoints compacts an entry out of every LATER checkpoint
        // while it stays time-travel-servable through an earlier one
        // (reads at pre-snapshot versions seed from the checkpoint at
        // or below their target). So fold every surviving checkpoint,
        // newest first, keeping the newest copy of each version — the
        // newest-only seed here is how vacuum used to purge data still
        // referenced by the anchor checkpoint's window. Surviving
        // checkpoint count is bounded by the cleanup cadence (cleanup
        // deletes checkpoints below its anchor).
        val seen = scala.collection.mutable.Set.empty[Long]
        s.listing.checkpoints.reverse.iterator.flatMap(cv =>
          loadCheckpoint(cv, s.listing, 0L).fold(Seq.empty[Entry])(_.entries)
            .sortBy(-_.version))
          .filter(c => seen.add(c.version)).toSeq
      }
    (seed.filterNot(c => rawVs(c.version)) ++ raw).sortBy(_.version)
  }

  /** Reclaim raw log entries (and superseded checkpoints) strictly
    * below the newest old-enough parseable checkpoint — the Delta
    * log-retention analog (`delta.logRetentionDuration`). Afterwards:
    * live reads and time travel at or above that checkpoint are exact
    * (served from it); time travel and CDC below it FAIL LOUDLY
    * (snapshot / readChanges guards) instead of rebuilding
    * partial state; constraint sets and streamTxn cursors survive in
    * the checkpoint's aux header. The age guard serves the same role
    * as vacuum's: a reader that listed the log keeps a grace window
    * before the entries it saw can disappear. Returns files removed. */
  /** Where history was truncated: versions BELOW this may be missing
    * from the raw log (0 = never cleaned). Written before deletion so a
    * crash mid-cleanup can only over-report truncation (reads below the
    * marker error), never under-report it (silently partial state). A
    * log that merely STARTS above version 0 — a streaming writer whose
    * first batchId is nonzero — is not truncation and sets no marker. */
  private val TruncMarkerName = "_graft_log_truncated"

  private[graft] def truncatedBelow(): Long = snapshot().truncatedBelow

  def cleanupLog(minAgeMs: Long = 604800000L): Int = {
    val cutoff = System.currentTimeMillis() - minAgeMs
    def oldEnough(name: String): Boolean =
      store.modifiedTime(name) <= cutoff
    val listing = LogListing(store.list())
    val anchor = listing.checkpoints
      .filter(cv => oldEnough(ckptNameOf(cv)) &&
        loadCheckpoint(cv, listing, 0L).isDefined)
      .maxOption
    anchor.fold(0) { a =>
      if (!listing.truncated || readTruncMarker() < a)
        store.put(TruncMarkerName, a.toString)
      var removed = 0
      listing.versions.filter(_ < a).foreach { v =>
        if (oldEnough(logName(v))) { store.delete(logName(v)); removed += 1 }
      }
      val deleted = listing.checkpoints.filter(_ < a)
        .filter(cv => oldEnough(ckptNameOf(cv)))
      deleted.foreach { cv => store.delete(ckptNameOf(cv)); removed += 1 }
      // checksums of reclaimed versions: their log fold is no longer
      // servable (reads below the anchor fail loudly), so the stored
      // summary is unverifiable — reclaim it with the entries
      listing.crcs.filter(_ < a).foreach { v =>
        if (oldEnough(crcName(v))) {
          store.delete(crcName(v)); removed += 1
        }
      }
      // sidecars: a part is live only while a surviving checkpoint's
      // manifest references it — parts of just-deleted checkpoints and
      // lost-race orphans (a rival moved its sidecars, then lost the
      // manifest claim and crashed before self-cleanup) are reclaimed
      // once old enough. Parts above the anchor stay untouched: a
      // writer may be mid-assembly there.
      val referenced: Set[String] = listing.checkpoints.diff(deleted).flatMap { cv =>
        try {
          store.readLines(ckptNameOf(cv))
            .find(_.nonEmpty).toSeq.flatMap(CkptAux.parse(_).toSeq.flatMap(_._3.map(_.name)))
        } catch { case scala.util.control.NonFatal(_) => Nil }
      }.toSet
      listing.sidecars.foreach { case (v, n) =>
        if (v <= a && !referenced.contains(n) && oldEnough(n)) {
          store.delete(n); removed += 1
        }
      }
      removed
    } +
      // internal staging orphans (a writer killed between its temp
      // write and the create leaves one aged `.put-*.tmp`) — reclaimed
      // whether or not a retention anchor exists yet
      store.gcStaging(minAgeMs)
  }

  def vacuum(retainHistory: Boolean = true, minAgeMs: Long = 3600000L): Int = {
    val s = snapshot()
    val commits = allKnownCommits(s)
    val visible =
      if (retainHistory) commits
      else commits.filter(_.snapshot).lastOption
        .map(sc => commits.filter(_.version > sc.snapBase)).getOrElse(commits)
    // change dirs stay referenced past a snapshot boundary — the CDC
    // feed reads history, not live state — but NOT past the cleanupLog
    // truncation anchor: readChanges already fails loudly for ranges
    // reaching below `truncatedBelow() - 1`, so change dirs of versions
    // below the anchor serve nothing and would otherwise accumulate
    // forever on an unbounded stream (the Delta `_change_data`
    // retention analog: CDC bytes age out with the log window).
    // dataDirs (not dir) so a RESTORE commit keeps every source dir it
    // re-points at alive — vacuum after restore preserves restored data;
    // data dirs BELOW the anchor stay referenced through the checkpoint
    // (time travel at/above the anchor checkpoint still serves them).
    val cdcFloor = s.truncatedBelow
    val referenced: Set[String] =
      visible.flatMap(_.dataDirs).toSet ++
        commits.filter(_.version >= cdcFloor).flatMap(_.changeDir)
    val cutoff = System.currentTimeMillis() - minAgeMs
    def oldEnough(p: Path): Boolean =
      Files.getLastModifiedTime(p).toMillis <= cutoff
    def purge(p: Path): Unit =
      withDirStream(Files.walk(p))(_.toSeq).reverse.foreach(Files.delete)
    var removed = 0
    // abandoned staging dirs (crashed or lost-race writers)
    withDirStream(Files.list(Paths.get(tableDir)))(_
      .filter(p => p.getFileName.toString.startsWith(".staging-"))
      .filter(oldEnough).toSeq)
      .foreach { p => purge(p); removed += 1 }
    // unreferenced data dirs
    val roots = Seq(dataDir, dataDir.resolve("files"), dataDir.resolve("changes"))
      .filter(Files.isDirectory(_))
    roots.foreach { root =>
      withDirStream(Files.list(root))(_
        .filter(p => Files.isDirectory(p) &&
          !Set("files", "changes").contains(p.getFileName.toString))
        .filter(oldEnough).toSeq)
        .foreach { p =>
          val rel = dataDir.relativize(p).toString.replace("\\", "/")
          if (!referenced.contains(rel)) { purge(p); removed += 1 }
        }
    }
    removed
  }

  /** Table schema as recorded by the newest commit's metaData action
    * (the live [[Snapshot]]'s recorded schema). The schema JSON is parsed
    * once per newly recorded schema, not per call: the latest entry can
    * be MBs and this runs on every read. */
  private[graft] val schemaParses =
    new java.util.concurrent.atomic.AtomicLong(0L)
  def latestSchema(): Option[StructType] = snapshot().schema
}

object ExactlyOnceSink {
  /** Transaction isolation for snapshot/MOR commits — exactly the two
    * levels Delta ships, with the same semantics and the same default:
    *
    *  - [[WriteSerializable]] (default): the COMMIT HISTORY need not be
    *    one-writer-serializable — a transaction that loses its claim to
    *    rival commits that are all PURE DATA APPENDS (adds only: no
    *    removes, no deletion vectors, no snapshot/restore re-pointing,
    *    no metadata mutation beyond the additive layout domains) simply
    *    re-claims the next version with its already-staged output,
    *    paying a metadata re-render instead of a full
    *    re-read+recompute+re-stage. The appended rows stay visible
    *    (snapshot commits record the version they read as
    *    `snapshotBase`; delta-shaped MOR commits keep them visible by
    *    construction). The documented anomaly is Delta's: a merge whose
    *    source matches a concurrently-appended key commits as if it ran
    *    BEFORE the append, so the table can hold both the merge's row
    *    and the appended row — the serial order "append then merge"
    *    never existed. Readers still always see a consistent committed
    *    snapshot.
    *  - [[Serializable]]: every rival commit — pure appends included —
    *    forces the full recompute, making the commit history equivalent
    *    to SOME serial execution. The price on a busy ingest table is
    *    starvation: a long maintenance verb loses every claim to the
    *    append stream and dies at maxRetries.
    */
  sealed trait Isolation
  case object WriteSerializable extends Isolation
  case object Serializable extends Isolation

  /** JVM-wide instrumentation of the identity OCC path (claims are
    * per-instance, contention is cross-instance — so the counters are
    * static): total claim attempts and total re-assign+re-stage events.
    * Read by the OCC stress spec to record retry cost under real
    * contention (golden/occ_r14.json); never consulted by the protocol
    * itself. */
  private[graft] val identityClaimAttempts =
    new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] val identityRestages =
    new java.util.concurrent.atomic.AtomicLong(0L)
}
