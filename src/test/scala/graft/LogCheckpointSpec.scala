package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.streaming.ExactlyOnceSink

/** Log checkpoints (ExactlyOnceSink): snapshot construction must cost
  * O(checkpointInterval) log parses, not O(commits) — the property that
  * keeps a long-running streaming table readable — while staying exact
  * under time travel, torn checkpoints, and snapshot compaction. */
class LogCheckpointSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-ckpt-spec").toString

  private def append(sink: ExactlyOnceSink, i: Int): Long =
    sink.commitAppend(Seq((i.toLong, s"r$i")).toDF("id", "x"))

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).sorted.toSeq

  test("checkpoints land on cadence and bound replay to O(interval) parses") {
    val dir = tmp()
    val sink = new ExactlyOnceSink(dir, checkpointInterval = 5)
    (0 until 23).foreach(append(sink, _)) // versions 0..22
    val log = Paths.get(dir, "_graft_log")
    val names = withDirStream(Files.list(log))(
      _.map(_.getFileName.toString).toSeq)
    assert(Seq(5L, 10L, 15L, 20L).forall(v =>
      names.contains(f"$v%020d.checkpoint")), s"missing checkpoints in $names")

    // a FRESH handle (parse counter at zero) reads the full table while
    // parsing only the entries past the newest checkpoint (21, 22)
    val reader = new ExactlyOnceSink(dir)
    assert(ids(reader.read(spark)) === (0L until 23L))
    val parses = reader.logFileParses.get()
    assert(parses <= 4, s"read parsed $parses per-version entries; " +
      "checkpoint seeding should bound this by the interval")
  }

  test("latestSchema parses the (potentially MBs) latest entry once per version") {
    val dir = tmp()
    val sink = new ExactlyOnceSink(dir)
    (0 until 3).foreach(append(sink, _))
    val before = sink.schemaParses.get()
    assert(sink.latestSchema().exists(_.fieldNames.contains("id")))
    (0 until 5).foreach(_ => sink.latestSchema()) // readers hit this per scan
    assert(sink.schemaParses.get() - before === 1,
      "latestSchema re-parsed an unchanged latest entry")
    // a new commit (possibly a rival's — the version listing re-runs per
    // call) invalidates the memo exactly once
    append(sink, 3)
    sink.latestSchema(); sink.latestSchema()
    assert(sink.schemaParses.get() - before === 2)
  }

  test("time travel is exact from a checkpoint seed and below the oldest checkpoint") {
    val dir = tmp()
    val sink = new ExactlyOnceSink(dir, checkpointInterval = 5)
    (0 until 23).foreach(append(sink, _))
    val reader = new ExactlyOnceSink(dir)
    // 12 seeds from checkpoint 10 + entries 11,12
    assert(ids(reader.read(spark, versionAsOf = Some(12))) === (0L to 12L))
    // 3 is below checkpoint 5 → raw-log replay (entries are never deleted)
    assert(ids(reader.read(spark, versionAsOf = Some(3))) === (0L to 3L))
    // exactly the checkpoint version itself
    assert(ids(reader.read(spark, versionAsOf = Some(10))) === (0L to 10L))
  }

  test("a torn or impostor checkpoint is ignored, never wrong") {
    val dir = tmp()
    val sink = new ExactlyOnceSink(dir, checkpointInterval = 5)
    (0 until 23).foreach(append(sink, _))
    val log = Paths.get(dir, "_graft_log")
    // torn: garbage where checkpoint 20 should be
    Files.writeString(log.resolve(f"${20L}%020d.checkpoint"), "{torn")
    val r1 = new ExactlyOnceSink(dir)
    assert(ids(r1.read(spark)) === (0L until 23L))
    // one O(interval) fold on a fresh handle: its snapshot falls back
    // from the torn 20 to checkpoint 15 (7 entries)
    assert(r1.logFileParses.get() <= 9, "should fall back to checkpoint 15")
    // impostor: parseable JSON that is not the visible set at 15 (a copy
    // of version 3's entry) — the last-entry-version invariant rejects it
    Files.writeString(log.resolve(f"${15L}%020d.checkpoint"),
      Files.readString(log.resolve(f"${3L}%020d.json")))
    val r2 = new ExactlyOnceSink(dir)
    assert(ids(r2.read(spark)) === (0L until 23L))
  }

  test("snapshot compaction composes: later checkpoints carry only the compacted set") {
    val dir = tmp()
    val sink = new ExactlyOnceSink(dir, checkpointInterval = 5)
    (0 until 23).foreach(append(sink, _))
    sink.delete(spark, col("id") < 20) // snapshot commit, version 23
    append(sink, 100) // 24
    append(sink, 101) // 25 → writes checkpoint 25
    val ck25 = Paths.get(dir, "_graft_log", f"${25L}%020d.checkpoint")
    assert(Files.exists(ck25))
    val lines = Files.readAllLines(ck25)
    assert(lines.size() === 4, // aux header + snapshot 23 + appends 24, 25
      s"checkpoint after a snapshot should hold the compacted set, got ${lines.size()}")
    val reader = new ExactlyOnceSink(dir)
    assert(ids(reader.read(spark)) === Seq(20L, 21L, 22L, 100L, 101L))
    assert(reader.logFileParses.get() === 0,
      "the live state should come entirely from the checkpoint")
  }

  test("streaming MERGE idempotency cursor: one seed replay, then O(1) per batch") {
    val dir = tmp()
    val sink = new ExactlyOnceSink(dir, checkpointInterval = 5)
    (0 until 10).foreach(i => sink.mergeBatch(spark,
      Seq((i.toLong, i)).toDF("id", "v"), Seq("id"), batchId = i))
    // a restarted writer (fresh instance) seeds once from the log...
    val s2 = new ExactlyOnceSink(dir)
    assert(s2.mergeBatch(spark, Seq((0L, -1)).toDF("id", "v"), Seq("id"),
      batchId = 3).isEmpty, "replayed batch must no-op")
    val afterSeed = s2.logFileParses.get()
    // ...then per-batch parse growth is bounded by the checkpoint
    // interval (the merge's own state read), NOT by history length
    (10 until 15).foreach(i => s2.mergeBatch(spark,
      Seq((100L + i, i)).toDF("id", "v"), Seq("id"), batchId = i))
    val perBatch = (s2.logFileParses.get() - afterSeed) / 5.0
    assert(perBatch <= 8,
      s"per-batch log parses $perBatch should be O(interval), not O(commits)")
    // a second restart still sees the newest cursor
    val s3 = new ExactlyOnceSink(dir)
    assert(s3.mergeBatch(spark, Seq((0L, -1)).toDF("id", "v"), Seq("id"),
      batchId = 14).isEmpty)
    assert(s3.lastStreamBatch("graft-sink") === Some(14L))
  }

  test("cleanupLog: reads stay exact, history below retention fails loudly") {
    val dir = tmp()
    val sink = new ExactlyOnceSink(dir, checkpointInterval = 5)
    (0 until 23).foreach(append(sink, _))
    val removed = sink.cleanupLog(minAgeMs = 0)
    // raw entries 0..19 + checkpoints 5,10,15 + their version checksums
    assert(removed === 20 + 3 + 20,
      s"expected entries below checkpoint 20 reclaimed, removed=$removed")
    val log = Paths.get(dir, "_graft_log")
    assert(!Files.exists(log.resolve(f"${0L}%020d.json")))
    assert(Files.exists(log.resolve(f"${20L}%020d.json")))
    // live read and time travel at/above the anchor are exact
    val reader = new ExactlyOnceSink(dir)
    assert(ids(reader.read(spark)) === (0L until 23L))
    assert(ids(reader.read(spark, versionAsOf = Some(21))) === (0L to 21L))
    assert(ids(reader.read(spark, versionAsOf = Some(20))) === (0L to 20L))
    // below retained history: loud failure, not partial state
    val e = intercept[RuntimeException](reader.read(spark, versionAsOf = Some(12)))
    assert(e.getMessage.contains("retained history"))
    val c = intercept[RuntimeException](reader.readChanges(spark, fromVersion = 5))
    assert(c.getMessage.contains("retained history"))
    // CDC within the retained window still works
    assert(reader.readChanges(spark, fromVersion = 20).count() === 2)
  }

  test("vacuum reclaims change dirs below the truncation anchor, and only those") {
    val dir = tmp()
    val sink = new ExactlyOnceSink(dir, checkpointInterval = 5)
    // alternate appends (no change dir) with MOR deletes (each records
    // one change dir) — an unbounded CDC-producing history in miniature:
    // even versions append (i, i+100), odd versions delete i
    (0 until 11).foreach { i =>
      sink.commitAppend(
        Seq((i.toLong, s"a$i"), (i + 100L, s"b$i")).toDF("id", "x"))
      sink.deleteDV(spark, col("id") === i.toLong)
    }
    val changesRoot = Paths.get(dir, "data", "changes")
    def changeDirCount(): Long =
      withDirStream(Files.list(changesRoot))(_.size).toLong
    val before = changeDirCount()
    assert(before === 11L, s"expected one change dir per MOR delete: $before")
    // no truncation yet: vacuum must keep EVERY change dir (the CDC
    // feed can still serve the whole history)
    sink.vacuum(minAgeMs = 0)
    assert(changeDirCount() === before,
      "vacuum reclaimed change dirs inside the retained CDC window")
    val removed = sink.cleanupLog(minAgeMs = 0)
    assert(removed > 0)
    val anchor = sink.truncatedBelow()
    assert(anchor === 20L, s"expected the newest checkpoint at v20: $anchor")
    // versions 1,3,...,19 were MOR deletes below the anchor → their 10
    // change dirs serve nothing (readChanges below the window fails
    // loudly); v21's change dir stays servable
    sink.vacuum(minAgeMs = 0)
    assert(changeDirCount() === 1L,
      s"expected only the above-anchor change dir to survive: ${changeDirCount()}")
    // the feed at/above the window stays complete (v21 = the last delete)
    val feed = sink.readChanges(spark, fromVersion = anchor - 1)
    assert(feed.filter(col("_change_type") === "delete").count() === 1L)
    // below the window: still a loud failure, never silently empty
    val e = intercept[RuntimeException](
      sink.readChanges(spark, fromVersion = 5))
    assert(e.getMessage.contains("retained history"))
    // data dirs below the anchor stay alive (checkpoint-served reads):
    // survivors are the ids never deleted, plus at v20 the not-yet-
    // deleted id 10
    assert(ids(sink.read(spark)) === (100L to 110L))
    assert(ids(sink.read(spark, versionAsOf = Some(20))) ===
      (Seq(10L) ++ (100L to 110L)))
  }

  test("cleanupLog reclaims aged mid-PUT staging orphans in the log dir") {
    val dir = tmp()
    val sink = new ExactlyOnceSink(dir, checkpointInterval = 5)
    (0 until 7).foreach(append(sink, _))
    // simulate a writer killed between its temp write and the create
    val log = Paths.get(dir, "_graft_log")
    val orphan = log.resolve(".put-dead-writer.tmp")
    Files.writeString(orphan, "{\"torn\":true}")
    // too young: the age guard protects an in-flight writer's temp
    sink.cleanupLog(minAgeMs = 3600000L)
    assert(Files.exists(orphan), "gc reclaimed a young (in-flight) temp")
    sink.cleanupLog(minAgeMs = 0)
    assert(!Files.exists(orphan), "aged mid-PUT orphan never reclaimed")
    assert(ids(sink.read(spark)) === (0L until 7L))
  }

  test("history lists every known commit, and survives cleanupLog with null timestamps") {
    val dir = tmp()
    val sink = new ExactlyOnceSink(dir, checkpointInterval = 5)
    // 4-row single-file commits: the DV delete below must hit a PART of
    // a file (a vector), not a whole one (a remove)
    (0 until 12).foreach { i =>
      sink.commitAppend(Seq.tabulate(4)(j => (i * 4L + j, s"r$i-$j"))
        .toDF("id", "x").coalesce(1))
    }
    sink.deleteDV(spark, col("id") === 3L)
    sink.compactSmall(spark)
    val h = sink.history(spark).collect()
    assert(h.map(_.getLong(0)).toSeq == (13L to 0L by -1L), "newest first")
    val byV = h.map(r => r.getLong(0) -> r).toMap
    assert(byV(12L).getString(2) == "DELETE_MOR")
    assert(byV(12L).getInt(6) == 1, "the DV delete carries one vector")
    assert(byV(12L).getInt(5) == 0, "partial-file delete removes nothing")
    assert(byV(13L).getString(2) == "COMPACT_INC")
    assert(byV(13L).getInt(5) > 0, "bin-packing retires files via removes")
    assert(byV(0L).getInt(4) == 1 && byV(0L).getInt(5) == 0)
    // in-commit timestamps are strictly monotone in version order
    val ts = h.reverse.map(_.getTimestamp(1).getTime)
    assert(ts.zip(ts.tail).forall { case (a, b) => a < b })
    // after cleanup, checkpoint-served commits still appear WITH their
    // timestamps: the in-commit stamp rides the checkpoint's verbatim
    // entries, so history keeps the full clock (pre-ICT entries would
    // read null here — that hole is closed)
    sink.cleanupLog(minAgeMs = 0)
    val h2 = sink.history(spark).collect()
    assert(h2.map(_.getLong(0)).toSeq == (13L to 0L by -1L))
    assert(h2.forall(!_.isNullAt(1)),
      "in-commit timestamps must survive log cleanup via the checkpoint")
    val ts2 = h2.reverse.map(_.getTimestamp(1).getTime)
    assert(ts2.toSeq == ts.toSeq, "cleanup must not alter the recorded clock")
  }

  test("cleanupLog: constraints and streamTxn cursors survive via the aux header") {
    val dir = tmp()
    val sink = new ExactlyOnceSink(dir, checkpointInterval = 5)
    append(sink, 0) // v0
    sink.setConstraint(spark, "pos_id", "id >= 0") // v1, metadata-only
    (1 until 6).foreach(append(sink, _)) // v2..v6 (checkpoint at 5)
    sink.mergeBatch(spark, Seq((50L, "m1")).toDF("id", "x"), Seq("id"),
      batchId = 7) // v7
    (6 until 9).foreach(append(sink, _)) // v8..v10 (checkpoint at 10)
    assert(sink.cleanupLog(minAgeMs = 0) > 0)
    // the raw carriers (v1 constraint, v7 merge) are gone...
    val log = Paths.get(dir, "_graft_log")
    assert(!Files.exists(log.resolve(f"${1L}%020d.json")))
    assert(!Files.exists(log.resolve(f"${7L}%020d.json")))
    // ...yet a fresh instance still enforces the constraint...
    val s2 = new ExactlyOnceSink(dir)
    assert(s2.activeConstraints() === Map("pos_id" -> "id >= 0"))
    val bad = intercept[Exception](
      s2.commitAppend(Seq((-5L, "x")).toDF("id", "x")))
    assert(bad.getMessage != null)
    // ...and still no-ops the replayed micro-batch
    assert(s2.mergeBatch(spark, Seq((50L, "m2")).toDF("id", "x"), Seq("id"),
      batchId = 7).isEmpty, "cursor lost in cleanup: batch re-applied")
  }

  test("checkpoints keep forming after cleanupLog reclaimed their sources") {
    val dir = tmp()
    val sink = new ExactlyOnceSink(dir, checkpointInterval = 5)
    (0 until 12).foreach(append(sink, _)) // checkpoints at 5, 10
    sink.cleanupLog(minAgeMs = 0) // raw 0..9 reclaimed
    (12 until 16).foreach(append(sink, _)) // version 15 is a cadence point
    val ck15 = Paths.get(dir, "_graft_log", f"${15L}%020d.checkpoint")
    assert(Files.exists(ck15),
      "checkpoint after cleanup was silently skipped (reclaimed sources)")
    // and it actually serves: a fresh reader rebuilds the full state
    // from checkpoint 15 alone with zero per-version parses
    val reader = new ExactlyOnceSink(dir)
    assert(ids(reader.read(spark)) === (0L until 16L))
    assert(reader.logFileParses.get() === 0)
  }

  test("vacuum after cleanupLog keeps checkpoint-served data alive") {
    val dir = tmp()
    val sink = new ExactlyOnceSink(dir, checkpointInterval = 5)
    (0 until 12).foreach(append(sink, _)) // checkpoints at 5, 10
    sink.cleanupLog(minAgeMs = 0) // raw 0..9 reclaimed; live set served by ckpt 10
    assert(sink.vacuum(minAgeMs = 0) === 0,
      "vacuum must treat checkpoint-served commits as referenced")
    val reader = new ExactlyOnceSink(dir)
    assert(ids(reader.read(spark)) === (0L until 12L),
      "data dirs of checkpoint-served commits were vacuumed away")
  }

  test("ICT monotonicity survives a predecessor whose stamp lives only in a checkpoint") {
    val dir = tmp()
    val sink = new ExactlyOnceSink(dir, checkpointInterval = 5)
    (0 until 6).foreach(append(sink, _)) // versions 0..5, checkpoint at 5
    val log = Paths.get(dir, "_graft_log")
    val ckpt = log.resolve(f"${5L}%020d.checkpoint")
    // skewed-host scenario: the predecessor (version 5) carries an ICT an
    // hour in OUR future, and its raw entry has been reclaimed — the
    // stamp survives only in the checkpoint's verbatim entry
    val future = System.currentTimeMillis() + 3600000L
    val lines = Files.readAllLines(ckpt)
    val patched = new java.util.ArrayList[String]
    lines.forEach { l =>
      patched.add(
        if (l.contains("\"version\":5}"))
          l.replaceFirst("\"ict\":\\d+", s""""ict":$future""")
        else l)
    }
    Files.write(ckpt, patched)
    Files.delete(log.resolve(f"${5L}%020d.json"))
    // a FRESH handle (lastIct = 0, no raw predecessor, no mtime) must
    // still clamp the next claim's stamp above the checkpointed one
    val fresh = new ExactlyOnceSink(dir)
    assert(fresh.nextIctForTest(6) > future,
      "next ICT fell below the checkpoint-only predecessor stamp — " +
        "timestampAsOf/history monotonicity would break on a skewed host")
  }

  test("process() replay of a batch reclaimed by cleanupLog no-ops from a fresh handle; table unchanged") {
    val dir = tmp()
    val sink = new ExactlyOnceSink(dir, checkpointInterval = 5)
    sink.commitAppend(Seq((100L, "occ")).toDF("id", "x")) // v0: not a stream batch
    (1 until 10).foreach(i =>
      sink.process(Seq((i.toLong, s"r$i")).toDF("id", "x"), i.toLong))
    sink.cleanupLog(minAgeMs = 0) // anchor = ckpt 5; raw 0..4 reclaimed
    assert(sink.truncatedBelow() == 5L)
    val versions = sink.committedVersions()
    // replays of reclaimed batches (their entries survive only in
    // checkpoint 5) and of one whose raw entry still exists, each from a
    // FRESH handle: the stream cursor, not the raw log, says they are in
    Seq(2L, 3L, 7L).foreach(b =>
      new ExactlyOnceSink(dir, checkpointInterval = 5)
        .process(Seq((b, "dup")).toDF("id", "x"), b))
    val reader = new ExactlyOnceSink(dir)
    assert(reader.committedVersions() === versions)
    assert(ids(reader.read(spark)) === ((1L until 10L) :+ 100L),
      "no replay may have changed table state")
  }

  test("cloneTo refuses a checkpoint entry whose version cannot be determined") {
    val dir = tmp()
    val sink = new ExactlyOnceSink(dir, checkpointInterval = 5)
    (0 until 6).foreach(append(sink, _)) // checkpoint at 5
    val ckpt = Paths.get(dir, "_graft_log", f"${5L}%020d.checkpoint")
    // forge a legacy pre-dir pre-txn entry: strip dir + txn from the
    // version-0 body line — its implicit relative "batch=0" dir would
    // resolve under the CLONE's empty data root and read as zero rows
    val lines = Files.readAllLines(ckpt)
    val patched = new java.util.ArrayList[String]
    lines.forEach { l =>
      patched.add(
        if (l.contains("\"version\":0}"))
          l.replaceFirst(""""dir":"[^"]*",""", "")
            .replaceFirst(""""txn":\{[^}]*\},""", "")
        else l)
    }
    Files.write(ckpt, patched)
    val e = intercept[RuntimeException] {
      sink.cloneTo(Files.createTempDirectory("graft-clone-refuse").toString)
    }
    assert(e.getMessage.contains("refusing to clone"))
  }

  test("columnStats folds by the column's LOGICAL type, not stat parseability") {
    val dir = tmp()
    val sink = new ExactlyOnceSink(dir)
    // numeric-LOOKING strings: parquet footer min/max are lexicographic
    // per file; numeric folding of "9" vs "10" would answer ("9","10"),
    // which is neither the lexicographic nor a real numeric extreme
    sink.commitAppend(Seq((1L, "9")).toDF("id", "s"))
    sink.commitAppend(Seq((2L, "10")).toDF("id", "s"))
    assert(sink.columnStats("s") === Some(("10", "9")),
      "string column must fold lexicographically even when values parse as numbers")
    assert(sink.columnStats("id") === Some(("1", "2")),
      "numeric column still folds numerically")
  }

  test("concurrent writers racing the cadence point still yield one good checkpoint") {
    val dir = tmp()
    val threads = (0 until 2).map { w =>
      new Thread(() => {
        val s = new ExactlyOnceSink(dir, appId = s"w$w", checkpointInterval = 5)
        (0 until 15).foreach(i => s.commitAppend(
          Seq((w * 100L + i, "x")).toDF("id", "x")))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val reader = new ExactlyOnceSink(dir)
    val got = ids(reader.read(spark))
    assert(got.size === 30 && got.distinct.size === 30)
    assert(reader.logFileParses.get() <= 9,
      "a checkpoint near the tip must have been written despite the races")
  }

  // -------------------------------------------------------------------
  // multi-part checkpoints (the Delta V2-checkpoint / sidecar analog):
  // a checkpoint's body is O(live entries) and each entry carries its
  // add actions — at millions of live files one file written and read
  // by one thread is the snapshot-seed bottleneck. partBytes = 1 forces
  // one sidecar per entry, the maximal split.
  // -------------------------------------------------------------------

  private def sidecarsOf(dir: String): Seq[String] =
    withDirStream(Files.list(Paths.get(dir, "_graft_log")))(
      _.map(_.getFileName.toString).filter(_.endsWith(".sidecar")).toSeq)

  test("multipart: an oversized body splits into sidecars and reads back exactly") {
    val dir = tmp()
    val sink = new ExactlyOnceSink(dir, checkpointInterval = 5,
      checkpointPartBytes = 1)
    (0 until 23).foreach(append(sink, _))
    val log = Paths.get(dir, "_graft_log")
    // every cadence point wrote a manifest + its sidecars
    Seq(5L, 10L, 15L, 20L).foreach { v =>
      val ck = log.resolve(f"$v%020d.checkpoint")
      assert(Files.exists(ck), s"missing checkpoint $v")
      val lines = Files.readAllLines(ck)
      assert(lines.size === 1,
        s"a multipart checkpoint is a one-line manifest, got ${lines.size}")
      assert(lines.get(0).contains("\"sidecars\":["))
    }
    // checkpoint 20 has 21 visible entries -> 21 one-entry sidecars
    assert(sidecarsOf(dir).count(_.startsWith(f"${20L}%020d")) === 21)
    // a fresh reader seeds from the multipart checkpoint with the same
    // O(interval) per-version parse bound as the single-file shape
    val reader = new ExactlyOnceSink(dir)
    assert(ids(reader.read(spark)) === (0L until 23L))
    assert(reader.logFileParses.get() <= 4,
      "multipart seeding must keep the O(interval) raw-parse bound")
    // time travel through a multipart seed is exact
    assert(ids(reader.read(spark, versionAsOf = Some(12))) === (0L to 12L))
  }

  test("multipart: a missing or torn sidecar degrades to an older seed, never misreads") {
    val dir = tmp()
    val sink = new ExactlyOnceSink(dir, checkpointInterval = 5,
      checkpointPartBytes = 1)
    (0 until 23).foreach(append(sink, _))
    val log = Paths.get(dir, "_graft_log")
    // delete one of checkpoint 20's sidecars -> 20 is unusable
    val victim = sidecarsOf(dir).filter(_.startsWith(f"${20L}%020d")).head
    Files.delete(log.resolve(victim))
    val r1 = new ExactlyOnceSink(dir)
    assert(ids(r1.read(spark)) === (0L until 23L),
      "reader must fall back to checkpoint 15 + raw entries")
    // tear (truncate mid-line) one of checkpoint 15's sidecars too:
    // the manifest's per-part entry count catches the tear
    val victim15 = sidecarsOf(dir).filter(_.startsWith(f"${15L}%020d")).head
    val txt = Files.readString(log.resolve(victim15))
    Files.writeString(log.resolve(victim15), txt.take(txt.length / 2))
    val r2 = new ExactlyOnceSink(dir)
    assert(ids(r2.read(spark)) === (0L until 23L),
      "reader must fall back to checkpoint 10 + raw entries")
  }

  test("multipart: cleanupLog reclaims superseded sidecars and orphans, serves reads from the anchor's") {
    val dir = tmp()
    val sink = new ExactlyOnceSink(dir, checkpointInterval = 5,
      checkpointPartBytes = 1)
    (0 until 23).foreach(append(sink, _))
    val log = Paths.get(dir, "_graft_log")
    // a lost-race orphan below the anchor: moved sidecars whose writer
    // crashed before winning (or cleaning up) its manifest claim
    Files.writeString(log.resolve(f"${5L}%020d.deadbeef.0000.sidecar"),
      Files.readString(log.resolve(f"${3L}%020d.json")))
    sink.cleanupLog(minAgeMs = 0)
    val left = sidecarsOf(dir)
    assert(left.forall(_.startsWith(f"${20L}%020d")),
      s"only the anchor checkpoint's sidecars may survive, got $left")
    assert(left.size === 21, "the anchor's own sidecars must ALL survive")
    // raw entries below 20 are gone, so this read is served END-TO-END
    // through the multipart body — the strongest read-path assertion
    assert(!Files.exists(log.resolve(f"${12L}%020d.json")))
    val reader = new ExactlyOnceSink(dir)
    assert(ids(reader.read(spark)) === (0L until 23L))
    val e = intercept[RuntimeException](reader.read(spark, versionAsOf = Some(12)))
    assert(e.getMessage.contains("retained history"))
  }

  test("vacuum between cleanups keeps data served only by the anchor checkpoint's window") {
    val dir = tmp()
    val sink = new ExactlyOnceSink(dir, checkpointInterval = 5)
    (0 until 10).foreach(append(sink, _)) // v0..9, checkpoint at 5
    sink.cleanupLog(minAgeMs = 0) // anchor 5: raw 0-4 survive ONLY in ckpt 5
    sink.delete(spark, col("id") >= 0) // v10: snapshot, empties the table
    (10 until 15).foreach(append(sink, _)) // v11..15, ckpt 15 (post-snapshot set)
    // v0-4's entries are compacted out of checkpoint 15 and their raw
    // files are gone — but time travel to v5..9 (inside the retained
    // window) still seeds from checkpoint 5 and scans their dirs, so
    // vacuum must keep those dirs referenced
    sink.vacuum(retainHistory = true, minAgeMs = 0)
    val reader = new ExactlyOnceSink(dir)
    assert(ids(reader.read(spark, versionAsOf = Some(7))) === (0L to 7L),
      "vacuum purged data referenced only through the anchor checkpoint")
    assert(ids(reader.read(spark)) === (10L until 15L),
      "the live state is the post-snapshot set")
  }

  test("multipart: cloneTo preserves the shape and rewrites entries inside sidecars") {
    val dir = tmp()
    val sink = new ExactlyOnceSink(dir, checkpointInterval = 5,
      checkpointPartBytes = 1)
    (0 until 23).foreach(append(sink, _))
    sink.cleanupLog(minAgeMs = 0) // early history survives ONLY in sidecars
    val cloneDir = Files.createTempDirectory("graft-ckpt-mclone").toString
    sink.cloneTo(cloneDir)
    assert(sidecarsOf(cloneDir).sorted === sidecarsOf(dir).sorted,
      "the clone must keep the multipart checkpoint shape, names included")
    // the clone's sidecar entries were rewritten to absolute source
    // paths: pre-fork data resolves even though the clone's data/ is empty
    val clone = new ExactlyOnceSink(cloneDir, checkpointInterval = 5,
      checkpointPartBytes = 1)
    assert(ids(clone.read(spark)) === (0L until 23L))
    assert(ids(clone.read(spark, versionAsOf = Some(21))) === (0L to 21L))
    // divergence: a clone-local append lands in the clone only
    clone.commitAppend(Seq((500L, "c")).toDF("id", "x"))
    assert(ids(clone.read(spark)).contains(500L))
    assert(!ids(new ExactlyOnceSink(dir).read(spark)).contains(500L),
      "source must stay frozen after the clone diverges")
  }
}
