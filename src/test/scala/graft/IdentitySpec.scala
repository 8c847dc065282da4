package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.streaming.ExactlyOnceSink

/** Identity columns ([[ExactlyOnceSink.setIdentityColumn]]): automatic
  * unique increasing assignment on append, the ALWAYS rejection rule,
  * watermark persistence through the log, custom start/step, coexistence
  * with expression-generated columns, and non-collision under concurrent
  * writers racing one watermark. */
class IdentitySpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-identity").toString

  private def idVals(sink: ExactlyOnceSink, col0: String = "rid"): Seq[Long] =
    sink.read(spark).select(col0).as[Long].collect().sorted.toSeq

  test("appends assign contiguous increasing values across partitions") {
    val sink = new ExactlyOnceSink(tmp())
    sink.setIdentityColumn(spark, "rid")
    sink.commitAppend(spark.range(0, 100).toDF("x").repartition(7))
    assert(idVals(sink) == (1L to 100L).toSeq)
    sink.commitAppend(spark.range(0, 50).toDF("x").repartition(3))
    assert(idVals(sink) == (1L to 150L).toSeq)
  }

  test("allowGaps mode: unique + increasing, a failed append leaves a GAP, never a duplicate") {
    val sink = new ExactlyOnceSink(tmp())
    sink.setIdentityColumn(spark, "rid", allowGaps = true)
    sink.commitAppend(Seq("a", "b", "c").toDF("x"))
    assert(idVals(sink) == Seq(1L, 2L, 3L))
    // the Delta trade made visible: the range is RESERVED in a metadata
    // pre-commit before staging, so an append that dies after the
    // reservation (here: a CHECK constraint abort inside the staged
    // write) burns its range — the sequence gaps, it never collides
    sink.setConstraint(spark, "no_bad", "x <> 'bad'")
    intercept[Exception] {
      sink.commitAppend(Seq("ok", "bad").toDF("x"))
    }
    sink.commitAppend(Seq("d", "e").toDF("x"))
    val got = idVals(sink)
    assert(got == Seq(1L, 2L, 3L, 6L, 7L),
      s"expected the failed append's reserved range (4,5) to gap: $got")
    // ALWAYS semantics unchanged in gaps mode
    val e = intercept[IllegalArgumentException] {
      sink.commitAppend(Seq((9L, "z")).toDF("rid", "x"))
    }
    assert(e.getMessage.contains("GENERATED ALWAYS"))
  }

  test("allowGaps reservation abandons to the contiguous path when a rival declares a contiguous rule mid-race") {
    // r14 advice #1: the reservation loop re-reads rules from the fresh
    // log; a rival may declare a CONTIGUOUS identity column between our
    // entry read and the reservation read (legal while the table is
    // empty). Reserving would advance that rule's watermark in a
    // metadata-only pre-commit — a crash then holes the contiguous
    // sequence — and the old code additionally rewrote the rule's mode
    // as ",gaps". The writer must abandon the reservation and commit
    // through the contiguous OCC path, both rules' modes preserved.
    val dir = tmp()
    val a = new ExactlyOnceSink(dir)
    a.setIdentityColumn(spark, "rid", allowGaps = true)
    val b = new ExactlyOnceSink(dir)
    a.identityReserveHook = () => {
      a.identityReserveHook = () => () // fire once
      b.setIdentityColumn(spark, "cid", start = 100L) // contiguous
    }
    a.commitAppend(Seq("a", "b", "c").toDF("x"))
    val rows = a.read(spark).select("rid", "cid")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(rows.map(_._1) == Seq(1L, 2L, 3L))
    assert(rows.map(_._2) == Seq(100L, 101L, 102L),
      s"the rival contiguous rule must be assigned by the data commit: $rows")
    // the abandoned reservation must not have landed, and neither
    // rule's declared MODE may appear rewritten anywhere in the log
    import scala.jdk.CollectionConverters._
    val bodies = {
      val s = Files.list(java.nio.file.Paths.get(dir, "_graft_log"))
      try s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".json"))
        .map(Files.readString(_)).toList
      finally s.close()
    }
    assert(!bodies.exists(_.contains("RESERVE IDENTITY")),
      "the abandoned reservation landed a metadata pre-commit")
    assert(!bodies.exists(s =>
      """"cid":"IDENTITY\([^)]*,gaps\)""".r.findFirstIn(s).isDefined),
      "the rival contiguous rule's mode was rewritten as gaps")
    assert(bodies.exists(s =>
      """"rid":"IDENTITY\([^)]*,gaps\)""".r.findFirstIn(s).isDefined),
      "the gaps rule lost its own mode flag")
  }

  test("allowGaps mode: concurrent writers never collide (uniqueness without contiguity)") {
    val dir = tmp()
    new ExactlyOnceSink(dir).setIdentityColumn(spark, "rid", allowGaps = true)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val tasks = (0 until 4).map { w =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val s = new ExactlyOnceSink(dir, appId = s"gw-$w")
            (0 until 2).foreach { a =>
              s.commitAppend(spark.range(0, 25).toDF("x"))
            }
          }
        })
      }
      tasks.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    val ids = idVals(new ExactlyOnceSink(dir))
    assert(ids.size == 200 && ids.distinct.size == 200,
      "allowGaps identity collided under concurrency")
    // no crashes happened, so no range was burned: the union is in fact
    // contiguous here — gaps are PERMITTED, not produced gratuitously
    assert(ids == (1L to 200L).toSeq, s"unexpected waste: ${ids.take(10)}...")
  }

  test("GENERATED ALWAYS: a frame carrying the column is rejected") {
    val sink = new ExactlyOnceSink(tmp())
    sink.setIdentityColumn(spark, "rid")
    val e = intercept[IllegalArgumentException] {
      sink.commitAppend(spark.range(0, 5).toDF("rid"))
    }
    assert(e.getMessage.contains("GENERATED ALWAYS"))
  }

  test("custom start and step") {
    val sink = new ExactlyOnceSink(tmp())
    sink.setIdentityColumn(spark, "rid", start = 100L, step = 10L)
    sink.commitAppend(spark.range(0, 5).toDF("x"))
    assert(idVals(sink) == Seq(100L, 110L, 120L, 130L, 140L))
  }

  test("watermark persists across sink instances (log replay)") {
    val dir = tmp()
    val a = new ExactlyOnceSink(dir)
    a.setIdentityColumn(spark, "rid")
    a.commitAppend(spark.range(0, 10).toDF("x"))
    val b = new ExactlyOnceSink(dir) // fresh instance, same table
    b.commitAppend(spark.range(0, 10).toDF("x"))
    assert(idVals(b) == (1L to 20L).toSeq)
  }

  test("identity must be declared before data lands; step must be non-zero") {
    val sink = new ExactlyOnceSink(tmp())
    sink.commitAppend(spark.range(0, 3).toDF("x"))
    val e = intercept[IllegalArgumentException] {
      sink.setIdentityColumn(spark, "rid")
    }
    assert(e.getMessage.contains("before data lands"))
    val sink2 = new ExactlyOnceSink(tmp())
    intercept[IllegalArgumentException] {
      sink2.setIdentityColumn(spark, "rid", step = 0L)
    }
  }

  test("coexists with an expression-generated column") {
    val sink = new ExactlyOnceSink(tmp())
    sink.setIdentityColumn(spark, "rid")
    sink.setGeneratedColumn(spark, "bucket", "x % 4")
    sink.commitAppend(spark.range(0, 20).toDF("x"))
    val rows = sink.read(spark).select("x", "rid", "bucket")
      .as[(Long, Long, Long)].collect()
    assert(rows.map(_._2).sorted.toSeq == (1L to 20L).toSeq)
    assert(rows.forall { case (x, _, b) => b == x % 4 })
  }

  test("concurrent appends racing one watermark never collide") {
    val dir = tmp()
    val setup = new ExactlyOnceSink(dir)
    setup.setIdentityColumn(spark, "rid")
    // 4 writers, each its own sink instance (cold watermark cache),
    // appending 25 rows concurrently — every assigned range must be
    // disjoint even though all four may read the same starting watermark
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val tasks = (0 until 4).map { w =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val s = new ExactlyOnceSink(dir, appId = s"writer-$w")
            s.commitAppend(spark.range(w * 100, w * 100 + 25).toDF("x"))
          }
        })
      }
      tasks.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    val ids = idVals(new ExactlyOnceSink(dir))
    assert(ids.size == 100)
    assert(ids.distinct.size == 100, "identity values collided under racing writers")
    assert(ids == (1L to 100L).toSeq, s"expected contiguous 1..100, got ${ids.take(10)}...")
  }

  test("streaming appendBatch assigns and replays idempotently") {
    // identity declaration claims version 0, so batchIds and versions
    // diverge — the streamTxn-cursored appendBatch is the streaming
    // entry point for such tables
    val dir = tmp()
    val sink = new ExactlyOnceSink(dir)
    sink.setIdentityColumn(spark, "rid")
    assert(sink.appendBatch(spark.range(0, 10).toDF("x"), batchId = 0L) >= 0)
    assert(sink.appendBatch(spark.range(0, 10).toDF("x"), batchId = 0L) == -1L) // replay
    assert(sink.appendBatch(spark.range(10, 15).toDF("x"), batchId = 1L) >= 0)
    assert(idVals(sink) == (1L to 15L).toSeq)
    // a fresh instance replays the cursor from the log
    assert(new ExactlyOnceSink(dir)
      .appendBatch(spark.range(0, 10).toDF("x"), batchId = 1L) == -1L)
  }

  test("process(): a second stream's batch 0 commits beside the first stream's, each replay once") {
    val dir = tmp()
    val s1 = new ExactlyOnceSink(dir, appId = "stream-1")
    s1.process(spark.range(0, 10).toDF("x"), batchId = 0L)
    // same-stream replay from a fresh handle: no-op, data intact
    new ExactlyOnceSink(dir, appId = "stream-1")
      .process(spark.range(0, 10).toDF("x"), batchId = 0L)
    // a DIFFERENT stream keeps its own cursor: its batch 0 is new
    val s2 = new ExactlyOnceSink(dir, appId = "stream-2")
    s2.process(spark.range(100, 105).toDF("x"), batchId = 0L)
    s2.process(spark.range(100, 105).toDF("x"), batchId = 0L)
    val r = new ExactlyOnceSink(dir)
    assert(r.committedVersions() == Seq(0L, 1L))
    assert(r.read(spark).select("x").as[Long].collect().sorted.toSeq ==
      (0L until 10L) ++ (100L until 105L))
    assert(r.lastStreamBatch("stream-1") == Some(0L))
    assert(r.lastStreamBatch("stream-2") == Some(0L))
  }

  test("process(): compaction and metadata commits between batches, then a replay commits exactly once") {
    val dir = tmp()
    val sink = new ExactlyOnceSink(dir)
    sink.setIdentityColumn(spark, "rid") // version 0: metadata
    sink.process(spark.range(0, 10).toDF("x").coalesce(1), batchId = 0L)
    sink.process(spark.range(10, 20).toDF("x").coalesce(1), batchId = 1L)
    // maintenance and a metadata commit take the versions batch 2 and 3
    // would have had under version = batchId
    assert(sink.compactSmall(spark) > 0)
    sink.setDomainMetadata("app.note", Map("k" -> "v"))
    sink.process(spark.range(20, 30).toDF("x").coalesce(1), batchId = 2L)
    val versions = sink.committedVersions()
    assert(versions == (0L to 5L))
    // replays of every batch, from this handle and a fresh one
    (0 until 3).foreach { b =>
      sink.process(spark.range(b * 10L, b * 10L + 10).toDF("x"), batchId = b)
      new ExactlyOnceSink(dir)
        .process(spark.range(b * 10L, b * 10L + 10).toDF("x"), batchId = b)
    }
    assert(sink.committedVersions() == versions)
    assert(sink.read(spark).select("x").as[Long].collect().sorted.toSeq ==
      (0L until 30L))
    assert(idVals(sink) == (1L to 30L).toSeq)
  }

  test("auto-compaction bounds the streaming file count; state and CDC intact") {
    import org.apache.spark.sql.functions.lit
    val dir = tmp()
    val sink = new ExactlyOnceSink(dir, autoCompactEvery = 4)
    (0 until 12).foreach { i =>
      sink.process(
        spark.range(i * 10L, i * 10L + 10).toDF("x").coalesce(1), batchId = i)
    }
    val d = sink.read(spark)
    assert(d.count() == 120)
    // without auto-compact: >= 12 live files (one per micro-batch);
    // with it, packing every 4th commit keeps the live set small
    val liveFiles = d.inputFiles.toSet.size
    assert(liveFiles < 12, s"auto-compact did not bound file count: $liveFiles")
    // packing is a physical no-op: the CDC feed still carries exactly
    // the appended rows (compaction contributes nothing)
    val inserts = sink.readChanges(spark, fromVersion = -1L)
      .filter(org.apache.spark.sql.functions.col("_change_type") === lit("insert"))
      .count()
    assert(inserts == 120)
    // and the metadata count path survives the packing commits
    assert(sink.rowCount(spark) == 120L)
  }

  test("parameterless OPTIMIZE discovers clustering from the recorded domain") {
    import org.apache.spark.sql.functions._
    val dir = tmp()
    val sink = new ExactlyOnceSink(dir)
    // every append covers the FULL (a, b) domain — arrival order
    // clusters nothing — and records graft.clustering via clusterBy
    (0 until 6).foreach { _ =>
      sink.commitAppend(
        spark.range(0, 2000).toDF("a")
          .withColumn("b", pmod(col("a") * 7919, lit(2000))),
        clusterBy = Seq("a", "b"), clusterFiles = 1)
    }
    assert(sink.domainMetadata("graft.clustering")
      .exists(_.get("columns").contains("a,b")))
    // NO explicit clusterBy: the maintenance pass must discover the
    // declared layout from the log instead of packing in arrival order
    assert(sink.compactSmall(spark, targetBytes = 64L << 20,
      clusterFiles = 4) > 0)
    val total = sink.read(spark).inputFiles.toSet
    assert(total.size >= 4, s"expected >=4 z-ordered outputs, got ${total.size}")
    Seq("a", "b").foreach { c =>
      val kept = sink.readSkipping(spark, c, 0, 120).inputFiles.toSet
      assert(kept.size < total.size,
        s"packed output not stats-prunable on $c — clustering was not discovered")
      // 7919 mod 2000 is coprime to 2000, so b permutes 0..1999: both
      // columns hold 121 in-range values per append, 6 appends each
      assert(sink.readSkipping(spark, c, 0, 120)
        .filter(col(c).between(0, 120)).count() === 726L)
    }
  }

  test("identity values survive a compact (snapshot carries them through)") {
    val sink = new ExactlyOnceSink(tmp())
    sink.setIdentityColumn(spark, "rid")
    sink.commitAppend(spark.range(0, 30).toDF("x"))
    sink.commitAppend(spark.range(30, 60).toDF("x"))
    sink.compact(spark)
    assert(idVals(sink) == (1L to 60L).toSeq)
    // and the watermark still advances correctly afterwards
    sink.commitAppend(spark.range(60, 65).toDF("x"))
    assert(idVals(sink) == (1L to 65L).toSeq)
  }

  test("watermark never rolls back across RESTORE (no re-assignment of history's ids)") {
    // restore rewinds DATA, not metadata: the generated-rule fold is
    // latest-wins and a restore commit carries no generated slot, so the
    // high watermark survives — new appends continue ABOVE the
    // pre-restore maximum instead of re-assigning ids that live rows at
    // other versions already carry (time travel would otherwise show one
    // id naming two different rows).
    val sink = new ExactlyOnceSink(tmp())
    sink.setIdentityColumn(spark, "rid")
    val vA = sink.commitAppend(spark.range(0, 10).toDF("x")) // rids 1..10
    sink.commitAppend(spark.range(10, 20).toDF("x")) // rids 11..20
    sink.restore(spark, vA)
    assert(idVals(sink) == (1L to 10L).toSeq)
    sink.commitAppend(spark.range(20, 25).toDF("x"))
    assert(idVals(sink) == ((1L to 10L) ++ (21L to 25L)),
      "post-restore append re-assigned ids from the rolled-back range")
    // and a replayed streaming batch after the restore cursors safely too
    sink.appendBatch(spark.range(30, 32).toDF("x"), batchId = 0,
      streamAppId = "s1")
    val after = idVals(sink)
    assert(after == ((1L to 10L) ++ (21L to 27L)),
      s"streaming append after restore broke contiguity-above-watermark: $after")
    sink.appendBatch(spark.range(30, 32).toDF("x"), batchId = 0,
      streamAppId = "s1") // replay: must no-op, not re-assign
    assert(idVals(sink) == after)
  }

  test("retry-path assignment re-checks FRESH rules against the frame (mid-race declaration)") {
    // the OCC loop prepares the frame once (idr0) but re-reads rules per
    // retry; a rival can declare a NEW identity column mid-race (legal on
    // an empty table), and a same-named user column must fail loudly at
    // the retry's re-assignment, never be silently overwritten —
    // exercised directly through the (package-visible) retry half
    val sink = new ExactlyOnceSink(tmp())
    sink.setIdentityColumn(spark, "rid")
    val frame = spark.range(0, 5).toDF("payload")
    val prep = sink.prepareIdentity(frame, Seq("rid")) // loop-entry rules
    try {
      // rules as a retry would re-read them AFTER a rival declared
      // identity on a column this frame carries
      val fresh = Seq(("rid", 1L, 1L, 0L, false),
        ("payload", 1L, 1L, 0L, false))
      val e = intercept[IllegalArgumentException](
        sink.assignFromPrep(prep, fresh))
      assert(e.getMessage.contains("GENERATED ALWAYS"))
    } finally prep.release()
  }

  test("a clone of an allowGaps table inherits the reserved watermark — burned ranges included") {
    val srcDir = tmp()
    val src = new ExactlyOnceSink(srcDir)
    src.setIdentityColumn(spark, "rid", allowGaps = true)
    src.commitAppend(spark.range(0, 10).toDF("x")) // rids 1..10
    // burn a range in the SOURCE: the reservation lands, the staged
    // write aborts on the CHECK constraint — rid 11 is gone for good
    src.setConstraint(spark, "pos", "x >= 0")
    intercept[Exception] {
      src.commitAppend(Seq(-1L).toDF("x"))
    }
    val cloneDir = tmp()
    src.cloneTo(cloneDir)
    val clone = new ExactlyOnceSink(cloneDir)
    // both sides continue ABOVE the burned range, independently — a
    // clone that re-derived the watermark from data (max rid = 10)
    // would re-issue 11 and collide with nothing today, but its gap
    // semantics would silently differ from the source's
    clone.commitAppend(spark.range(0, 5).toDF("x"))
    src.commitAppend(spark.range(0, 5).toDF("x"))
    assert(idVals(clone) == ((1L to 10L) ++ (12L to 16L)),
      s"clone lost the burned range: ${idVals(clone)}")
    assert(idVals(src) == ((1L to 10L) ++ (12L to 16L)))
  }

  test("a clone continues the watermark; source and clone sequences stay independent") {
    val srcDir = tmp()
    val src = new ExactlyOnceSink(srcDir)
    src.setIdentityColumn(spark, "rid")
    src.commitAppend(spark.range(0, 10).toDF("x")) // rids 1..10
    val cloneDir = tmp()
    // cloneTo refuses a pre-existing log, not a pre-existing empty dir
    src.cloneTo(cloneDir)
    val clone = new ExactlyOnceSink(cloneDir)
    // the clone inherited rule + watermark through the copied metadata
    clone.commitAppend(spark.range(10, 15).toDF("x"))
    assert(idVals(clone) == (1L to 15L).toSeq,
      "clone did not continue the source's identity sequence")
    // the source is unaffected by the clone's appends and continues its
    // own sequence from ITS watermark — the forks are independent tables
    src.commitAppend(spark.range(20, 23).toDF("x"))
    assert(idVals(src) == ((1L to 10L) ++ (11L to 13L)),
      "source sequence was disturbed by the clone's append")
    assert(idVals(clone) == (1L to 15L).toSeq,
      "clone state leaked from the source's later append")
  }

  test("a stream starting at batch 7 on an empty table commits version 0: the log stays gap-free") {
    val sink = new ExactlyOnceSink(tmp())
    sink.process(spark.range(0, 5).toDF("x"), 7L)
    assert(sink.committedVersions() == Seq(0L))
    assert(sink.lastStreamBatch("graft-sink") == Some(7L))
  }

  /** Two instances with one appId race a replay of batch 3: A stages,
    * and while it does, B (the replacement driver) commits batch 3. A's
    * claim must then find its batch under the cursor and commit
    * nothing. `run(sink, batch)` drives one instance; returns the
    * table's reader. */
  private def zombieReplay(setup: ExactlyOnceSink => Unit)(
      run: (ExactlyOnceSink, org.apache.spark.sql.DataFrame) => Unit): ExactlyOnceSink = {
    val dir = tmp()
    setup(new ExactlyOnceSink(dir, appId = "s"))
    val before = new ExactlyOnceSink(dir).committedVersions()
    val a = new ExactlyOnceSink(dir, appId = "s")
    val b = new ExactlyOnceSink(dir, appId = "s")
    def batch = spark.range(0, 10).toDF("x")
    a.stagedHook = () => {
      a.stagedHook = () => () // fire once
      run(b, batch)
    }
    run(a, batch)
    val r = new ExactlyOnceSink(dir)
    assert(r.committedVersions() == before :+ before.size.toLong,
      s"batch 3 did not commit exactly once: ${r.committedVersions()}")
    assert(r.read(spark).select("x").as[Long].collect().sorted.toSeq == (0L until 10L))
    assert(r.lastStreamBatch("s") == Some(3L))
    r
  }

  test("concurrent replays of one batch commit once: appendBatch") {
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    zombieReplay(_ => ())((s, df) => got += s.appendBatch(df, 3L))
    // B returns first (inside A's staging), then A
    assert(got.toSeq == Seq(0L, -1L))
  }

  test("concurrent replays of one batch commit once: process") {
    zombieReplay(_ => ())((s, df) => s.process(df, 3L))
  }

  test("concurrent replays of one batch commit once: contiguous identity") {
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    val restages0 = ExactlyOnceSink.identityRestages.get()
    val r = zombieReplay(_.setIdentityColumn(spark, "rid"))((s, df) =>
      got += s.appendBatch(df, 3L))
    assert(got.toSeq == Seq(1L, -1L))
    assert(idVals(r) == (1L to 10L).toSeq)
    // the losing replay no-ops on the cursor, never re-stages the batch
    assert(ExactlyOnceSink.identityRestages.get() == restages0)
  }
}
