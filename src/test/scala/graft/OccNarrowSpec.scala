package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.streaming.{CommitStore, ExactlyOnceSink}

/** Conflict narrowing (round 18, the Delta ConflictChecker analog):
  * under the default WriteSerializable isolation, a snapshot/MOR/
  * OPTIMIZE transaction that loses its claim to rival PURE APPENDS
  * re-claims the next version WITHOUT recomputing — a metadata-only
  * rebase (observable via `txnRebases`/`txnRecomputes`, the schemaParses
  * pattern) — while a genuinely conflicting rival (removes/DVs/
  * snapshot/metadata) still forces the full re-read+recompute, and
  * Serializable isolation restores recompute-on-any-rival.
  *
  * The correctness stakes of each arm:
  *  - rebased appends must STAY VISIBLE (a rebased snapshot recording
  *    default base would silently drop them — data loss);
  *  - a genuinely conflicting rival must NOT be rebased past (a merge
  *    committed over a rival delete's victims would resurrect them);
  *  - row-id allocation must stay collision-free across the rebase
  *    (the re-claim re-renders its entry against the fresh watermark).
  */
class OccNarrowSpec extends SparkSpecBase {
  import spark.implicits._

  private def df(ids: Range, v: Int) =
    ids.map(i => (i, v)).toDF("id", "x")

  /** Fresh sink + seeded table; returns (dir, sink). */
  private def seeded(tag: String,
      isolation: ExactlyOnceSink.Isolation = ExactlyOnceSink.WriteSerializable,
      store: CommitStore.Factory = CommitStore.Posix)
      : (String, ExactlyOnceSink) = {
    val dir = Files.createTempDirectory(s"graft-narrow-$tag").toString
    val s = new ExactlyOnceSink(dir, storeFactory = store,
      isolation = isolation)
    s.commitAppend(df(0 until 20, 0).coalesce(1))
    (dir, s)
  }

  /** Land `rival` exactly once inside the transaction's staged→claim
    * window (the txnStagedHook seam). */
  private def withRival(s: ExactlyOnceSink)(rival: => Unit)(txn: => Long)
      : Long = {
    s.txnStagedHook = () => {
      s.txnStagedHook = () => () // fire once
      rival
    }
    try txn finally s.txnStagedHook = () => ()
  }

  test("CoW merge rebases past a rival pure append: no recompute, append visible") {
    for ((kind, store) <- Seq("posix" -> CommitStore.Posix,
        "cput" -> CommitStore.ConditionalPut)) {
      val (dir, s) = seeded(s"cow-$kind", store = store)
      val rival = new ExactlyOnceSink(dir, appId = "rival",
        storeFactory = store)
      val (rb0, rc0) = (s.txnRebases.get(), s.txnRecomputes.get())
      val v = withRival(s) {
        rival.commitAppend(df(100 until 110, 7).coalesce(1))
      } {
        s.merge(spark, df(0 until 5, 1), Seq("id"))
      }
      assert(s.txnRebases.get() - rb0 === 1, s"[$kind] expected one rebase")
      assert(s.txnRecomputes.get() - rc0 === 0,
        s"[$kind] a disjoint append forced a full recompute")
      // seed=v0; the rival append took the merge's first target (v1);
      // the rebased claim landed one version later (v2)
      assert(v === 2, s"[$kind] expected the rebased claim at v2, got $v")
      val out = s.read(spark).select("id", "x").as[(Int, Int)].collect().toMap
      assert((0 until 5).forall(out(_) == 1), s"[$kind] merge updates lost")
      assert((5 until 20).forall(out(_) == 0), s"[$kind] untouched rows lost")
      assert((100 until 110).forall(out(_) == 7),
        s"[$kind] the rebased-past append's rows vanished — data loss")
      // history stays sane: time travel to the rival's version shows
      // pre-merge state + the append; the version before shows neither
      assert(s.read(spark, versionAsOf = Some(1L)).count() === 30)
      assert(s.read(spark, versionAsOf = Some(0L)).count() === 20)
      // the CDC feed over the window carries the append's inserts at its
      // own version and the merge's recorded changes at the rebased one
      val ch = s.readChanges(spark, 0L)
      assert(ch.filter(col("batch") === 1 && col("_change_type") === "insert")
        .count() === 10)
      assert(ch.filter(col("batch") === 2).count() > 0)
    }
  }

  test("a rebased snapshot survives vacuum, checkpoint reseed, and clone") {
    val (dir, s) = seeded("durable")
    val rival = new ExactlyOnceSink(dir, appId = "rival")
    withRival(s) { rival.commitAppend(df(100 until 110, 7).coalesce(1)) } {
      s.merge(spark, df(0 until 5, 1), Seq("id"))
    }
    // vacuum without history must keep the rebased-past append's dir
    s.vacuum(retainHistory = false, minAgeMs = 0L)
    assert(s.read(spark).count() === 30,
      "vacuum(retainHistory=false) reclaimed a rebased-past append")
    // a checkpoint seeded AFTER the rebase replays the same state
    (0 until 10).foreach(i => s.commitAppend(df(200 + i until 201 + i, 9)))
    val fresh = new ExactlyOnceSink(dir)
    assert(fresh.read(spark).count() === 40)
    assert(fresh.read(spark).filter(col("x") === 7).count() === 10,
      "checkpoint-seeded replay lost the rebased window")
    // clones preserve the snapshotBase field verbatim
    val cloneDir = Files.createTempDirectory("graft-narrow-clone").toString
    s.cloneTo(cloneDir)
    assert(new ExactlyOnceSink(cloneDir).read(spark)
      .filter(col("x") === 7).count() === 10,
      "cloneTo dropped the rebase base — the clone lost the window appends")
  }

  test("MOR delete rebases past a rival pure append") {
    val (dir, s) = seeded("mor")
    val rival = new ExactlyOnceSink(dir, appId = "rival")
    val (rb0, rc0) = (s.txnRebases.get(), s.txnRecomputes.get())
    withRival(s) { rival.commitAppend(df(100 until 110, 7).coalesce(1)) } {
      s.deleteDV(spark, col("id") < 5)
    }
    assert(s.txnRebases.get() - rb0 === 1)
    assert(s.txnRecomputes.get() - rc0 === 0,
      "a disjoint append forced the MOR verb to recompute")
    val out = s.read(spark).select("id").as[Int].collect().toSet
    assert(!(0 until 5).exists(out), "MOR delete lost across the rebase")
    assert((5 until 20).forall(out), "kept rows lost")
    assert((100 until 110).forall(out), "rebased-past append rows lost")
  }

  test("OPTIMIZE (compactSmall) rebases past a rival pure append") {
    val (dir, s) = seeded("opt")
    (1 to 3).foreach(i => s.commitAppend(df(i * 20 until i * 20 + 20, 0)
      .coalesce(1)))
    val rival = new ExactlyOnceSink(dir, appId = "rival")
    val (rb0, rc0) = (s.txnRebases.get(), s.txnRecomputes.get())
    val v = withRival(s) {
      rival.commitAppend(df(500 until 510, 7).coalesce(1))
    } { s.compactSmall(spark, minFiles = 2) }
    assert(v > 0)
    assert(s.txnRebases.get() - rb0 === 1)
    assert(s.txnRecomputes.get() - rc0 === 0,
      "OPTIMIZE re-picked candidates over a disjoint append")
    assert(s.read(spark).count() === 90,
      "rows lost across the OPTIMIZE rebase")
    assert(s.read(spark).filter(col("x") === 7).count() === 10)
  }

  test("a genuinely conflicting rival still forces the full recompute") {
    val (dir, s) = seeded("conflict")
    val rival = new ExactlyOnceSink(dir, appId = "rival")
    val (rb0, rc0) = (s.txnRebases.get(), s.txnRecomputes.get())
    // the rival DELETES rows the merge read — rebasing past it would
    // commit a snapshot computed on pre-delete state and resurrect them
    val v = withRival(s) { rival.deleteDV(spark, col("id") >= 15) } {
      s.merge(spark, df(0 until 5, 1), Seq("id"))
    }
    assert(v === 2)
    assert(s.txnRecomputes.get() - rc0 === 1,
      "a rival carrying DVs was rebased past — lost-delete hazard")
    assert(s.txnRebases.get() - rb0 === 0)
    val out = s.read(spark).select("id").as[Int].collect().toSet
    assert(!(15 until 20).exists(out),
      "the rival delete's victims were resurrected by a stale snapshot")
    assert((0 until 15).forall(out))
  }

  test("metadata rivals (constraint, identity reserve) force the recompute") {
    val (dir, s) = seeded("meta")
    val rival = new ExactlyOnceSink(dir, appId = "rival")
    val rc0 = s.txnRecomputes.get()
    withRival(s) { rival.setConstraint(spark, "cx", "x IS NOT NULL") } {
      s.merge(spark, df(0 until 5, 1), Seq("id"))
    }
    assert(s.txnRecomputes.get() - rc0 === 1,
      "a rival metadata commit was rebased past")
  }

  test("Serializable isolation recomputes on any rival, appends included") {
    val (dir, s) = seeded("serializable",
      isolation = ExactlyOnceSink.Serializable)
    val rival = new ExactlyOnceSink(dir, appId = "rival")
    val (rb0, rc0) = (s.txnRebases.get(), s.txnRecomputes.get())
    withRival(s) { rival.commitAppend(df(100 until 110, 7).coalesce(1)) } {
      s.merge(spark, df(0 until 5, 1), Seq("id"))
    }
    assert(s.txnRebases.get() - rb0 === 0,
      "Serializable isolation rebased")
    assert(s.txnRecomputes.get() - rc0 === 1)
    // the recompute read fresh state, so the appended rows are visible
    // here too — the difference is the serial order exists
    assert(s.read(spark).filter(col("x") === 7).count() === 10)
  }

  test("the gave-up message names rival appends APPEND") {
    val (dir, s) = seeded("gaveup", isolation = ExactlyOnceSink.Serializable)
    val rival = new ExactlyOnceSink(dir, appId = "rival")
    // a rival append on every attempt: Serializable recomputes each time
    s.txnStagedHook = () => rival.commitAppend(df(100 until 102, 7).coalesce(1))
    val e =
      try intercept[RuntimeException] {
        s.deleteDV(spark, col("id") === 3, maxRetries = 1)
      } finally s.txnStagedHook = () => ()
    assert(e.getMessage.contains("gave up after 1 recomputes"), e.getMessage)
    assert("""v\d+:APPEND""".r.findFirstIn(e.getMessage).isDefined,
      s"rival appends must read APPEND: ${e.getMessage}")
  }

  test("a CoW streaming merge that loses its claim to a replay of its batch recomputes nothing") {
    val (dir, s) = seeded("replay")
    // the same appId: a zombie driver and its replacement
    val twin = new ExactlyOnceSink(dir)
    val upd = df(0 until 5, 1)
    var fired = 0
    s.txnStagedHook = () => {
      fired += 1
      if (fired == 1) assert(twin.mergeBatch(spark, upd, Seq("id"), 3).isDefined)
    }
    val got = try s.mergeBatch(spark, upd, Seq("id"), 3)
      finally s.txnStagedHook = () => ()
    assert(got.isEmpty, s"the losing replay committed version $got")
    assert(fired === 1, "the losing replay recomputed and re-staged the merge")
    assert(s.lastStreamBatch("graft-sink") === Some(3L))
    assert(s.read(spark).filter(col("x") === 1).count() === 5)
    assert(s.read(spark).count() === 20)
  }

  test("row-id allocation stays collision-free across a rebase") {
    val (dir, s) = seeded("rowid")
    s.enableRowTracking(spark, backfill = true)
    val rival = new ExactlyOnceSink(dir, appId = "rival")
    withRival(s) { rival.commitAppend(df(100 until 110, 7).coalesce(1)) } {
      // the merge's inserts allocate fresh row ids; the rival append
      // advanced the watermark after the merge staged — the rebased
      // re-claim must re-render its allocation above the rival's block
      s.merge(spark, df(200 until 210, 1), Seq("id"))
    }
    val ids = s.readWithRowIds(spark).select("_row_id").as[Long].collect()
    assert(ids.length === 40)
    assert(ids.distinct.length === 40,
      "row ids collided across a rebase — the re-claim reused a stale " +
        "watermark allocation")
  }

  test("append storm: a WriteSerializable merge never recomputes, Serializable starves") {
    val dir = Files.createTempDirectory("graft-narrow-storm").toString
    val s = new ExactlyOnceSink(dir)
    s.commitAppend(df(0 until 50, 0).coalesce(1))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val appended = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val appenders = (0 until 4).map { w =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val a = new ExactlyOnceSink(dir, appId = s"appender-$w")
          var i = 0
          while (!stop.get()) {
            a.commitAppend(df(1000 + w * 100 + i until 1001 + w * 100 + i, 7)
              .coalesce(1))
            appended.incrementAndGet()
            i += 1
          }
        }
      })
    }
    try {
      // let the storm get going
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (appended.get() < 4 && System.nanoTime() < deadline)
        Thread.sleep(20)
      val (rb0, rc0) = (s.txnRebases.get(), s.txnRecomputes.get())
      // maxRetries counts RECOMPUTES: under narrowing a pure-append
      // storm costs zero, so even maxRetries=1 commits (pre-narrowing
      // this starved with high probability at any retry budget)
      val v = s.transactSnapshot(spark, maxRetries = 1)(live =>
        live.withColumn("x", col("x") + lit(100)))
      assert(v > 0)
      assert(s.txnRecomputes.get() - rc0 === 0,
        "the append storm forced recomputes despite WriteSerializable")
      info(s"storm: ${appended.get()} rival appends, " +
        s"${s.txnRebases.get() - rb0} rebases, 0 recomputes")
    } finally {
      stop.set(true)
      appenders.foreach(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      pool.shutdown()
    }
    // every row present exactly once: the snapshot's 50 bumped rows plus
    // every appended row (none lost to the rebases, none duplicated)
    val n = appended.get()
    val out = new ExactlyOnceSink(dir).read(spark)
    assert(out.count() === 50 + n)
    assert(out.filter(col("x") >= 100).count() >= 50,
      "the snapshot's own output went missing")
  }
}
