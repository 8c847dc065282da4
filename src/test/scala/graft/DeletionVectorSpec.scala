package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.streaming.{DeletionVectors, ExactlyOnceSink}

/** Merge-on-read (deletion vector) semantics of the sink: DELETE/MERGE
  * that touch only matched files, per-file remove/vector/rewrite
  * policy, read-path subtraction (plain, skipping, bloom), time
  * travel, CDC, restore, compact re-base, and the codec itself. */
class DeletionVectorSpec extends SparkSpecBase {
  import spark.implicits._

  private def newSink(tag: String): (ExactlyOnceSink, String) = {
    val dir = Files.createTempDirectory(s"graft-dv-$tag").toString
    (new ExactlyOnceSink(dir), dir)
  }

  /** Parquet DATA files currently on disk (absolute), excluding the CDC
    * change-row dirs — every commit records change rows by design; the
    * merge-on-read claim is about data files. */
  private def dataFiles(dir: String): Set[String] =
    withDirStream(Files.walk(Paths.get(dir, "data")))(_
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(_.toString).filterNot(_.contains("/changes/")).toSet)

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    if (!df.columns.contains("id")) Set.empty
    else df.select("id").collect().map(_.getLong(0)).toSet

  test("range codec round-trips and unions") {
    val cases = Seq(
      Array.empty[Long],
      Array(0L),
      Array(0L, 1L, 2L),
      Array(5L, 9L, 10L, 11L, 40L),
      (0L until 100L).toArray)
    for (c <- cases)
      assert(DeletionVectors.decode(DeletionVectors.encode(c)).toSeq === c.toSeq)
    assert(DeletionVectors.encode(Array(0L, 1L, 2L, 5L, 9L, 10L)) === "0-2,5,9-10")
    assert(DeletionVectors.union(Array(1L, 5L), Array(5L, 2L)).toSeq === Seq(1L, 2L, 5L))
  }

  test("classify picks remove / vector / rewrite by total-vector size") {
    import DeletionVectors._
    assert(classify(matched = 10, existingDv = 0, fileRows = 10, dvMaxRows = 5) === Remove)
    // existing DV counts toward fullness
    assert(classify(matched = 4, existingDv = 6, fileRows = 10, dvMaxRows = 100) === Remove)
    assert(classify(matched = 3, existingDv = 0, fileRows = 10, dvMaxRows = 5) === Vector)
    // repeated small deletes cannot grow a DV past the cap
    assert(classify(matched = 3, existingDv = 4, fileRows = 100, dvMaxRows = 5) === Rewrite)
  }

  test("deleteDV deletes selective rows WITHOUT touching unmatched files") {
    val (sink, dir) = newSink("selective")
    sink.commitAppend(Seq.tabulate(20)(i => (i.toLong, s"a$i")).toDF("id", "x"))
    sink.commitAppend(Seq.tabulate(20)(i => (100L + i, s"b$i")).toDF("id", "x"))
    val before = dataFiles(dir)
    val v = sink.deleteDV(spark, col("id") === 3L || col("id") === 105L)
    assert(v >= 0)
    // merge-on-read: no data file rewritten or added, none deleted
    assert(dataFiles(dir) === before, "deleteDV must not touch data files")
    assert(ids(sink.read(spark)) === ((0L until 20L).toSet ++ (100L until 120L).toSet -- Set(3L, 105L)))
    // time travel to before the delete still sees the rows
    assert(ids(sink.read(spark, versionAsOf = Some(v - 1))).contains(3L))
    // CDC records exactly the deleted rows
    val ch = sink.readChanges(spark, v - 1, v)
    assert(ch.select("_change_type").distinct().as[String].collect().toSet === Set("delete"))
    assert(ids(ch) === Set(3L, 105L))
  }

  test("fully-matched files are removed; second delete unions the vector") {
    val (sink, _) = newSink("remove-union")
    // two appends = two files: one will be fully deleted
    sink.commitAppend(Seq.tabulate(10)(i => (i.toLong, "low")).toDF("id", "x"))
    sink.commitAppend(Seq.tabulate(10)(i => (100L + i, "high")).toDF("id", "x"))
    sink.deleteDV(spark, col("id") < 10L) // whole first file
    assert(ids(sink.read(spark)) === (100L until 110L).toSet)
    sink.deleteDV(spark, col("id") === 101L)
    sink.deleteDV(spark, col("id") === 103L) // unions with the 101 vector
    assert(ids(sink.read(spark)) === (100L until 110L).toSet -- Set(101L, 103L))
    // deleting the file's remaining rows upgrades it to a remove
    sink.deleteDV(spark, col("id") >= 100L)
    assert(ids(sink.read(spark)) === Set.empty)
  }

  test("over-cap files are rewritten file-locally, not vectored") {
    val (sink, dir) = newSink("rewrite")
    sink.commitAppend(spark.range(0, 1000).select(col("id"), lit("z").as("x")).coalesce(1))
    val before = dataFiles(dir)
    // 500 of 1000 rows matched with a tiny cap → rewrite tier
    sink.deleteDV(spark, col("id") % 2 === 0, dvMaxRows = 10)
    assert(ids(sink.read(spark)) === (1L until 1000L by 2).toSet)
    // the kept half was rewritten as a NEW file; the original remains
    // on disk for time travel
    val after = dataFiles(dir)
    assert(before.subsetOf(after) && (after -- before).nonEmpty)
    // and the log carries no DV for it (remove + add, not vector)
    assert(ids(sink.read(spark, versionAsOf = Some(0L))) === (0L until 1000L).toSet)
  }

  test("mergeDV upserts via tombstones: unmatched files untouched, CDC complete") {
    val (sink, dir) = newSink("merge")
    sink.commitAppend(Seq.tabulate(10)(i => (i.toLong, s"v0-$i")).toDF("id", "x"))
    sink.commitAppend(Seq.tabulate(10)(i => (50L + i, s"v0-${50 + i}")).toDF("id", "x"))
    val before = dataFiles(dir)
    val v = sink.mergeDV(spark, Seq((3L, "upd3"), (55L, "upd55"), (200L, "new200"))
      .toDF("id", "x"), Seq("id"))
    val live = sink.read(spark).select("id", "x").as[(Long, String)].collect().toMap
    assert(live(3L) === "upd3" && live(55L) === "upd55" && live(200L) === "new200")
    assert(live(4L) === "v0-4" && live.size === 21)
    // original files still on disk (tombstoned, not rewritten) + new files added
    assert(before.subsetOf(dataFiles(dir)))
    val ch = sink.readChanges(spark, v - 1, v)
    val byType = ch.groupBy("_change_type").count().as[(String, Long)].collect().toMap
    assert(byType === Map("insert" -> 1L, "update_preimage" -> 2L, "update_postimage" -> 2L))
    // stateFromChanges (incremental consumer) agrees with read()
    val st = sink.stateFromChanges(spark, Seq("id")).select("id", "x")
      .as[(Long, String)].collect().toMap
    assert(st === live)
  }

  test("mergeBatch(mor=true) stays idempotent on batchId") {
    val (sink, _) = newSink("merge-batch")
    sink.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "x"))
    val v1 = sink.mergeBatch(spark, Seq((1L, "a2")).toDF("id", "x"), Seq("id"),
      batchId = 7, mor = true)
    assert(v1.isDefined)
    // replay of the same micro-batch no-ops
    val v2 = sink.mergeBatch(spark, Seq((1L, "a3")).toDF("id", "x"), Seq("id"),
      batchId = 7, mor = true)
    assert(v2.isEmpty)
    val live = sink.read(spark).select("id", "x").as[(Long, String)].collect().toMap
    assert(live === Map(1L -> "a2", 2L -> "b"))
  }

  test("skipping and bloom reads subtract deletion vectors") {
    val (sink, _) = newSink("skip")
    sink.commitAppend(spark.range(0, 100).select(col("id"),
      col("id").cast("string").as("x")), bloomBy = Seq("x"))
    sink.deleteDV(spark, col("id") === 42L)
    val sk = sink.readSkipping(spark, "id", 40.0, 45.0)
    assert(!ids(sk).contains(42L) && ids(sk).contains(41L))
    val bl = sink.readLookup(spark, "x", "42")
    assert(!ids(bl).contains(42L), "bloom-pruned read must subtract the DV")
    val bl41 = sink.readLookup(spark, "x", "41")
    assert(ids(bl41).contains(41L))
  }

  test("compact re-bases: tombstones cleared, deleted rows stay gone") {
    val (sink, dir) = newSink("compact")
    sink.commitAppend(Seq.tabulate(10)(i => (i.toLong, "x")).toDF("id", "x"))
    sink.deleteDV(spark, col("id") < 3L)
    val vc = sink.compact(spark)
    assert(ids(sink.read(spark)) === (3L until 10L).toSet)
    // post-compact log entry carries no dv/remove actions
    val entry = Files.readString(
      Paths.get(dir, "_graft_log", f"$vc%020d.json"))
    assert(!entry.contains("\"dv\"") && !entry.contains("\"remove\""))
    // a fresh delete after compact still works
    sink.deleteDV(spark, col("id") === 5L)
    assert(ids(sink.read(spark)) === (3L until 10L).toSet - 5L)
  }

  test("restore across a DV delete does not resurrect deleted rows") {
    val (sink, _) = newSink("restore")
    sink.commitAppend(Seq.tabulate(10)(i => (i.toLong, "x")).toDF("id", "x")) // v0
    val vDel = sink.deleteDV(spark, col("id") < 4L) // v1
    sink.commitAppend(Seq((100L, "y")).toDF("id", "x")) // v2
    // restore to the state right after the DV delete
    sink.restore(spark, vDel)
    assert(ids(sink.read(spark)) === (4L until 10L).toSet,
      "restore must carry the target version's deletion vectors")
    // and restore to BEFORE the delete brings the rows back
    sink.restore(spark, vDel - 1)
    assert(ids(sink.read(spark)) === (0L until 10L).toSet)
  }

  test("cold reader and checkpointed log replay DV state exactly") {
    val dir = Files.createTempDirectory("graft-dv-cold").toString
    val sink = new ExactlyOnceSink(dir, checkpointInterval = 3)
    sink.commitAppend(Seq.tabulate(20)(i => (i.toLong, "x")).toDF("id", "x"))
    sink.deleteDV(spark, col("id") < 5L)
    (0 until 4).foreach { k => // cross a checkpoint boundary
      sink.commitAppend(Seq((1000L + k, "y")).toDF("id", "x"))
    }
    sink.deleteDV(spark, col("id") === 1001L)
    val expect = (5L until 20L).toSet ++ Set(1000L, 1002L, 1003L)
    assert(ids(sink.read(spark)) === expect)
    val cold = new ExactlyOnceSink(dir)
    assert(ids(cold.read(spark)) === expect, "checkpoint-seeded cold replay")
    sink.cleanupLog(minAgeMs = 0)
    val colder = new ExactlyOnceSink(dir)
    assert(ids(colder.read(spark)) === expect, "post-cleanup replay")
  }

  test("concurrent MOR writers linearize: same-file DV unions, no lost updates") {
    val dir = Files.createTempDirectory("graft-dv-conc").toString
    // one 1000-row file: both writers' key ranges land in the SAME file,
    // so every conflict exercises the recompute-and-union path
    new ExactlyOnceSink(dir, appId = "seed").commitAppend(
      spark.range(0, 1000).select(col("id"),
        concat(lit("orig"), col("id")).as("x")).coalesce(1))
    val rounds = 4
    def writer(name: String, lo: Long, hi: Long): Thread = new Thread(() => {
      val s = new ExactlyOnceSink(dir, appId = name)
      (0 until rounds).foreach { b =>
        val upd = spark.range(lo, hi).select(col("id"),
          concat(lit(s"$name$b-"), col("id")).as("x"))
        s.mergeDV(spark, upd, Seq("id"))
      }
    })
    val a = writer("wa", 0L, 50L)
    val b = writer("wb", 50L, 100L)
    a.start(); b.start(); a.join(); b.join()
    val sink = new ExactlyOnceSink(dir)
    // dense, gap-free history: seed + 8 merge commits
    assert(sink.committedVersions() === (0L until (1 + 2 * rounds)).toSeq)
    val live = sink.read(spark).select("id", "x").as[(Long, String)]
      .collect().toMap
    assert(live.size === 1000, "no rows lost or duplicated")
    (0L until 50L).foreach(i => assert(live(i) === s"wa${rounds - 1}-$i"))
    (50L until 100L).foreach(i => assert(live(i) === s"wb${rounds - 1}-$i"))
    (100L until 1000L).foreach(i => assert(live(i) === s"orig$i"))
  }

  test("vacuum never purges files referenced only through DV commits") {
    val dir = Files.createTempDirectory("graft-dv-vac").toString
    val sink = new ExactlyOnceSink(dir)
    sink.commitAppend(Seq.tabulate(10)(i => (i.toLong, "x")).toDF("id", "x"))
    sink.deleteDV(spark, col("id") === 0L)
    sink.vacuum(minAgeMs = 0)
    assert(ids(sink.read(spark)) === (1L until 10L).toSet)
  }

  test("merge-on-read classifies files from recorded row counts — zero footer I/O") {
    // every add action carries `rows`, so the delete/vector/rewrite
    // classify step must never open a parquet footer: at a merge
    // touching thousands of files a serial driver-side footer loop is
    // real I/O for counts the commits already hold in memory
    val (sink, _) = newSink("norows")
    sink.commitAppend(spark.range(0, 100).toDF("id").coalesce(1))
    sink.commitAppend(spark.range(100, 200).toDF("id").coalesce(1))
    val before = sink.footerRowCountReads.get()
    sink.deleteDV(spark, col("id") === 5L)    // partial file → vector tier
    sink.deleteDV(spark, col("id") >= 100L)   // whole file → remove tier
    sink.mergeDV(spark, Seq(7L).toDF("id"), Seq("id"))
    assert(sink.footerRowCountReads.get() === before,
      "classify opened parquet footers for row counts the log already records")
    assert(sink.read(spark).count() === 99)
  }

  test("mergeDV finds a numeric-looking string key outside its file's numeric range") {
    // the file's string stats are lexicographic ("10" to "3"), so "2" is
    // inside them as a string but outside [10, 3] as a number: a bound
    // taken from a string key would prune the file and leave both rows
    val (sink, _) = newSink("string-key")
    sink.commitAppend(Seq(("10", 1), ("2", 2), ("3", 3)).toDF("k", "v").coalesce(1))
    sink.mergeDV(spark, Seq(("2", 20)).toDF("k", "v"), Seq("k"))
    val live = sink.read(spark).select("k", "v").as[(String, Int)].collect().sorted
    assert(live.toSeq === Seq(("10", 1), ("2", 20), ("3", 3)))
  }

  test("a MOR merge whose key matches only a deleted row records insert, no duplicate") {
    val (sink, _) = newSink("dv-key")
    sink.commitAppend(Seq.tabulate(10)(i => (i.toLong, s"v$i")).toDF("id", "x").coalesce(1))
    sink.deleteDV(spark, col("id") === 3L)
    val v = sink.mergeDV(spark, Seq((3L, "back")).toDF("id", "x"), Seq("id"))
    val live = sink.read(spark).select("id", "x").as[(Long, String)].collect()
    assert(live.count(_._1 == 3L) === 1 && live.length === 10)
    assert(live.toMap.apply(3L) === "back")
    val ch = sink.readChanges(spark, v - 1, v).select("id", "x", "_change_type")
      .as[(Long, String, String)].collect()
    assert(ch.toSeq === Seq((3L, "back", "insert")))
    // the deleted row is not re-deleted: no file gets a new vector or a remove
    val h = sink.history(spark).filter(col("version") === v)
      .select("num_removed_files", "num_deletion_vectors").as[(Long, Long)].collect()
    assert(h.toSeq === Seq((0L, 0L)))
  }

  test("a null update key matches no live null-key row") {
    // an equi-join never matches null = null: the null-key update inserts
    val (sink, _) = newSink("null-key")
    sink.commitAppend(Seq((Some(1L), "a"), (None, "n")).toDF("id", "x"))
    val v = sink.mergeDV(spark, Seq((Option.empty[Long], "n2"), (Some(1L), "a2"))
      .toDF("id", "x"), Seq("id"))
    val live = sink.read(spark).select("id", "x").as[(Option[Long], String)].collect()
    assert(live.sortBy(_._2).toSeq === Seq((Some(1L), "a2"), (None, "n"), (None, "n2")))
    val ch = sink.readChanges(spark, v - 1, v).select("id", "x", "_change_type")
      .as[(Option[Long], String, String)].collect().sortBy(_._2)
    assert(ch.toSeq === Seq((Some(1L), "a", "update_preimage"),
      (Some(1L), "a2", "update_postimage"), (None, "n2", "insert")))
  }

  test("a two-column-key MOR merge records the same CDC rows as a copy-on-write merge") {
    def run(mor: Boolean): (Seq[(Long, String, Int, String)], Seq[(Long, String, Int)]) = {
      val (sink, _) = newSink(s"two-key-$mor")
      sink.commitAppend(Seq((1L, "a", 1), (1L, "b", 2), (2L, "a", 3), (2L, "b", 4))
        .toDF("k1", "k2", "v"))
      // (1, b) matches both columns; (2, c) and (3, a) match one or none
      val up = Seq((1L, "b", 20), (2L, "c", 30), (3L, "a", 40)).toDF("k1", "k2", "v")
      val v = if (mor) sink.mergeDV(spark, up, Seq("k1", "k2"))
        else sink.merge(spark, up, Seq("k1", "k2"))
      (sink.readChanges(spark, v - 1, v).select("k1", "k2", "v", "_change_type")
        .as[(Long, String, Int, String)].collect().sorted.toSeq,
        sink.read(spark).select("k1", "k2", "v").as[(Long, String, Int)].collect().sorted.toSeq)
    }
    val (mor, cow) = (run(mor = true), run(mor = false))
    assert(mor === cow)
    assert(mor._1.map(_._4).sorted === Seq("insert", "insert", "update_postimage",
      "update_preimage"))
  }

  test("no RDD stays persisted after mergeDV or deleteDV") {
    val (sink, _) = newSink("persist")
    sink.commitAppend(spark.range(0, 200).select(col("id"), (col("id") * 2).as("v"))
      .coalesce(2))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    sink.mergeDV(spark, Seq((5L, 0L), (500L, 1L)).toDF("id", "v"), Seq("id"))
    sink.deleteDV(spark, col("id") < 20L)
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"persisted after the merge and delete: $left")
    assert(sink.read(spark).count() === 181)
  }

  test("a MOR merge whose key matches more than dvMaxRows rows matches a copy-on-write merge") {
    // 12 target rows share key 7, over the merge's 5-row cap: the probe
    // collects none of them and the merge takes the per-file aggregate
    def run(mor: Boolean): (Seq[(Long, Int, String)], Seq[(Long, Int)], Seq[Long]) = {
      val (sink, _) = newSink(s"dup-key-$mor")
      sink.enableRowTracking(spark)
      sink.commitAppend((Seq.fill(12)(7L) ++ (0L until 6L)).zipWithIndex
        .toDF("id", "v").coalesce(1))
      sink.commitAppend(Seq((7L, 100), (8L, 101)).toDF("id", "v"))
      val ids = sink.readWithRowIds(spark).filter(col("id") === 7L)
        .select("_row_id").as[Long].collect()
      val up = Seq((7L, -1), (9L, -2)).toDF("id", "v")
      val v = if (mor) sink.mergeDV(spark, up, Seq("id"), dvMaxRows = 5)
        else sink.merge(spark, up, Seq("id"))
      val kept = sink.readWithRowIds(spark).filter(col("id") === 7L)
        .select("_row_id").as[Long].collect()
      assert(kept.length === 1 && ids.contains(kept.head))
      (sink.readChanges(spark, v - 1, v).select("id", "v", "_change_type")
        .as[(Long, Int, String)].collect().sorted.toSeq,
        sink.read(spark).select("id", "v").as[(Long, Int)].collect().sorted.toSeq,
        kept.toSeq)
    }
    val (mor, cow) = (run(mor = true), run(mor = false))
    assert(mor._1 === cow._1 && mor._2 === cow._2)
    assert(mor._1.count(_._3 == "update_preimage") === 13)
    assert(mor._2.map(_._1) === (0L to 9L).filter(_ != 6L))
  }
}
