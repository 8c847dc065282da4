package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.streaming.ExactlyOnceSink

/** Row tracking ([[ExactlyOnceSink.enableRowTracking]] /
  * [[ExactlyOnceSink.readWithRowIds]]) — the Delta row-tracking analog:
  * every row gets a STABLE unique `_row_id` (virtual = its file's add
  * action's baseRowId + row position; materialized into reserved
  * physical columns by any rewrite) and a `_row_commit_version`. The
  * contract under test: ids are unique, survive OPTIMIZE / deletes /
  * MERGE updates / restore / clone / checkpoint replay, updated rows
  * keep their id but take the updating commit as their new version,
  * and none of the machinery leaks into normal reads. */
class RowTrackingSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-rowtrack").toString

  /** business key -> (_row_id, _row_commit_version) of the live state. */
  private def idMap(sink: ExactlyOnceSink): Map[Long, (Long, Long)] =
    sink.readWithRowIds(spark)
      .select(col("id"), col("_row_id"), col("_row_commit_version"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap

  private def freshTracked(): (String, ExactlyOnceSink) = {
    val dir = tmp()
    val sink = new ExactlyOnceSink(dir)
    sink.enableRowTracking(spark)
    (dir, sink)
  }

  test("appends assign dense virtual ids from the watermark; rcv = the appending commit") {
    val (_, sink) = freshTracked()
    val v1 = sink.commitAppend(
      spark.range(0, 10).toDF("id").repartition(3))
    val m1 = idMap(sink)
    assert(m1.values.map(_._1).toSeq.sorted == (0L until 10L),
      s"first append must use ids 0..9: $m1")
    assert(m1.values.forall(_._2 == v1))
    assert(sink.rowIdWatermark() == Some(10L))
    val v2 = sink.commitAppend(spark.range(10, 15).toDF("id"))
    val m2 = idMap(sink)
    assert(m2.values.map(_._1).toSeq.sorted == (0L until 15L),
      "second append must continue above the watermark")
    // the first batch's assignment is untouched by the second
    assert((0L until 10L).forall(k => m2(k) == m1(k)))
    assert((10L until 15L).forall(k => m2(k)._2 == v2))
    assert(sink.rowIdWatermark() == Some(15L))
  }

  test("normal reads never see row-tracking machinery; guards hold") {
    val (_, sink) = freshTracked()
    sink.commitAppend(spark.range(0, 8).toDF("id"))
    sink.compactSmall(spark, minFiles = 1) // forces materialized columns
    assert(sink.read(spark).columns.toSet == Set("id", "batch"),
      "materialized columns leaked into read()")
    // a frame in the reserved namespace is rejected
    val e = intercept[Exception] {
      sink.commitAppend(Seq((1L, 2L)).toDF("id", "_graft_mat_rowid"))
    }
    assert(e.getMessage.contains("reserved"))
    // enablement requires an empty table; untracked tables refuse id reads
    val other = new ExactlyOnceSink(tmp())
    other.commitAppend(Seq(1L).toDF("id"))
    assert(intercept[Exception](other.enableRowTracking(spark))
      .getMessage.contains("before data lands"))
    assert(intercept[Exception](other.readWithRowIds(spark))
      .getMessage.contains("not enabled"))
    // idempotent re-enable
    assert(sink.enableRowTracking(spark) == -1L)
  }

  test("OPTIMIZE preserves ids AND commit versions (materialization)") {
    val (_, sink) = freshTracked()
    sink.commitAppend(spark.range(0, 6).toDF("id"))
    sink.commitAppend(spark.range(6, 12).toDF("id"))
    val before = idMap(sink)
    assert(sink.compactSmall(spark, minFiles = 2) > 0)
    assert(idMap(sink) == before,
      "compactSmall changed a row's id or commit version")
    // the whole-table COW compact preserves them too
    sink.compact(spark)
    assert(idMap(sink) == before, "compact changed ids")
    // and a second compaction of already-materialized files
    sink.commitAppend(spark.range(12, 14).toDF("id"))
    val before2 = idMap(sink)
    sink.compact(spark)
    assert(idMap(sink) == before2, "re-compaction changed ids")
  }

  test("deletes (DV and copy-on-write) keep survivors' ids; deleted ids never return") {
    val (_, sink) = freshTracked()
    sink.commitAppend(spark.range(0, 10).toDF("id"))
    val before = idMap(sink)
    sink.deleteDV(spark, col("id") === 3 || col("id") === 7)
    val afterDv = idMap(sink)
    assert(afterDv == before.removedAll(Seq(3L, 7L)),
      "DV delete disturbed surviving ids")
    sink.delete(spark, col("id") === 5) // copy-on-write rewrite
    assert(idMap(sink) == afterDv.removedAll(Seq(5L)),
      "COW delete disturbed surviving ids")
    // new rows allocate ABOVE the watermark — deleted ids are burned
    sink.commitAppend(spark.range(100, 103).toDF("id"))
    val ids = idMap(sink).values.map(_._1).toSeq
    assert(ids.size == ids.distinct.size)
    assert(idMap(sink).values.map(_._1).min >= 0 &&
      Seq(100L, 101L, 102L).map(idMap(sink)(_)._1).forall(_ >= 10L),
      "a fresh row reused a deleted row's id")
  }

  test("MERGE (copy-on-write) row lineage: updated rows keep their id, take the new commit version") {
    val (_, sink) = freshTracked()
    val v0 = sink.commitAppend(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "x"))
    val before = idMap(sink)
    val vm = sink.merge(spark,
      Seq((2L, "B"), (9L, "new")).toDF("id", "x"), Seq("id"))
    val after = idMap(sink)
    assert(after(1L) == before(1L), "untouched row's lineage changed")
    assert(after(3L) == before(3L))
    assert(after(2L)._1 == before(2L)._1, "updated row lost its row id")
    assert(after(2L)._2 == vm, "updated row must take the merging commit")
    assert(after(9L)._2 == vm)
    assert(after.values.map(_._1).toSeq.distinct.size == 4)
    assert(after(9L)._1 >= 3L, "inserted row reused an id")
    assert(v0 < vm)
  }

  test("MERGE (merge-on-read) row lineage matches the copy-on-write semantics") {
    val (_, sink) = freshTracked()
    sink.commitAppend(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "x"))
    val before = idMap(sink)
    val vm = sink.mergeDV(spark,
      Seq((2L, "B"), (9L, "new")).toDF("id", "x"), Seq("id"))
    val after = idMap(sink)
    assert(after(1L) == before(1L) && after(3L) == before(3L),
      "mergeDV disturbed unmatched rows' lineage")
    assert(after(2L)._1 == before(2L)._1, "mergeDV updated row lost its id")
    assert(after(2L)._2 == vm)
    assert(after(9L)._1 >= 3L && after(9L)._2 == vm)
    assert(after.values.map(_._1).toSeq.distinct.size == 4)
  }

  test("replaceWhere: kept rows stable, replacements fresh") {
    val (_, sink) = freshTracked()
    sink.commitAppend(Seq((1L, "k"), (2L, "r"), (3L, "k")).toDF("id", "t"))
    val before = idMap(sink)
    sink.replaceWhere(spark, col("t") === "r",
      Seq((20L, "r"), (21L, "r")).toDF("id", "t"))
    val after = idMap(sink)
    assert(after(1L) == before(1L) && after(3L) == before(3L),
      "replaceWhere disturbed kept rows")
    assert(Seq(20L, 21L).forall(k => after(k)._1 >= 3L))
    assert(after.values.map(_._1).toSeq.distinct.size == 4)
  }

  test("time travel and restore read the ids of their version; restore carries ids verbatim") {
    val (_, sink) = freshTracked()
    val v1 = sink.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "x"))
    sink.merge(spark, Seq((2L, "B2")).toDF("id", "x"), Seq("id"))
    val now = idMap(sink)
    val asOf = sink.readWithRowIds(spark, versionAsOf = Some(v1))
      .select(col("id"), col("_row_id"), col("_row_commit_version"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(asOf(2L)._1 == now(2L)._1,
      "the same logical row must carry one id across versions")
    assert(asOf(2L)._2 == v1 && now(2L)._2 > v1)
    sink.restore(spark, v1)
    val restored = idMap(sink)
    assert(restored == asOf, "restore must re-point ids, not reassign them")
    // appends after a restore still allocate above the high watermark
    sink.commitAppend(Seq((5L, "e")).toDF("id", "x"))
    val ids = idMap(sink).values.map(_._1).toSeq
    assert(ids.size == ids.distinct.size, "restore regressed the watermark")
  }

  test("a clone inherits ids and continues the same watermark") {
    val (_, src) = freshTracked()
    src.commitAppend(spark.range(0, 5).toDF("id"))
    src.compactSmall(spark, minFiles = 1) // materialized files in the clone
    val cloneDir = tmp()
    src.cloneTo(cloneDir)
    val clone = new ExactlyOnceSink(cloneDir)
    assert(idMap(clone) == idMap(src), "clone changed row ids")
    clone.commitAppend(spark.range(5, 8).toDF("id"))
    // the compaction's rewritten file allocated ids 5..9 for its add
    // action even though materialized values 0..4 win on read — a
    // rewrite BURNS id space rather than risk reuse (the Delta high-
    // watermark rule) — so the clone's append continues at 10
    val ids = idMap(clone).values.map(_._1).toSeq
    assert(ids.sorted == ((0L until 5L) ++ (10L until 13L)),
      s"clone watermark drifted: $ids")
  }

  test("ids, versions, and the watermark survive checkpoint + cleanupLog + a fresh instance") {
    val dir = tmp()
    val sink = new ExactlyOnceSink(dir, checkpointInterval = 4)
    sink.enableRowTracking(spark)
    (0 until 9).foreach(i =>
      sink.commitAppend(Seq((i.toLong, s"r$i")).toDF("id", "x")))
    val before = idMap(sink)
    assert(sink.cleanupLog(minAgeMs = 0L) > 0, "cleanup reclaimed nothing")
    val fresh = new ExactlyOnceSink(dir)
    assert(idMap(fresh) == before,
      "checkpoint replay lost row-id metadata")
    assert(fresh.rowIdWatermark() == Some(9L),
      "watermark must survive via the checkpoint aux")
    fresh.commitAppend(Seq((99L, "z")).toDF("id", "x"))
    val ids = idMap(fresh).values.map(_._1).toSeq
    assert(ids.size == ids.distinct.size)
  }

  test("uniqueness holds across a mixed workload; the feature is declared only on materializing commits") {
    val (dir, sink) = freshTracked()
    sink.commitAppend(spark.range(0, 20).toDF("id").repartition(4))
    sink.deleteDV(spark, col("id") % 7 === 0)
    sink.mergeDV(spark, spark.range(15, 25).toDF("id"), Seq("id"))
    sink.compactSmall(spark, minFiles = 1)
    sink.commitAppend(spark.range(40, 45).toDF("id"))
    sink.delete(spark, col("id") === 41)
    val m = idMap(sink)
    val ids = m.values.map(_._1).toSeq
    assert(ids.size == ids.distinct.size, s"duplicate row ids: $ids")
    assert(sink.read(spark).columns.forall(!_.startsWith("_graft_mat_")))
    // plain appends never declare the rowTracking reader feature (their
    // ids are additive metadata an old reader ignores harmlessly);
    // materializing rewrites must declare it
    import scala.jdk.CollectionConverters._
    val entries = {
      val s = Files.list(Paths.get(dir, "_graft_log"))
      try s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".json"))
        .map(p => Files.readString(p)).toList
      finally s.close()
    }
    val appends = entries.filter(_.contains("STREAMING UPDATE"))
    assert(appends.nonEmpty && appends.forall(!_.contains("rowTracking")))
    val compacts = entries.filter(_.contains("COMPACT_INC"))
    assert(compacts.nonEmpty && compacts.forall(_.contains("rowTracking")))
  }

  test("backfill enables tracking on a non-empty table without rewriting a byte") {
    val dir = tmp()
    val sink = new ExactlyOnceSink(dir)
    sink.commitAppend(spark.range(0, 10).toDF("id").repartition(3))
    sink.commitAppend(spark.range(10, 16).toDF("id"))
    sink.deleteDV(spark, col("id") === 4L) // a DV rides into the backfill
    val bytesBefore = withDirStream(
      Files.walk(Paths.get(dir, "data")))(_
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => p.toString -> Files.size(p)).toSet)
    val v = sink.enableRowTracking(spark, backfill = true)
    assert(v > 0)
    // metadata-only: the data tree is byte-identical
    assert(withDirStream(Files.walk(Paths.get(dir, "data")))(_
      .filter(p => p.toString.endsWith(".parquet"))
      .map(p => p.toString -> Files.size(p)).toSet) === bytesBefore)
    // every pre-existing row has an id; DV'd positions consumed ids but
    // are not served; blocks are dense over PHYSICAL rows
    val m0 = idMap(sink)
    assert(m0.keySet === ((0L until 16L).toSet - 4L))
    assert(m0.values.map(_._1).toSeq.distinct.size === 15)
    assert(sink.rowIdWatermark() === Some(16L), "watermark = physical rows")
    // rcv of backfilled rows = the commit that WROTE them, not the backfill
    assert(m0(0L)._2 === 0L && m0(15L)._2 === 1L)
    // ids are stable across a subsequent merge; updated rows keep their
    // id and take the merging commit as their new version
    val mv = sink.mergeDV(spark,
      Seq(3L, 20L).toDF("id"), Seq("id"))
    val m1 = idMap(sink)
    assert(m1(3L)._1 === m0(3L)._1, "merge changed a backfilled row's id")
    assert(m1(3L)._2 === mv)
    assert((m0.keySet - 3L).forall(k => m1(k) === m0(k)))
    assert(m1(20L)._1 >= 16L, "insert must allocate above the backfill watermark")
    // ...and across OPTIMIZE (materialization of backfilled virtual ids)
    sink.compactSmall(spark, minFiles = 1)
    assert(idMap(sink) === m1)
    // idempotent; CDC over the backfill range carries no phantom changes
    assert(sink.enableRowTracking(spark, backfill = true) === -1L)
    assert(sink.readChanges(spark, fromVersion = v - 1, toVersion = v).count() === 0)
    // restore to a PRE-enablement version: lifted files reuse the ids
    // the backfill assigned them — stability across the boundary
    sink.restore(spark, toVersion = 2L)
    val m2 = idMap(sink)
    assert(m2.keySet === ((0L until 16L).toSet - 4L))
    m2.keySet.foreach(k => assert(m2(k)._1 === m0(k)._1,
      s"restore across the enablement boundary drifted key $k's id"))
  }

  test("restore refuses a pre-backfill target lifting files that never got ids") {
    // fuzz seed 20: a file retired BEFORE the backfill ran never got a
    // block, so restoring to a version that serves it would hand its
    // surviving rows fresh ids mid-history — the sink refuses exactly
    // that subset (Delta refuses the whole protocol-boundary class)
    val dir = tmp()
    val sink = new ExactlyOnceSink(dir)
    sink.commitAppend(spark.range(0, 6).toDF("id"))    // v0: file A
    sink.compact(spark)                                // v1 retires A
    sink.enableRowTracking(spark, backfill = true)     // v2: ids for v1's file only
    val m0 = idMap(sink)
    val e = intercept[RuntimeException](sink.restore(spark, toVersion = 0L))
    assert(e.getMessage.contains("row-id stability"),
      s"expected the id-stability refusal, got: ${e.getMessage}")
    assert(idMap(sink) === m0, "the refused restore leaked state")
    // a post-enablement target still restores, ids intact
    sink.commitAppend(spark.range(6, 9).toDF("id"))
    sink.restore(spark, toVersion = 2L)
    assert(idMap(sink) === m0)
  }

  test("backfill racing a concurrent append retries and covers the rival's file") {
    // the OCC window: a rival append lands between the backfill's state
    // read and its claim — the claim fails, the retry re-reads and the
    // rival's file gets a block too (a backfill that missed it would
    // leave a tracked table with an id-less live file, which every id
    // read fails loudly on)
    val dir = tmp()
    val a = new ExactlyOnceSink(dir)
    a.commitAppend(spark.range(0, 8).toDF("id"))
    val b = new ExactlyOnceSink(dir)
    a.metaClaimHook = () => {
      a.metaClaimHook = () => ()
      b.commitAppend(spark.range(8, 12).toDF("id"))
    }
    val v = a.enableRowTracking(spark, backfill = true)
    assert(v > 0)
    val m = idMap(a)
    assert(m.keySet === (0L until 12L).toSet,
      "the rival's rows must be served with ids after the backfill")
    assert(m.values.map(_._1).toSeq.distinct.size === 12)
    assert(a.rowIdWatermark() === Some(12L))
  }

  test("plain enable racing a concurrent append refuses instead of tracking an id-less file") {
    // the emptiness check runs on every claim attempt: a rival append
    // landing between the check and the claim takes the version, and
    // the retry must see its data and refuse (a tracked table with an
    // id-less live file fails every id read)
    val dir = tmp()
    val a = new ExactlyOnceSink(dir)
    val b = new ExactlyOnceSink(dir)
    a.metaClaimHook = () => {
      a.metaClaimHook = () => ()
      b.commitAppend(spark.range(0, 4).toDF("id"))
    }
    val e = intercept[IllegalArgumentException](a.enableRowTracking(spark))
    assert(e.getMessage.contains("enable before data lands"),
      s"expected the enable-before-data refusal, got: ${e.getMessage}")
    assert(a.rowIdWatermark() === None)
    assert(new ExactlyOnceSink(dir).rowIdWatermark() === None)
    assert(a.read(spark).count() === 4L)
  }
}
