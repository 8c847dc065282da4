package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.streaming.{Entry, ExactlyOnceSink}

/** compactSmall — incremental OPTIMIZE (bin-pack small files via
  * remove actions, no table rewrite): state preservation, live-file
  * shrink, DV materialization, CDC transparency, time travel. */
class IncrementalOptimizeSpec extends SparkSpecBase {
  import spark.implicits._

  private def newSink(tag: String): (ExactlyOnceSink, String) = {
    val dir = Files.createTempDirectory(s"graft-opt-$tag").toString
    (new ExactlyOnceSink(dir), dir)
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    if (!df.columns.contains("id")) Set.empty
    else df.select("id").collect().map(_.getLong(0)).toSet

  /** Distinct live files the current read actually scans. */
  private def liveFiles(sink: ExactlyOnceSink): Set[String] =
    sink.read(spark).inputFiles.toSet

  test("bin-packs many small appends into few files; state and history intact") {
    val (sink, _) = newSink("pack")
    (0 until 6).foreach { k =>
      sink.commitAppend(Seq((k.toLong, s"v$k")).toDF("id", "x").coalesce(1))
    }
    val before = liveFiles(sink)
    assert(before.size === 6)
    val v = sink.compactSmall(spark)
    assert(v >= 0)
    assert(ids(sink.read(spark)) === (0L until 6L).toSet)
    assert(liveFiles(sink).size < before.size, "live file count must drop")
    // originals still serve time travel
    assert(ids(sink.read(spark, versionAsOf = Some(2L))) === (0L until 3L).toSet)
    // physical-only: contributes nothing to the CDC feed
    assert(sink.readChanges(spark, v - 1, v).isEmpty)
    // below the candidate floor nothing happens
    assert(sink.compactSmall(spark, minFiles = 5) === -1L)
  }

  test("packing materializes deletion vectors away") {
    val (sink, dir) = newSink("dv")
    sink.commitAppend(Seq.tabulate(10)(i => (i.toLong, "a")).toDF("id", "x").coalesce(1))
    sink.commitAppend(Seq.tabulate(10)(i => (100L + i, "b")).toDF("id", "x").coalesce(1))
    sink.deleteDV(spark, col("id").isin(3L, 105L))
    val v = sink.compactSmall(spark)
    assert(v >= 0)
    val expect = ((0L until 10L).toSet ++ (100L until 110L).toSet) -- Set(3L, 105L)
    assert(ids(sink.read(spark)) === expect)
    // the packed commit's entry carries removes but NO dv actions (the
    // protocol readerFeatures list legitimately names "dv" — removes
    // alone require the capability — so probe the ACTION key), and the
    // packed files physically lack the deleted rows
    val entry = Files.readString(Paths.get(dir, "_graft_log", f"$v%020d.json"))
    assert(entry.contains("\"remove\"") && !entry.contains("\"dv\":{"))
    val cold = new ExactlyOnceSink(dir)
    assert(ids(cold.read(spark)) === expect)
  }

  test("incremental consumer state survives a pack") {
    val (sink, _) = newSink("cdc")
    sink.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "x").coalesce(1))
    sink.commitAppend(Seq((3L, "c")).toDF("id", "x").coalesce(1))
    sink.compactSmall(spark)
    sink.mergeDV(spark, Seq((2L, "b2")).toDF("id", "x"), Seq("id"))
    val st = sink.stateFromChanges(spark, Seq("id")).select("id", "x")
      .as[(Long, String)].collect().toMap
    assert(st === Map(1L -> "a", 2L -> "b2", 3L -> "c"))
  }

  test("big files are left alone") {
    val (sink, _) = newSink("big")
    sink.commitAppend(spark.range(0, 5000).select(col("id"),
      lit("p").as("x")).coalesce(1))
    sink.commitAppend(Seq((9000L, "q")).toDF("id", "x").coalesce(1))
    sink.commitAppend(Seq((9001L, "r")).toDF("id", "x").coalesce(1))
    val big = liveFiles(sink).filter(f =>
      Files.size(Paths.get(f.stripPrefix("file:"))) >= 4096)
    // pack only files under 4 KB: the 5000-row file survives untouched
    val v = sink.compactSmall(spark, targetBytes = 4096)
    assert(v >= 0)
    assert(big.subsetOf(liveFiles(sink)), "big files must not be rewritten")
    assert(ids(sink.read(spark)).size === 5002)
  }

  test("candidates are picked by recorded size; a legacy add without one is statted") {
    val (writer, dir) = newSink("bytes")
    writer.commitAppend(spark.range(0, 5000).select(col("id"),
      lit("p").as("x")).coalesce(1))
    writer.commitAppend(Seq((9000L, "q")).toDF("id", "x").coalesce(1))
    writer.commitAppend(Seq((9001L, "r")).toDF("id", "x").coalesce(1))
    val log = Paths.get(dir, "_graft_log")
    def entry(v: Long) = Entry.parse(Files.readString(log.resolve(f"$v%020d.json")))
    val sizes = (0L to 2L).flatMap { v =>
      val e = entry(v)
      e.adds.map(a => s"${e.dir}/${a.path}" -> Files.size(Paths.get(dir, "data", e.dir, a.path)))
    }
    // every add records its on-disk size
    assert((0L to 2L).flatMap(entry(_).adds.map(_.bytes)) == sizes.map(t => Some(t._2)))
    val small = sizes.collect { case (k, b) if b < 4096 => k }.toSet
    assert(small.size == 2 && sizes.size == 3)
    // the big file's add becomes a legacy one that records no size
    val e0 = log.resolve(f"${0L}%020d.json")
    Files.writeString(e0, Files.readString(e0).replaceAll(",\"bytes\":\\d+", ""))
    assert(entry(0).adds.map(_.bytes) == Seq(None))
    val sink = new ExactlyOnceSink(dir)
    val v = sink.compactSmall(spark, targetBytes = 4096)
    assert(v >= 0)
    assert(entry(v).removes.toSet == small, "OPTIMIZE picked other candidates")
    assert(ids(sink.read(spark)).size === 5002)
  }

  test("files a row-tracking backfill re-pointed are packed; row ids survive") {
    val (sink, _) = newSink("backfill")
    (0 until 4).foreach { k =>
      sink.commitAppend(Seq.tabulate(5)(i => (k * 10L + i, s"v$k")).toDF("id", "x").coalesce(1))
    }
    sink.enableRowTracking(spark, backfill = true)
    def rowIds(): Seq[(Long, Long, Long)] = sink.readWithRowIds(spark)
      .select("id", "_row_id", "_row_commit_version").as[(Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
    val before = rowIds()
    val files = liveFiles(sink).size
    assert(files === 4)
    assert(sink.compactSmall(spark) >= 0, "the backfilled small files were not candidates")
    assert(liveFiles(sink).size < files)
    assert(rowIds() === before)
  }

  test("compactSmall(clusterBy) z-orders the packed output; skipping prunes") {
    val (sink, _) = newSink("zpack")
    val rnd = new scala.util.Random(5)
    (0 until 8).foreach { k =>
      val rows = Seq.tabulate(500)(i =>
        (k * 500L + i, rnd.nextInt(100).toLong, rnd.nextDouble() * 1000))
      sink.commitAppend(rows.toDF("id", "u", "v").coalesce(1))
    }
    val before = sink.read(spark).select("id", "u", "v").collect().toSet
    val v = sink.compactSmall(spark, clusterBy = Seq("u", "v"),
      clusterFiles = 8)
    assert(v >= 0)
    // state byte-identical
    assert(sink.read(spark).select("id", "u", "v").collect().toSet == before)
    // the clustered output prunes on BOTH columns
    val total = sink.read(spark).inputFiles.toSet.size
    val pruned = sink.readSkippingAll(spark,
      Seq(("u", 10.0, 20.0), ("v", 100.0, 300.0))).inputFiles.toSet.size
    assert(total >= 8, s"packing produced $total file(s); nothing to prune")
    assert(pruned < total, s"z-ordered pack pruned nothing ($pruned/$total)")
  }

  test("discovered clustering survives a column RENAME (physical-name domain)") {
    val (sink, _) = newSink("rename-cluster")
    // clustered writes record graft.clustering under PHYSICAL names
    (0 until 4).foreach { _ =>
      sink.commitAppend(
        spark.range(0, 2000).toDF("a")
          .withColumn("b", pmod(col("a") * 7919, lit(2000))),
        clusterBy = Seq("a", "b"), clusterFiles = 1)
    }
    sink.renameColumn("b", "c")
    // parameterless OPTIMIZE must still discover BOTH columns — before
    // round 17 the domain held logical names, the renamed one silently
    // fell out of discovery, and the narrowed set was re-recorded
    assert(sink.compactSmall(spark, targetBytes = 64L << 20,
      clusterFiles = 4) > 0)
    val total = sink.read(spark).inputFiles.toSet
    assert(total.size >= 4)
    Seq("a", "c").foreach { col0 =>
      val kept = sink.readSkipping(spark, col0, 0, 120).inputFiles.toSet
      assert(kept.size < total.size,
        s"packed output not stats-prunable on $col0 — the renamed " +
          "clustering column was dropped from discovery")
      assert(sink.readSkipping(spark, col0, 0, 120)
        .filter(col(col0).between(0, 120)).count() === 484L)
    }
    // and the recorded domain was NOT narrowed by the maintenance pass
    assert(sink.domainMetadata("graft.clustering")
      .exists(_.get("columns").contains("a,b")),
      "OPTIMIZE re-recorded a narrowed clustering domain")
  }

  test("clustering-key EVOLUTION: re-declared key re-clusters on the next OPTIMIZE") {
    val (sink, _) = newSink("evolve-cluster")
    // life phase 1: clustered by (a, b)
    (0 until 4).foreach { _ =>
      sink.commitAppend(
        spark.range(0, 2000).toDF("a")
          .withColumn("b", pmod(col("a") * 7919, lit(2000)))
          .withColumn("c", pmod(col("a") * 4099, lit(2000))),
        clusterBy = Seq("a", "b"), clusterFiles = 1)
    }
    // life phase 2: the layout evolves — metadata-only re-declaration
    sink.setClusterBy(Seq("b", "c"))
    assert(sink.domainMetadata("graft.clustering")
      .exists(_.get("columns").contains("b,c")))
    intercept[IllegalArgumentException](sink.setClusterBy(Seq("nope")))
    // parameterless OPTIMIZE discovers the NEW key and re-clusters ALL
    // live files (targetBytes = MaxValue forces every flat file through)
    assert(sink.compactSmall(spark, targetBytes = Long.MaxValue,
      clusterFiles = 4) > 0)
    val total = sink.read(spark).inputFiles.toSet
    assert(total.size >= 4)
    // skipping now prunes on BOTH new-key columns — including c, which
    // no write ever clustered by (the re-cluster loop, not write luck)
    Seq("b", "c").foreach { c0 =>
      val kept = sink.readSkipping(spark, c0, 0, 120).inputFiles.toSet
      assert(kept.size < total.size,
        s"OPTIMIZE did not re-cluster to the evolved key (column $c0)")
      assert(sink.readSkipping(spark, c0, 0, 120)
        .filter(col(c0).between(0, 120)).count() === 484L)
    }
    // the old-files-stale-until-OPTIMIZE window: a FRESH re-declaration
    // alone must not have rewritten anything (metadata-only) — verified
    // by evolving again and checking the files are untouched until the
    // next maintenance pass
    val before = sink.read(spark).inputFiles.toSet
    sink.setClusterBy(Seq("a", "c"))
    assert(sink.read(spark).inputFiles.toSet === before,
      "setClusterBy must be metadata-only (no rewrite until OPTIMIZE)")
    // the OPTIMIZE FULL analog: a parameterless compact() discovers the
    // LATEST declared key and re-clusters the whole table — big files
    // included, unlike the incremental pass
    sink.compact(spark, clusterFiles = 4)
    val total2 = sink.read(spark).inputFiles.toSet
    assert(total2.size >= 4)
    Seq("a", "c").foreach { c0 =>
      assert(sink.readSkipping(spark, c0, 0, 120).inputFiles.size < total2.size,
        s"full OPTIMIZE did not re-cluster to the latest key (column $c0)")
      assert(sink.readSkipping(spark, c0, 0, 120)
        .filter(col(c0).between(0, 120)).count() === 484L)
    }
  }

  test("read(timestampAsOf) maps commit stamps to versions; too-early fails loudly") {
    val (sink, dir) = newSink("tsread")
    (0 until 4).foreach(k =>
      sink.commitAppend(Seq((k.toLong, s"v$k")).toDF("id", "x")))
    // the clock now lives IN the entries (in-commit timestamps): pinning
    // log-file mtimes must have no effect on time travel — prove it by
    // skewing them wildly and still resolving via the stamps
    val log = Paths.get(dir, "_graft_log")
    (0L until 4L).foreach { v =>
      Files.setLastModifiedTime(log.resolve(f"$v%020d.json"),
        java.nio.file.attribute.FileTime.fromMillis(1000L + (3 - v) * 60000))
    }
    val stamps = sink.history(spark).collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toMap
    def at(ms: Long) = ids(sink.read(spark, new java.sql.Timestamp(ms)))
    assert(at(stamps(0L)) == Set(0L))
    assert(at(stamps(1L)) == Set(0L, 1L))
    assert(at(stamps(3L) + 600000) == Set(0L, 1L, 2L, 3L))
    val e = intercept[RuntimeException](at(stamps(0L) - 1))
    assert(e.getMessage.contains("predates"))
  }
}
