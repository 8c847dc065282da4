package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.streaming.{AddFile, CkptAux, Entry, ExactlyOnceSink}

/** The commit-entry format ([[Entry]]): one model renders and parses
  * every log entry and checkpoint head. Two halves:
  *
  *  - golden literals — the on-disk bytes of each entry shape, which
  *    [[Entry.render]] must reproduce exactly (a byte drift would change
  *    every table's entries and checkpoints);
  *  - a round trip over a table driven through every verb —
  *    `render(parse(text)) == text` for every `.json` entry, every
  *    checkpoint and sidecar body line, and every checkpoint head. */
class EntryFormatSpec extends SparkSpecBase {
  import spark.implicits._

  private val sch = """{"type":"struct","fields":[{"name":"id","type":"long","nullable":true,"metadata":{}},{"name":"s","type":"string","nullable":true,"metadata":{}}]}"""
  private val (p0, p1) = ("part-0.parquet", "part-1.parquet")
  private val (h1, h2) = ("p=1/part-0.parquet", "p=2/part-1.parquet")
  private val (la, lb) = ("files/a/part-0.parquet", "batch=1-x/p=1/part-0.parquet")

  private def st(kv: (String, (String, String))*) =
    kv.map { case (c, (lo, hi)) => c -> (Option(lo), Option(hi)) }.toMap
  private def e(v: Long) = Entry(v, schemaStr = Some(sch), txnAppId = Some("graft-sink"))

  private val shapes: Seq[(String, Entry)] = Seq(
    "append" -> e(5).copy(dir = "batch=5-ab12cd34", partitionColumns = Seq("p"),
      adds = Seq(
        AddFile(h1, st("id" -> ("1", "9"), "s" -> ("a", "z")),
          bloom = Map("s" -> Array(1L, -1L)), rows = Some(3), bytes = Some(512)),
        AddFile(h2, st("id" -> ("10", "19")), rows = Some(4), bytes = Some(640)))),
    "nullStats" -> e(6).copy(dir = "files/u1", adds = Seq(
      AddFile(p0, st("id" -> (null, "5"), "s" -> ("x", null)),
        rows = Some(2), bytes = Some(100)))),
    "rebasedSnapshot" -> e(9).copy(dir = "files/u2", snapshot = true, op = "MERGE",
      adds = Seq(AddFile(p0, st("id" -> ("1", "2")), rows = Some(2), bytes = Some(300))),
      changeDir = Some("changes/u2"), changeAdds = Seq(AddFile(p0, st("id" -> ("1", "2")))),
      streamTxn = Some("app" -> 7L), widened = true, base = Some(6L)),
    "plainSnapshot" -> e(9).copy(dir = "files/u7", snapshot = true, op = "COMPACT",
      adds = Seq(AddFile(p0, st("id" -> ("1", "2")), rows = Some(2), bytes = Some(300))),
      base = Some(8L)),
    "mor" -> e(10).copy(dir = "files/u3", op = "MERGE_MOR",
      adds = Seq(AddFile(p0, st("id" -> ("3", "4")), rows = Some(2), bytes = Some(300))),
      changeDir = Some("changes/u3"),
      changeAdds = Seq(AddFile(p1), AddFile(p0, st("id" -> ("3", "4")))),
      streamTxn = Some("app" -> 8L),
      removes = Seq("files/b/part-1.parquet", "batch=1-x/part-0.parquet"),
      dvs = Map(la -> Array(0L, 1L, 2L, 5L, 9L, 10L))),
    "restoreLift" -> e(12).copy(snapshot = true, op = "RESTORE",
      adds = Seq(
        AddFile(la, st("id" -> ("1", "5")), bloom = Map("id" -> Array(42L)),
          rows = Some(7), baseRowId = Some(0), rcv = Some(1), bytes = Some(900)),
        AddFile(lb, st("s" -> ("b", "c")), rows = Some(2), baseRowId = Some(7),
          rcv = Some(2), bytes = Some(200))),
      changeDir = Some("changes/u4"), changeAdds = Seq(AddFile(p0, st("id" -> ("1", "1")))),
      restoreDirs = Seq("files/a", "batch=1-x"), removes = Seq("files/a/part-9.parquet"),
      dvs = Map(la -> Array(3L)), rowIdWatermark = Some(100), matFiles = true),
    "backfill" -> e(3).copy(snapshot = true, op = "ENABLE ROW TRACKING",
      adds = Seq(
        AddFile(la, st("id" -> ("1", "5")), rows = Some(7), baseRowId = Some(0),
          rcv = Some(1), bytes = Some(900)),
        AddFile(lb, bloom = Map("s" -> Array(7L)), rows = Some(2), baseRowId = Some(7),
          rcv = Some(2), bytes = Some(200))),
      restoreDirs = Seq("batch=1-x", "files/a"), removes = Seq("files/a/part-9.parquet"),
      dvs = Map(la -> Array(3L, 4L)), rowIdWatermark = Some(9)),
    "enableRowTracking" -> e(4).copy(op = "ENABLE ROW TRACKING", rowIdWatermark = Some(0)),
    "constraint" -> e(5).copy(op = "SET CONSTRAINT", constraints = Some(Map(
      "q\"uote" -> "s <> 'a\\b\"c'\nAND id > 0", "pos" -> "id >= 0"))),
    "generated" -> e(6).copy(op = "SET GENERATED", generated = Some(Map(
      "rid" -> "IDENTITY(1,1,0)", "day" -> "to_date(ts)"))),
    "mapping" -> e(7).copy(op = "RENAME COLUMN",
      columnMapping = Some(Map("name2" -> "name")), droppedCols = Some(Seq("z", "a"))),
    "domains" -> e(8).copy(op = "SET DOMAIN METADATA", domains = Some(Map(
      "graft.clustering" -> Some(Map("columns" -> "id,s")), "old" -> None))),
    "reserveIdentity" -> e(9).copy(op = "RESERVE IDENTITY",
      generated = Some(Map("rid" -> "IDENTITY(1,1,40,gaps)"))),
    "trackedAppend" -> e(13).copy(dir = "files/u5",
      adds = Seq(
        AddFile(p0, st("id" -> ("1", "3")), rows = Some(3), baseRowId = Some(100),
          rcv = Some(13), bytes = Some(310)),
        AddFile(p1, st("id" -> ("4", "7")), bloom = Map("s" -> Array(5L, 6L)),
          rows = Some(4), baseRowId = Some(103), rcv = Some(13), bytes = Some(320))),
      streamTxn = Some("ingest" -> 3L), widened = true, rowIdWatermark = Some(107),
      domains = Some(Map("graft.bloom" -> Some(Map("columns" -> "s", "bits" -> "4096"))))),
    "compactInc" -> e(14).copy(dir = "files/u6", op = "COMPACT_INC",
      adds = Seq(AddFile(p0, st("id" -> ("1", "7")), bloom = Map("s" -> Array(3L)),
        rows = Some(7), baseRowId = Some(100), rcv = Some(14), bytes = Some(700))),
      removes = Seq("files/u5/part-1.parquet", "files/u5/part-0.parquet"),
      matFiles = true, rowIdWatermark = Some(107),
      domains = Some(Map("graft.clustering" -> Some(Map("columns" -> "id"))))),
    "deleteMorNoAdds" -> e(15).copy(op = "DELETE_MOR", changeDir = Some("changes/u8"),
      changeAdds = Seq(AddFile(p0, st("id" -> ("2", "3")))), dvs = Map(la -> Array(1L, 2L))))

  /** Each shape's log bytes: the on-disk format existing tables' entries
    * and checkpoints already hold, which `render` must not drift from. */
  private val golden: Map[String, String] = Map(
    "append" ->
      "{\"txn\":{\"appId\":\"graft-sink\",\"version\":5},\"snapshot\":false,\"metaData\":{\"schemaString\":{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},{\"name\":\"s\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]},\"partitionColumns\":[\"p\"]},\"dir\":\"batch=5-ab12cd34\",\"add\":[{\"path\":\"p=1/part-0.parquet\",\"stats\":{\"id\":{\"min\":\"1\",\"max\":\"9\"},\"s\":{\"min\":\"a\",\"max\":\"z\"}},\"bloom\":{\"s\":\"0000000000000001ffffffffffffffff\"},\"rows\":3,\"bytes\":512},{\"path\":\"p=2/part-1.parquet\",\"stats\":{\"id\":{\"min\":\"10\",\"max\":\"19\"}},\"rows\":4,\"bytes\":640}],\"commitInfo\":{\"operation\":\"STREAMING UPDATE\",\"version\":5}}",
    "nullStats" ->
      "{\"txn\":{\"appId\":\"graft-sink\",\"version\":6},\"snapshot\":false,\"metaData\":{\"schemaString\":{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},{\"name\":\"s\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]},\"partitionColumns\":[]},\"dir\":\"files/u1\",\"add\":[{\"path\":\"part-0.parquet\",\"stats\":{\"id\":{\"min\":null,\"max\":\"5\"},\"s\":{\"min\":\"x\",\"max\":null}},\"rows\":2,\"bytes\":100}],\"commitInfo\":{\"operation\":\"STREAMING UPDATE\",\"version\":6}}",
    "rebasedSnapshot" ->
      "{\"txn\":{\"appId\":\"graft-sink\",\"version\":9},\"protocol\":{\"readerFeatures\":[\"rebase\",\"typeWidening\"]},\"snapshot\":true,\"snapshotBase\":6,\"metaData\":{\"schemaString\":{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},{\"name\":\"s\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]},\"partitionColumns\":[]},\"dir\":\"files/u2\",\"changeDir\":\"changes/u2\",\"changeAdd\":[{\"path\":\"part-0.parquet\",\"stats\":{\"id\":{\"min\":\"1\",\"max\":\"2\"}}}],\"streamTxn\":{\"appId\":\"app\",\"batchId\":7},\"add\":[{\"path\":\"part-0.parquet\",\"stats\":{\"id\":{\"min\":\"1\",\"max\":\"2\"}},\"rows\":2,\"bytes\":300}],\"commitInfo\":{\"operation\":\"MERGE\",\"version\":9}}",
    "plainSnapshot" ->
      "{\"txn\":{\"appId\":\"graft-sink\",\"version\":9},\"snapshot\":true,\"metaData\":{\"schemaString\":{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},{\"name\":\"s\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]},\"partitionColumns\":[]},\"dir\":\"files/u7\",\"add\":[{\"path\":\"part-0.parquet\",\"stats\":{\"id\":{\"min\":\"1\",\"max\":\"2\"}},\"rows\":2,\"bytes\":300}],\"commitInfo\":{\"operation\":\"COMPACT\",\"version\":9}}",
    "mor" ->
      "{\"txn\":{\"appId\":\"graft-sink\",\"version\":10},\"protocol\":{\"readerFeatures\":[\"dv\"]},\"snapshot\":false,\"metaData\":{\"schemaString\":{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},{\"name\":\"s\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]},\"partitionColumns\":[]},\"dir\":\"files/u3\",\"remove\":[\"batch=1-x/part-0.parquet\",\"files/b/part-1.parquet\"],\"dv\":{\"files/a/part-0.parquet\":\"0-2,5,9-10\"},\"changeDir\":\"changes/u3\",\"changeAdd\":[{\"path\":\"part-0.parquet\",\"stats\":{\"id\":{\"min\":\"3\",\"max\":\"4\"}}},{\"path\":\"part-1.parquet\",\"stats\":{}}],\"streamTxn\":{\"appId\":\"app\",\"batchId\":8},\"add\":[{\"path\":\"part-0.parquet\",\"stats\":{\"id\":{\"min\":\"3\",\"max\":\"4\"}},\"rows\":2,\"bytes\":300}],\"commitInfo\":{\"operation\":\"MERGE_MOR\",\"version\":10}}",
    "restoreLift" ->
      "{\"txn\":{\"appId\":\"graft-sink\",\"version\":12},\"protocol\":{\"readerFeatures\":[\"dv\",\"restore\",\"rowTracking\"]},\"snapshot\":true,\"metaData\":{\"schemaString\":{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},{\"name\":\"s\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]},\"partitionColumns\":[],\"rowIdWatermark\":100},\"dir\":\"\",\"restoreDirs\":[\"files/a\",\"batch=1-x\"],\"remove\":[\"files/a/part-9.parquet\"],\"dv\":{\"files/a/part-0.parquet\":\"3\"},\"changeDir\":\"changes/u4\",\"changeAdd\":[{\"path\":\"part-0.parquet\",\"stats\":{\"id\":{\"min\":\"1\",\"max\":\"1\"}}}],\"add\":[{\"path\":\"files/a/part-0.parquet\",\"stats\":{\"id\":{\"min\":\"1\",\"max\":\"5\"}},\"bloom\":{\"id\":\"000000000000002a\"},\"rows\":7,\"bytes\":900,\"baseRowId\":0,\"rcv\":1},{\"path\":\"batch=1-x/p=1/part-0.parquet\",\"stats\":{\"s\":{\"min\":\"b\",\"max\":\"c\"}},\"rows\":2,\"bytes\":200,\"baseRowId\":7,\"rcv\":2}],\"commitInfo\":{\"operation\":\"RESTORE\",\"version\":12}}",
    "backfill" ->
      "{\"txn\":{\"appId\":\"graft-sink\",\"version\":3},\"protocol\":{\"readerFeatures\":[\"dv\",\"restore\"]},\"snapshot\":true,\"metaData\":{\"schemaString\":{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},{\"name\":\"s\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]},\"partitionColumns\":[],\"rowIdWatermark\":9},\"dir\":\"\",\"restoreDirs\":[\"batch=1-x\",\"files/a\"],\"remove\":[\"files/a/part-9.parquet\"],\"dv\":{\"files/a/part-0.parquet\":\"3-4\"},\"add\":[{\"path\":\"files/a/part-0.parquet\",\"stats\":{\"id\":{\"min\":\"1\",\"max\":\"5\"}},\"rows\":7,\"bytes\":900,\"baseRowId\":0,\"rcv\":1},{\"path\":\"batch=1-x/p=1/part-0.parquet\",\"stats\":{},\"bloom\":{\"s\":\"0000000000000007\"},\"rows\":2,\"bytes\":200,\"baseRowId\":7,\"rcv\":2}],\"commitInfo\":{\"operation\":\"ENABLE ROW TRACKING\",\"version\":3}}",
    "enableRowTracking" ->
      "{\"txn\":{\"appId\":\"graft-sink\",\"version\":4},\"snapshot\":false,\"metaData\":{\"schemaString\":{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},{\"name\":\"s\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]},\"partitionColumns\":[],\"rowIdWatermark\":0},\"dir\":\"\",\"add\":[],\"commitInfo\":{\"operation\":\"ENABLE ROW TRACKING\",\"version\":4}}",
    "constraint" ->
      "{\"txn\":{\"appId\":\"graft-sink\",\"version\":5},\"snapshot\":false,\"metaData\":{\"schemaString\":{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},{\"name\":\"s\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]},\"partitionColumns\":[],\"constraints\":{\"pos\":\"id >= 0\",\"q\\\"uote\":\"s <> 'a\\\\b\\\"c'\\u000aAND id > 0\"}},\"dir\":\"\",\"add\":[],\"commitInfo\":{\"operation\":\"SET CONSTRAINT\",\"version\":5}}",
    "generated" ->
      "{\"txn\":{\"appId\":\"graft-sink\",\"version\":6},\"snapshot\":false,\"metaData\":{\"schemaString\":{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},{\"name\":\"s\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]},\"partitionColumns\":[],\"generated\":{\"day\":\"to_date(ts)\",\"rid\":\"IDENTITY(1,1,0)\"}},\"dir\":\"\",\"add\":[],\"commitInfo\":{\"operation\":\"SET GENERATED\",\"version\":6}}",
    "mapping" ->
      "{\"txn\":{\"appId\":\"graft-sink\",\"version\":7},\"protocol\":{\"readerFeatures\":[\"columnMapping\"]},\"snapshot\":false,\"metaData\":{\"schemaString\":{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},{\"name\":\"s\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]},\"partitionColumns\":[],\"columnMapping\":{\"name2\":\"name\"},\"droppedColumns\":[\"a\",\"z\"]},\"dir\":\"\",\"add\":[],\"commitInfo\":{\"operation\":\"RENAME COLUMN\",\"version\":7}}",
    "domains" ->
      "{\"txn\":{\"appId\":\"graft-sink\",\"version\":8},\"snapshot\":false,\"metaData\":{\"schemaString\":{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},{\"name\":\"s\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]},\"partitionColumns\":[]},\"dir\":\"\",\"domainMetadata\":{\"graft.clustering\":{\"columns\":\"id,s\"},\"old\":null},\"add\":[],\"commitInfo\":{\"operation\":\"SET DOMAIN METADATA\",\"version\":8}}",
    "reserveIdentity" ->
      "{\"txn\":{\"appId\":\"graft-sink\",\"version\":9},\"snapshot\":false,\"metaData\":{\"schemaString\":{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},{\"name\":\"s\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]},\"partitionColumns\":[],\"generated\":{\"rid\":\"IDENTITY(1,1,40,gaps)\"}},\"dir\":\"\",\"add\":[],\"commitInfo\":{\"operation\":\"RESERVE IDENTITY\",\"version\":9}}",
    "trackedAppend" ->
      "{\"txn\":{\"appId\":\"graft-sink\",\"version\":13},\"protocol\":{\"readerFeatures\":[\"typeWidening\"]},\"snapshot\":false,\"metaData\":{\"schemaString\":{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},{\"name\":\"s\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]},\"partitionColumns\":[],\"rowIdWatermark\":107},\"dir\":\"files/u5\",\"domainMetadata\":{\"graft.bloom\":{\"bits\":\"4096\",\"columns\":\"s\"}},\"streamTxn\":{\"appId\":\"ingest\",\"batchId\":3},\"add\":[{\"path\":\"part-0.parquet\",\"stats\":{\"id\":{\"min\":\"1\",\"max\":\"3\"}},\"rows\":3,\"bytes\":310,\"baseRowId\":100,\"rcv\":13},{\"path\":\"part-1.parquet\",\"stats\":{\"id\":{\"min\":\"4\",\"max\":\"7\"}},\"bloom\":{\"s\":\"00000000000000050000000000000006\"},\"rows\":4,\"bytes\":320,\"baseRowId\":103,\"rcv\":13}],\"commitInfo\":{\"operation\":\"STREAMING UPDATE\",\"version\":13}}",
    "compactInc" ->
      "{\"txn\":{\"appId\":\"graft-sink\",\"version\":14},\"protocol\":{\"readerFeatures\":[\"dv\",\"rowTracking\"]},\"snapshot\":false,\"metaData\":{\"schemaString\":{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},{\"name\":\"s\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]},\"partitionColumns\":[],\"rowIdWatermark\":107},\"dir\":\"files/u6\",\"remove\":[\"files/u5/part-0.parquet\",\"files/u5/part-1.parquet\"],\"domainMetadata\":{\"graft.clustering\":{\"columns\":\"id\"}},\"add\":[{\"path\":\"part-0.parquet\",\"stats\":{\"id\":{\"min\":\"1\",\"max\":\"7\"}},\"bloom\":{\"s\":\"0000000000000003\"},\"rows\":7,\"bytes\":700,\"baseRowId\":100,\"rcv\":14}],\"commitInfo\":{\"operation\":\"COMPACT_INC\",\"version\":14}}",
    "deleteMorNoAdds" ->
      "{\"txn\":{\"appId\":\"graft-sink\",\"version\":15},\"protocol\":{\"readerFeatures\":[\"dv\"]},\"snapshot\":false,\"metaData\":{\"schemaString\":{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},{\"name\":\"s\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]},\"partitionColumns\":[]},\"dir\":\"\",\"dv\":{\"files/a/part-0.parquet\":\"1-2\"},\"changeDir\":\"changes/u8\",\"changeAdd\":[{\"path\":\"part-0.parquet\",\"stats\":{\"id\":{\"min\":\"2\",\"max\":\"3\"}}}],\"add\":[],\"commitInfo\":{\"operation\":\"DELETE_MOR\",\"version\":15}}"
  )

  test("render reproduces the golden bytes of every entry shape") {
    assert(shapes.map(_._1).toSet === golden.keySet)
    shapes.foreach { case (name, entry) =>
      assert(Entry.render(entry) === golden(name), s"[$name] bytes drifted")
      assert(Entry.render(Entry.parse(golden(name))) === golden(name),
        s"[$name] does not round-trip")
    }
    // a claim-stamped entry leads with its in-commit timestamp
    val stamped = Entry.render(shapes.head._2.copy(ict = Some(1700000000000L)))
    assert(stamped === "{\"ict\":1700000000000," + golden("append").drop(1))
    // reader features are derived: a rebase to `version - 1` is no rebase
    assert(!golden("plainSnapshot").contains("snapshotBase"))
  }

  /** Every log object of `dir` whose lines are entries or heads:
    * (name, lines). */
  private def logLines(dir: String): Seq[(String, Seq[String])] = {
    val log = Paths.get(dir, "_graft_log")
    withDirStream(Files.list(log))(_.toSeq).map(_.getFileName.toString)
      .filter(n => n.endsWith(".json") || n.endsWith(".checkpoint") ||
        n.endsWith(".sidecar"))
      .sorted
      .map(n => n -> Files.readAllLines(log.resolve(n)).toArray.toSeq
        .map(_.toString).filter(_.nonEmpty))
  }

  private def assertRoundTrips(dir: String): (Int, Int, Int) = {
    var (entries, heads, sidecars) = (0, 0, 0)
    logLines(dir).foreach { case (name, lines) =>
      val body =
        if (!name.endsWith(".checkpoint")) lines
        else {
          val (v, aux, parts) = CkptAux.parse(lines.head).get
          assert(CkptAux.render(v, aux, parts) === lines.head, s"$name head")
          heads += 1
          if (parts.nonEmpty) sidecars += parts.size
          lines.tail
        }
      body.foreach { text =>
        assert(Entry.render(Entry.parse(text)) === text, s"$name entry")
        entries += 1
      }
    }
    (entries, heads, sidecars)
  }

  test("every verb's entries, checkpoint lines and heads round-trip byte for byte") {
    val dir = Files.createTempDirectory("graft-entryfmt").toString
    // small checkpoint parts so some checkpoints split into sidecars
    val s = new ExactlyOnceSink(dir, checkpointInterval = 3,
      checkpointPartBytes = 3000)
    def rows(from: Int, n: Int) =
      (from until from + n).map(i => (i.toLong, s"v$i", i)).toDF("id", "s", "n")
    s.process(rows(0, 4), 0L)                                      // v0
    s.commitAppend(rows(4, 4), clusterBy = Seq("id"), clusterFiles = 2,
      bloomBy = Seq("s"))                                          // v1
    s.appendBatch(rows(8, 3), 1L, streamAppId = "feed")            // v2
    s.commitAppend(rows(11, 2).withColumn("n", col("n").cast("long")),
      mergeSchema = true)                                          // v3 widen
    s.setConstraint(spark, "pos", "id >= 0 AND s <> 'a\\\\b\"c'")  // v4
    s.dropConstraint("pos")
    s.setGeneratedColumn(spark, "n", "CAST(id AS BIGINT)")
    s.dropGeneratedColumn("n")
    s.setDomainMetadata("app.d", Map("k" -> "1"))
    s.removeDomainMetadata("app.d")
    s.setClusterBy(Seq("s"))
    s.merge(spark, rows(2, 3).withColumn("s", lit("m")), Seq("id"),
      streamTxn = Some("feed" -> 2L))
    s.deleteDV(spark, col("id") === 9L)
    s.mergeDV(spark, rows(10, 2).withColumn("s", lit("dv")), Seq("id"))
    s.enableRowTracking(spark, backfill = true)
    val afterEnable = s.commitAppend(rows(20, 3))
    s.compactSmall(spark, minFiles = 2)
    s.delete(spark, col("id") === 0L)
    s.replaceWhere(spark, col("id") === 1L, rows(1, 1))
    s.compact(spark)
    s.transactSnapshot(spark)(_.filter(col("id") =!= 2L))
    s.restore(spark, toVersion = afterEnable)
    s.renameColumn("s", "s2")
    s.dropColumn("s2")
    s.commitAppend(rows(30, 2).drop("s"))
    // the verbs that need an empty table: a second one (plain row
    // tracking enable, an allow-gaps identity's reserve + data commits)
    val idDir = Files.createTempDirectory("graft-entryfmt-id").toString
    val ids = new ExactlyOnceSink(idDir, checkpointInterval = 3)
    ids.enableRowTracking(spark)
    ids.setIdentityColumn(spark, "rid", allowGaps = true)
    ids.commitAppend(rows(0, 3))
    ids.commitAppend(rows(3, 3))

    val (n, heads, sidecars) = assertRoundTrips(dir)
    assert(n > s.committedVersions().size, "checkpoint lines were not covered")
    assert(heads >= 8 && sidecars > 0, s"$heads heads, $sidecars sidecars")
    assert(assertRoundTrips(idDir)._1 >= ids.committedVersions().size)
  }
}
