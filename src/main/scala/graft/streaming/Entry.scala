package graft.streaming

import org.json4s._
import org.json4s.jackson.JsonMethods

/** One `add` action of a commit entry: the file (relative to the
  * commit's dir, or data/-relative for a dir-less entry), its footer
  * min/max stats, bloom bitmaps, row count and byte size, and — under
  * row tracking — its `baseRowId` block and default row-commit-version. */
private[graft] final case class AddFile(path: String,
    stats: Map[String, (Option[String], Option[String])] = Map.empty,
    bloom: Map[String, Array[Long]] = Map.empty,
    rows: Option[Long] = None,
    baseRowId: Option[Long] = None,
    rcv: Option[Long] = None,
    bytes: Option[Long] = None)

/** The ONE model of a commit entry — the typed action set of one log
  * version (the Delta commit: txn, protocol, metaData, add/remove, dv,
  * cdc, domainMetadata, commitInfo). Writers build an `Entry`, [[ExactlyOnceSink]]'s
  * claim stamps it and writes [[Entry.render]]'s bytes; every reader
  * folds what [[Entry.parse]] returns. Fields a reader must not miss
  * are declared as reader features, DERIVED from the fields themselves
  * ([[features]]), so a writer cannot record one without the other.
  *
  * A new entry field goes here and into the two codecs below, nowhere
  * else; `EntryFormatSpec` pins the bytes against golden literals and
  * the `render(parse(text)) == text` round trip. */
private[graft] final case class Entry(version: Long,
    dir: String = "",
    snapshot: Boolean = false,
    adds: Seq[AddFile] = Nil,
    // empty renders as SNAPSHOT / STREAMING UPDATE
    op: String = "",
    // the table schema RECORDED at this commit (metaData.schemaString,
    // compact JSON) — the as-of schema authority for time-travel reads
    schemaStr: Option[String] = None,
    partitionColumns: Seq[String] = Nil,
    // the CDC change dir and its per-file stats (the `_change_data` analog)
    changeDir: Option[String] = None,
    changeAdds: Seq[AddFile] = Nil,
    // latest-wins metaData slots: Some REPLACES the active set
    constraints: Option[Map[String, String]] = None,
    generated: Option[Map[String, String]] = None,
    columnMapping: Option[Map[String, String]] = None,
    droppedCols: Option[Seq[String]] = None,
    rowIdWatermark: Option[Long] = None,
    // per-domain DELTA: Some(config) upserts the domain, None removes it
    domains: Option[Map[String, Option[Map[String, String]]]] = None,
    streamTxn: Option[(String, Long)] = None,
    restoreDirs: Seq[String] = Nil,
    removes: Seq[String] = Nil,
    dvs: Map[String, Array[Long]] = Map.empty,
    // snapshot commits: the version whose state this snapshot REPLACES
    // everything at-or-below (None = `version - 1`). A base further back
    // means the transaction rebased past rival pure appends, which stay
    // visible
    base: Option[Long] = None,
    // files of both widths are live (a type widening rode this commit)
    widened: Boolean = false,
    // the adds carry materialized row-id columns
    matFiles: Boolean = false,
    // stamped by the claim: in-commit timestamp and the claiming appId
    ict: Option[Long] = None,
    txnAppId: Option[String] = None) {
  /** Data dirs this commit makes visible: its own for ordinary
    * commits, the re-pointed source dirs for a RESTORE. */
  def dataDirs: Seq[String] = if (restoreDirs.nonEmpty) restoreDirs else Seq(dir)
  /** The snapshot's effective read version (what it replaces up to). */
  def snapBase: Long = base.getOrElse(version - 1)
  def rebased: Boolean = snapshot && base.exists(_ < version - 1)

  /** Reader features (the Delta protocol-versioning analog): the
    * capabilities WITHOUT WHICH this entry would be silently MISREAD.
    * Additive fields an old reader ignores harmlessly (ict, rows,
    * generated, baseRowId) are deliberately not listed — Delta's
    * reader-vs-writer feature split.
    *  - rebase: a rebased snapshot keeps the appends in (base, version);
    *    default-base compaction would drop their rows;
    *  - dv: removes/deletion vectors (ignoring them resurrects rows);
    *  - columnMapping: ignoring it reads dropped bytes;
    *  - restore: re-pointed dirs;
    *  - typeWidening: files of both widths are live;
    *  - rowTracking: the adds carry materialized row-id columns, which a
    *    reader unaware of them would surface as user data. */
  def features: Seq[String] = Seq(
    rebased -> "rebase",
    (removes.nonEmpty || dvs.nonEmpty) -> "dv",
    (columnMapping.exists(_.nonEmpty) || droppedCols.exists(_.nonEmpty)) ->
      "columnMapping",
    restoreDirs.nonEmpty -> "restore",
    widened -> "typeWidening",
    matFiles -> "rowTracking").collect { case (true, f) => f }
}

private[graft] object Entry {
  import Codec._

  val EmptySchema = """{"type":"struct","fields":[]}"""

  /** Reader capabilities this implementation understands; an entry
    * declaring a feature outside this set fails loudly at parse time
    * instead of being silently misread. */
  val SupportedReaderFeatures = Set("dv", "columnMapping", "restore",
    "absolutePaths", "typeWidening", "rowTracking", "rebase")

  /** The entry's log bytes — a pure function of the fields. The
    * in-commit timestamp leads (readable from the head of the line);
    * optional actions are omitted when empty, so an entry that does not
    * use a feature is byte-identical to one written before it existed. */
  def render(e: Entry): String = {
    import e._
    val opName = if (op.nonEmpty) op else if (snapshot) "SNAPSHOT" else "STREAMING UPDATE"
    def field(name: String, v: Option[String]) = v.fold("")(x => s"${str(name)}:$x,")
    def meta(name: String, v: Option[String]) = v.fold("")(x => s",${str(name)}:$x")
    "{" + field("ict", ict.map(_.toString)) +
      s""""txn":{"appId":${str(txnAppId.getOrElse(""))},"version":$version},""" +
      field("protocol", Some(features).filter(_.nonEmpty)
        .map(fs => s"""{"readerFeatures":${strs(fs)}}""")) +
      s""""snapshot":$snapshot,""" +
      field("snapshotBase", base.filter(_ => rebased).map(_.toString)) +
      s""""metaData":{"schemaString":${schemaStr.getOrElse(EmptySchema)},""" +
      s""""partitionColumns":${strs(partitionColumns)}""" +
      meta("constraints", constraints.map(strMap)) +
      meta("generated", generated.map(strMap)) +
      meta("columnMapping", columnMapping.map(strMap)) +
      meta("droppedColumns", droppedCols.map(s => strs(s.sorted))) +
      meta("rowIdWatermark", rowIdWatermark.map(_.toString)) + "}," +
      s""""dir":${str(dir)},""" +
      field("restoreDirs", Some(restoreDirs).filter(_.nonEmpty).map(strs)) +
      field("remove", Some(removes).filter(_.nonEmpty).map(r => strs(r.sorted))) +
      field("dv", Some(dvs).filter(_.nonEmpty).map(m =>
        strMap(m.map { case (k, ix) => k -> DeletionVectors.encode(ix) }))) +
      field("changeDir", changeDir.map(str)) +
      field("changeAdd", Some(changeAdds).filter(_.nonEmpty && changeDir.nonEmpty)
        .map(_.sortBy(_.path).map(a =>
          s"""{"path":${str(a.path)},"stats":${statsJson(a.stats)}}""")
          .mkString("[", ",", "]"))) +
      field("domainMetadata", domains.map(domainsJson)) +
      field("streamTxn", streamTxn.map { case (a, b) =>
        s"""{"appId":${str(a)},"batchId":$b}""" }) +
      s""""add":${adds.map(addJson).mkString("[", ",", "]")},""" +
      s""""commitInfo":{"operation":${str(opName)},"version":$version}}"""
  }

  private def addJson(a: AddFile): String =
    s"""{"path":${str(a.path)},"stats":${statsJson(a.stats)}""" +
      (if (a.bloom.isEmpty) ""
       else ",\"bloom\":" + strMap(a.bloom.map { case (c, ws) =>
         c -> ws.map(w => f"$w%016x").mkString })) +
      a.rows.fold("")(n => s""","rows":$n""") +
      a.bytes.fold("")(n => s""","bytes":$n""") +
      a.baseRowId.fold("")(b => s""","baseRowId":$b""") +
      a.rcv.fold("")(v => s""","rcv":$v""") + "}"

  /** Parse one entry. The version comes from the entry's own txn action
    * (every entry this sink writes records it); `vHint` — the log file
    * name — covers only pre-txn-era entries. */
  def parse(text: String, vHint: Long = -1L): Entry = {
    val j = JsonMethods.parse(text)
    val md = j \ "metaData"
    val v = asLong(j \ "txn" \ "version").getOrElse(vHint)
    val feats = asStrs(j \ "protocol" \ "readerFeatures").getOrElse(Nil)
    val unknown = feats.filterNot(SupportedReaderFeatures)
    require(unknown.isEmpty,
      s"commit $v requires reader feature(s) ${unknown.mkString(", ")} " +
        "this reader does not support — refusing to misread the table " +
        "(upgrade the reader)")
    def files(k: String): Seq[AddFile] = (j \ k) match {
      case JArray(items) => items.map {
        case JString(p) => AddFile(p)
        case o: JObject => AddFile(asStr(o \ "path").getOrElse(""),
          asStats(o \ "stats"),
          asStrMap(o \ "bloom").getOrElse(Map.empty).map { case (c, hx) =>
            c -> hx.grouped(16).map(java.lang.Long.parseUnsignedLong(_, 16)).toArray },
          asLong(o \ "rows"), asLong(o \ "baseRowId"), asLong(o \ "rcv"),
          asLong(o \ "bytes"))
        case _ => AddFile("")
      }
      case _ => Nil
    }
    Entry(v,
      dir = asStr(j \ "dir").getOrElse(s"batch=$v"), // pre-dir log entries
      snapshot = (j \ "snapshot") match { case JBool(b) => b; case _ => false },
      adds = files("add"),
      op = asStr(j \ "commitInfo" \ "operation").getOrElse(""),
      schemaStr = (md \ "schemaString") match {
        case o: JObject => Some(JsonMethods.compact(JsonMethods.render(o)))
        case _ => None
      },
      partitionColumns = asStrs(md \ "partitionColumns").getOrElse(Nil),
      changeDir = asStr(j \ "changeDir"),
      changeAdds = files("changeAdd"),
      constraints = asStrMap(md \ "constraints"),
      generated = asStrMap(md \ "generated"),
      columnMapping = asStrMap(md \ "columnMapping"),
      droppedCols = asStrs(md \ "droppedColumns"),
      rowIdWatermark = asLong(md \ "rowIdWatermark"),
      domains = asDomains(j \ "domainMetadata"),
      streamTxn = for (a <- asStr(j \ "streamTxn" \ "appId");
        b <- asLong(j \ "streamTxn" \ "batchId")) yield a -> b,
      restoreDirs = asStrs(j \ "restoreDirs").getOrElse(Nil),
      removes = asStrs(j \ "remove").getOrElse(Nil),
      dvs = asStrMap(j \ "dv").getOrElse(Map.empty)
        .map { case (k, r) => k -> DeletionVectors.decode(r) },
      base = asLong(j \ "snapshotBase"),
      widened = feats.contains("typeWidening"),
      matFiles = feats.contains("rowTracking"),
      ict = asLong(j \ "ict"),
      txnAppId = asStr(j \ "txn" \ "appId"))
  }
}

/** One sidecar part of a multi-part checkpoint: bare file name, entry
  * count, and the last entry's version — the two invariants a reader
  * checks before trusting the part. */
private[graft] final case class SidecarRef(name: String, entries: Int, lastVersion: Long)

/** The latest-wins metadata state a checkpoint must carry so that raw
  * log entries below it can be reclaimed (`cleanupLog`): the active
  * CHECK-constraint set, per-appId streamTxn high-water marks, generated
  * columns, column mapping, row-id watermark and metadata domains. Their
  * carrier commits may predate the last snapshot — the visible entries
  * alone cannot reproduce them. The Delta analog: checkpoints persist
  * `txn` and `metaData` actions, not just `add`s. */
private[graft] final case class CkptAux(
    constraints: Map[String, String] = Map.empty,
    cursors: Map[String, Long] = Map.empty,
    generated: Map[String, String] = Map.empty,
    columnMapping: Map[String, String] = Map.empty,
    droppedCols: Seq[String] = Nil,
    rowIdWatermark: Option[Long] = None,
    domains: Map[String, Map[String, String]] = Map.empty) {
  /** Apply the next entry's metadata actions: latest-wins per slot, max
    * per stream cursor, per-domain upsert/removal. */
  def +(c: Entry): CkptAux =
    CkptAux(
      c.constraints.getOrElse(constraints),
      c.streamTxn.fold(cursors) { case (a, b) =>
        cursors.updated(a, math.max(b, cursors.getOrElse(a, Long.MinValue)))
      },
      c.generated.getOrElse(generated),
      c.columnMapping.getOrElse(columnMapping),
      c.droppedCols.getOrElse(droppedCols),
      c.rowIdWatermark.orElse(rowIdWatermark),
      c.domains.fold(domains)(_.foldLeft(domains) {
        case (m, (d, Some(cfg))) => m.updated(d, cfg)
        case (m, (d, None)) => m - d
      }))
}

private[graft] object CkptAux {
  import Codec._

  /** A checkpoint's head line. A multipart checkpoint's head is its
    * manifest: the `sidecars` list rides inside the checkpointAux
    * object; single-file checkpoints omit the field. */
  def render(version: Long, aux: CkptAux, parts: Seq[SidecarRef] = Nil): String =
    s"""{"checkpointAux":{"version":$version,""" +
      s""""constraints":${strMap(aux.constraints)},""" +
      s""""generated":${strMap(aux.generated)},""" +
      s""""columnMapping":${strMap(aux.columnMapping)},""" +
      s""""domains":${domainsJson(aux.domains.map { case (d, c) => d -> Some(c) })},""" +
      s""""droppedColumns":${strs(aux.droppedCols.sorted)},""" +
      s""""streamTxn":${obj(aux.cursors.map { case (a, b) => a -> b.toString })}""" +
      aux.rowIdWatermark.fold("")(w => s""","rowIdWatermark":$w""") +
      (if (parts.isEmpty) ""
       else parts.map(p => s"""{"name":${str(p.name)},""" +
         s""""entries":${p.entries},"lastVersion":${p.lastVersion}}""")
         .mkString(""","sidecars":[""", ",", "]")) + "}}"

  /** (version, aux, sidecar manifest) of a checkpoint head line; None
    * when the line carries no version. Fields absent from older heads
    * parse empty. */
  def parse(line: String): Option[(Long, CkptAux, Seq[SidecarRef])] = {
    val a = JsonMethods.parse(line) \ "checkpointAux"
    asLong(a \ "version").map { v =>
      val parts = (a \ "sidecars") match {
        case JArray(items) => items.map { o =>
          (asStr(o \ "name"), asLong(o \ "entries"), asLong(o \ "lastVersion")) match {
            case (Some(n), Some(e), Some(lv)) => SidecarRef(n, e.toInt, lv)
            case _ => sys.error(s"malformed sidecar manifest entry: $o")
          }
        }
        case _ => Nil
      }
      (v, CkptAux(
        asStrMap(a \ "constraints").getOrElse(Map.empty),
        (a \ "streamTxn") match {
          case JObject(fs) => fs.collect { case (n, JInt(b)) => n -> b.toLong }.toMap
          case _ => Map.empty
        },
        asStrMap(a \ "generated").getOrElse(Map.empty),
        asStrMap(a \ "columnMapping").getOrElse(Map.empty),
        asStrs(a \ "droppedColumns").getOrElse(Nil),
        asLong(a \ "rowIdWatermark"),
        asDomains(a \ "domains").getOrElse(Map.empty)
          .collect { case (d, Some(c)) => d -> c }), parts)
    }
  }
}

/** The field codecs both formats share: JSON strings, string arrays,
  * key-sorted objects, min/max stats and domain deltas — rendered
  * compact, and read back leniently (a wrong shape reads as absent). */
private[graft] object Codec {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def strs(s: Seq[String]): String = s.map(str).mkString("[", ",", "]")
  /** Key-sorted object over already-rendered values. */
  def obj(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def strMap(m: Map[String, String]): String = obj(m.map { case (k, v) => k -> str(v) })
  def statsJson(st: Map[String, (Option[String], Option[String])]): String =
    obj(st.map { case (c, (lo, hi)) =>
      c -> s"""{"min":${lo.fold("null")(str)},"max":${hi.fold("null")(str)}}""" })
  def domainsJson(m: Map[String, Option[Map[String, String]]]): String =
    obj(m.map { case (d, cfg) => d -> cfg.fold("null")(strMap) })

  def asStr(j: JValue): Option[String] = j match { case JString(s) => Some(s); case _ => None }
  def asLong(j: JValue): Option[Long] = j match { case JInt(n) => Some(n.toLong); case _ => None }
  def asStrs(j: JValue): Option[Seq[String]] = j match {
    case JArray(items) => Some(items.collect { case JString(s) => s })
    case _ => None
  }
  def asStrMap(j: JValue): Option[Map[String, String]] = j match {
    case JObject(fs) => Some(fs.collect { case (k, JString(v)) => k -> v }.toMap)
    case _ => None
  }
  def asStats(j: JValue): Map[String, (Option[String], Option[String])] = j match {
    case JObject(fs) => fs.map { case (c, st) => c -> (asStr(st \ "min"), asStr(st \ "max")) }.toMap
    case _ => Map.empty
  }
  def asDomains(j: JValue): Option[Map[String, Option[Map[String, String]]]] = j match {
    case JObject(fs) => Some(fs.map { case (d, cfg) => d -> asStrMap(cfg) }.toMap) // null = removal
    case _ => None
  }
}
