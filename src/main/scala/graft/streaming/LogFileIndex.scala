package graft.streaming

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference,
  Cast, Expression, FileSourceConstantMetadataStructField, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata,
  HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, MapType,
  StringType, StructField, StructType}

/** The files a commit log keeps live, as Spark's `FileIndex` (the Delta
  * `TahoeFileIndex` analog): the log is the file list, so a scan never
  * lists or stats a directory. One partition directory per file, in the
  * order given, with the file's hive partition values; `listFiles`
  * evaluates partition filters against them, so a predicate on a
  * partition column prunes files before the scan opens them. Each file's
  * listing entry also carries what the log knows about it
  * ([[LogFileIndex.Consts]]), which a scan reads as `_metadata` fields. */
private[streaming] final case class LogFileIndex(root: HPath, partitionSchema: StructType,
    parts: Seq[PartitionDirectory]) extends FileIndex {
  def rootPaths: Seq[HPath] = Seq(root)
  def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    if (partitionFilters.isEmpty) parts
    else {
      val keep = Predicate.createInterpreted(partitionFilters.reduce(And).transform {
        case a: AttributeReference =>
          val i = partitionSchema.indexWhere(_.name == a.name)
          BoundReference(i, partitionSchema(i).dataType, nullable = true)
      })
      parts.filter(p => keep.eval(p.values))
    }
  def inputFiles: Array[String] = parts.flatMap(_.files).map(_.getPath.toUri.toString).toArray
  def refresh(): Unit = ()
  def sizeInBytes: Long = parts.flatMap(_.files).map(_.getLen).sum
}

/** Parquet whose `_metadata` struct also holds the per-file constants
  * of [[LogFileIndex.Consts]]. Spark fills them from each file's listing
  * entry, as it fills `file_path`, so they never enter the plan: the code
  * generated for a scan is the same whatever the files hold (Delta
  * surfaces its row-tracking base id and default commit version the same
  * way). */
private[streaming] final class LogFileFormat extends ParquetFileFormat {
  override def metadataSchemaFields: Seq[StructField] =
    super.metadataSchemaFields ++ LogFileIndex.Consts.fields
}

private[streaming] object LogFileIndex {
  /** One data file to scan: its absolute path, real byte length (the
    * parquet reader finds the footer from it), the dir segments below its
    * source dir, which hold its hive `k=v` partition values, and its
    * `_metadata` constants. */
  final case class File(path: java.nio.file.Path, length: Long, partDirs: String,
      consts: Consts)

  /** What the log knows about a file, read by a scan as
    * `_metadata.<field>`: its log key (`log_key`), the version of the
    * commit that added it (`log_version`), and its row-tracking base id
    * (`base_row_id`, null without one) and default row-commit version
    * (`default_row_commit_version`). */
  final case class Consts(key: String, version: Int, baseRowId: Option[Long], rcv: Long) {
    def values: Map[String, Any] = Map("log_key" -> key, "log_version" -> version,
      "base_row_id" -> baseRowId.map(Long.box).orNull, "default_row_commit_version" -> rcv)
  }

  object Consts {
    val fields: Seq[StructField] = Seq(
      FileSourceConstantMetadataStructField("log_key", StringType, nullable = false),
      FileSourceConstantMetadataStructField("log_version", IntegerType, nullable = false),
      FileSourceConstantMetadataStructField("base_row_id", LongType, nullable = true),
      FileSourceConstantMetadataStructField("default_row_commit_version", LongType,
        nullable = false))
  }

  /** Hive partition values of `f` (column → value; the default-partition
    * marker reads null), unescaped with Spark's hive rules. */
  def partitionValues(f: File): Seq[(String, String)] =
    f.partDirs.split('/').toSeq.flatMap { seg =>
      seg.indexOf('=') match {
        case i if i > 0 =>
          val v = ExternalCatalogUtils.unescapePathName(seg.drop(i + 1))
          Some(seg.take(i) -> (if (v == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null else v))
        case _ => None
      }
    }

  /** `f` as Hadoop sees it, under its qualified `file:/abs/path` name:
    * the form a scan reports in `_metadata.file_path`, URI-encoded
    * ([[filePath]]). */
  def status(f: File): FileStatus =
    new FileStatus(f.length, false, 1, 32L << 20, 0L, new HPath("file", null, f.path.toString))

  def filePath(f: File): String = status(f).getPath.toUri.toString

  /** `files` read with the physical data `schema`, as one parquet
    * relation per set of partition columns, in order of first appearance.
    * Partition values are cast to their type in `types` (string when it
    * has none); a partition column is never read from the files. */
  def scan(spark: SparkSession, root: HPath, schema: StructType, types: StructType,
      files: Seq[File]): Seq[DataFrame] = {
    val tz = Option(SQLConf.get.sessionLocalTimeZone)
    val parsed = files.map(f => f -> partitionValues(f))
    parsed.map(_._2.map(_._1)).distinct.map { cols =>
      val partSchema = nullable(StructType(cols.map(c =>
        types.find(_.name == c).getOrElse(StructField(c, StringType)))))
      val parts = parsed.filter(_._2.map(_._1) == cols).map { case (f, vs) =>
        PartitionDirectory(InternalRow.fromSeq(vs.zip(partSchema).map { case ((_, v), t) =>
          if (v == null) null else Cast(Literal(v), t.dataType, tz).eval() }),
          Seq(FileStatusWithMetadata(status(f), f.consts.values)))
      }
      spark.baseRelationToDataFrame(HadoopFsRelation(
        LogFileIndex(root, partSchema, parts), partSchema,
        nullable(StructType(schema.filterNot(f => cols.contains(f.name)))), None,
        new LogFileFormat, Map.empty)(spark))
    }
  }

  /** `t` with every field, element and value nullable, as Spark reads a
    * user-given file schema: a file written before a column existed has
    * no such column, which a non-nullable read schema rejects. */
  private def nullable[T <: DataType](t: T): T = (t match {
    case StructType(fs) =>
      StructType(fs.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case ArrayType(e, _) => ArrayType(nullable(e), containsNull = true)
    case MapType(k, v, _) => MapType(nullable(k), nullable(v), valueContainsNull = true)
    case other => other
  }).asInstanceOf[T]

  /** The schema of `files`' footers: the first file's, or with
    * `mergeSchema` all of them merged. */
  def infer(spark: SparkSession, files: Seq[File], mergeSchema: Boolean): StructType =
    new ParquetFileFormat().inferSchema(spark, Map("mergeSchema" -> mergeSchema.toString),
      files.map(status)).getOrElse(StructType(Nil))
}
