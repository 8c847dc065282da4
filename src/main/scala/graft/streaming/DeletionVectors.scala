package graft.streaming

/** Deletion-vector plumbing for the merge-on-read write path
  * (ExactlyOnceSink.deleteDV / mergeDV) — the Delta Lake deletion-vector
  * analog (reference README.md:2; Delta PROTOCOL "Deletion Vectors").
  *
  * A deletion vector marks individual rows of a committed parquet file
  * as deleted WITHOUT rewriting the file: the commit entry records the
  * file's deleted row positions, and readers filter them out by position
  * (`_metadata.row_index`) — Delta's row-index filter: the scanned
  * files' sorted vectors ship in one broadcast variable keyed by
  * `_metadata.file_path`, and a row survives unless a binary search finds
  * its index in its file's vector. At 100 TB
  * this is the difference between a
  * DELETE/MERGE that touches only the files containing matched rows and
  * one that rewrites the whole table (the sink's copy-on-write
  * `delete`/`merge`, which stay available for full-rewrite semantics).
  *
  * Encoding: sorted row indices as a compact range string
  * (`"0,5,9-12"`), one per file, embedded in the commit-entry JSON.
  * Real Delta uses a roaring bitmap in a sidecar file; inline ranges
  * keep the log self-contained and human-auditable at the ~1e5-row
  * per-file vectors this sink caps DVs at (above the cap the writer
  * rewrites the file instead — same size policy Delta's writer applies,
  * where a too-large DV makes merge-on-read reads slower than the
  * rewrite it avoided).
  */
object DeletionVectors {

  /** SORTED DISTINCT row indices as inclusive consecutive runs — the
    * compact form the codec writes. */
  private def ranges(sorted: Array[Long]): Seq[(Long, Long)] = {
    if (sorted.isEmpty) return Nil
    val out = Seq.newBuilder[(Long, Long)]
    var start = sorted(0)
    var prev = sorted(0)
    var i = 1
    while (i < sorted.length) {
      val x = sorted(i)
      if (x != prev + 1) { out += ((start, prev)); start = x }
      prev = x
      i += 1
    }
    out += ((start, prev))
    out.result()
  }

  /** Encode SORTED DISTINCT row indices as a range string ("0,5,9-12").
    * Empty input encodes as "". */
  def encode(sorted: Array[Long]): String =
    ranges(sorted).map { case (a, b) =>
      if (a == b) a.toString else s"$a-$b"
    }.mkString(",")

  /** Decode a range string back to sorted row indices. */
  def decode(s: String): Array[Long] =
    if (s.isEmpty) Array.empty
    else s.split(',').flatMap { part =>
      part.split('-') match {
        case Array(a) => Array(a.toLong)
        case Array(a, b) => (a.toLong to b.toLong).toArray
        case _ => throw new IllegalArgumentException(s"bad DV range: $part")
      }
    }

  /** Union two sorted index arrays (a file's existing DV + new deletes)
    * into a sorted distinct array — the writer always records the FULL
    * vector so the log fold is latest-wins per file. */
  def union(a: Array[Long], b: Array[Long]): Array[Long] =
    (a ++ b).distinct.sorted

  /** Writer policy for one matched file: how a DELETE/MERGE commits the
    * file's matched rows. */
  sealed trait FileAction
  /** All rows matched — drop the whole file from the live set. */
  case object Remove extends FileAction
  /** Few rows matched — record a deletion vector, keep the file. */
  case object Vector extends FileAction
  /** Too many rows matched for a useful DV — rewrite the kept rows and
    * drop the original (copy-on-write for just this file). */
  case object Rewrite extends FileAction

  /** `matched` = rows of the file the transaction deletes (NEW deletes
    * only — already-deleted rows never reach the writer, it reads the
    * tombstone-filtered state); `existingDv` = rows an earlier DV
    * already deleted; `fileRows` = total physical rows (parquet footer).
    * The DV cap applies to the file's TOTAL vector, so repeated small
    * deletes cannot grow a DV without bound. */
  def classify(matched: Long, existingDv: Long, fileRows: Long,
      dvMaxRows: Int): FileAction =
    if (matched + existingDv >= fileRows) Remove
    else if (matched + existingDv <= dvMaxRows) Vector
    else Rewrite
}
