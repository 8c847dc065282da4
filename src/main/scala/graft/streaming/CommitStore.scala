package graft.streaming

import java.io.InputStream
import java.nio.channels.FileChannel
import java.nio.file.{FileAlreadyExistsException, Files, Path,
  StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** The narrow storage contract the commit protocol stands on — the
  * Delta LogStore / coordinated-commits analog (SURVEY.md §7.3).
  *
  * [[ExactlyOnceSink]]'s log layer performs every mutation of the
  * `_graft_log` directory through this interface; the data files
  * themselves are ordinary parquet written by Spark (an object store
  * holds those fine — visibility is gated by the log, and data dirs
  * are writer-unique, so data placement never needs atomicity).
  * The contract is exactly what real object stores offer:
  *
  *   - `putIfAbsent` — conditional create of a whole object, the ONE
  *     primitive commits require (S3 `If-None-Match: *` PUT, GCS
  *     `ifGenerationMatch=0`, ADLS ETag create). All-or-nothing: a
  *     reader never observes a partially-written object.
  *   - `put` — unconditional whole-object PUT (checkpoints, sidecars,
  *     markers; names are either writer-unique or content-idempotent).
  *   - `read` / `readLines` / `inputStream` — GET (the stream form is
  *     the ranged-GET analog for O(1) head parses).
  *   - `list` — the log prefix's object names (no order guarantee; the
  *     caller sorts). Internal/staging names (dot-prefixed) are never
  *     listed.
  *   - `exists` / `modifiedTime` / `delete` / `touch` — HEAD, DELETE,
  *     and a last-modified re-stamp (on a real store PUT time IS the
  *     stored timestamp, so `touch` degrades to a no-op there; the
  *     protocol uses it only as an ordering hint, never for
  *     correctness).
  *
  * Read-after-write consistency is assumed (true of S3/GCS/ADLS today).
  * Rename and hard-link are deliberately NOT in the contract — they are
  * the POSIX-only primitives object stores lack, and keeping them out
  * is what makes the protocol portable. Both shipped backends
  * materialize objects as plain files under the same paths, so a table
  * written through either store is readable by the other (and by
  * Spark's own file sources, e.g. the log-tailing stream).
  */
trait CommitStore {
  /** The materialized log directory (the store's "prefix"). Spark file
    * sources may read it directly — GETs need no special client. */
  def root: Path
  def ensureRoot(): Unit

  /** THE commit point: create `name` with `text` iff absent, atomically
    * and all-or-nothing. Returns false when the object already exists
    * (another writer won). Never partially visible. */
  def putIfAbsent(name: String, text: String): Boolean

  /** Unconditional whole-object PUT (create or replace, atomic
    * visibility). For writer-unique or content-idempotent names. */
  def put(name: String, text: String): Unit

  def read(name: String): String
  def readLines(name: String): Seq[String]
  def inputStream(name: String): InputStream
  def exists(name: String): Boolean
  /** Visible object names under the root (unordered; empty when the
    * root does not exist). Never includes internal dot-named staging. */
  def list(): Seq[String]
  def delete(name: String): Boolean
  def modifiedTime(name: String): Long
  /** Re-stamp `name`'s last-modified to now (ordering hint only). */
  def touch(name: String): Unit
  /** Reclaim aged INTERNAL staging objects (`.put-*.tmp` left by a
    * writer that died between the temp write and the create) — never
    * touches visible objects; the age guard keeps in-flight writers
    * safe. On a real object store uploads are not visible until
    * complete, so this degrades to a no-op (incomplete-multipart
    * lifecycle rules play the same role). Returns objects removed. */
  def gcStaging(minAgeMs: Long): Int
}

object CommitStore {
  /** Sinks take a factory, not an instance: clone verbs need a store
    * for the TARGET table's log too. */
  type Factory = Path => CommitStore
  val Posix: Factory = new PosixCommitStore(_)
  val ConditionalPut: Factory = new ConditionalPutCommitStore(_)
  /** Env-style selection (the two-JVM adversary picks per process). */
  def forName(name: String): Factory = name match {
    case "posix" => Posix
    case "cput" | "conditional-put" => ConditionalPut
    case other => sys.error(s"unknown commit store '$other' " +
      "(expected 'posix' or 'cput')")
  }
}

/** GET/HEAD/LIST/DELETE over filesystem-materialized objects — shared
  * by both backends (reads are the same everywhere; the backends differ
  * only in how a named object comes into existence atomically). */
private[streaming] abstract class FsObjectStore(val root: Path)
    extends CommitStore {
  override def ensureRoot(): Unit = Files.createDirectories(root)

  protected def path(name: String): Path = {
    // "." / ".." / NUL are rejected along with separators: sidecar names
    // are parsed from on-disk checkpoint manifests (cloneTo feeds them
    // into read/put), so a corrupted or crafted manifest must not be
    // able to address anything outside the log root.
    require(name.nonEmpty && !name.contains("/") && !name.contains("\\") &&
      name != "." && name != ".." && !name.contains("\u0000"),
      s"commit-store object names are flat: '$name'")
    root.resolve(name)
  }

  override def read(name: String): String = Files.readString(path(name))
  override def readLines(name: String): Seq[String] =
    Files.readAllLines(path(name)).asScala.toSeq
  override def inputStream(name: String): InputStream =
    Files.newInputStream(path(name))
  override def exists(name: String): Boolean = Files.exists(path(name))
  override def list(): Seq[String] = {
    if (!Files.isDirectory(root)) return Seq.empty
    val s = Files.list(root)
    try s.iterator().asScala.map(_.getFileName.toString)
      .filterNot(_.startsWith(".")).toSeq
    finally s.close()
  }
  override def delete(name: String): Boolean =
    Files.deleteIfExists(path(name))
  override def modifiedTime(name: String): Long =
    Files.getLastModifiedTime(path(name)).toMillis
  override def touch(name: String): Unit =
    Files.setLastModifiedTime(path(name),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))

  protected def tmpName(): Path =
    root.resolve(s".put-${java.util.UUID.randomUUID()}.tmp")

  override def gcStaging(minAgeMs: Long): Int = {
    if (!Files.isDirectory(root)) return 0
    val cutoff = System.currentTimeMillis() - minAgeMs
    val s = Files.list(root)
    val victims =
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.startsWith(".put-") && n.endsWith(".tmp") &&
          (try Files.getLastModifiedTime(p).toMillis <= cutoff
           catch { case _: java.io.IOException => false })
      }.toList
      finally s.close()
    victims.count(Files.deleteIfExists(_))
  }
}

/** POSIX backend: putIfAbsent = atomic hard-link of a staged temp file
  * (exclusive creation — fails iff the name exists, visible only with
  * full content); put = temp + atomic rename. This is the original
  * hard-link claim, now one implementation of the contract instead of
  * the protocol's foundation. */
final class PosixCommitStore(root0: Path) extends FsObjectStore(root0) {
  override def putIfAbsent(name: String, text: String): Boolean = {
    ensureRoot()
    val tmp = tmpName()
    Files.writeString(tmp, text)
    try { Files.createLink(path(name), tmp); true }
    catch { case _: FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)
  }

  override def put(name: String, text: String): Unit = {
    ensureRoot()
    val tmp = tmpName()
    Files.writeString(tmp, text)
    try Files.move(tmp, path(name), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    finally Files.deleteIfExists(tmp)
  }
}

/** Emulated conditional-put (object-store) backend: NO rename or link
  * semantics are exposed to the protocol — `putIfAbsent` presents
  * exactly a conditional PUT (`If-None-Match: *`): check-then-create
  * under a store-wide mutual exclusion that spans threads AND
  * processes (a JVM-global monitor per root + an OS advisory file lock
  * on `.store.lock`, the S3SingleDriverLogStore pattern Delta shipped
  * for stores that lacked native conditional PUT; a real S3/GCS/ADLS
  * deployment gets the same atomicity from the store itself and needs
  * no lock). Like any local emulator (MinIO, LocalStack), the
  * IMPLEMENTATION uses filesystem primitives — an exclusive link for
  * the conditional create ([[createObject]] — structural one-winner
  * even against writers outside the lock) and a temp write + atomic
  * rename stands in for the store's all-or-nothing object visibility —
  * but none of that leaks through the interface, which is the point:
  * the protocol fuzz passing over this backend proves the sink depends
  * only on the contract above.
  *
  * `touch` is kept (harmless locally) but documented as a no-op on a
  * real store, where PUT time is already the claim time — the protocol
  * treats the stamp as an ordering HINT only.
  *
  * Throughput note (from a since-retired store micro-benchmark): the
  * lock-serialized check-then-create makes contended claims ~3× slower
  * than the POSIX backend's bare link (8.4k vs 27.6k claims/s). That
  * is fine for a
  * COMMIT path — claims are per-version, not per-row, and a version
  * carries a whole micro-batch — so do not benchmark this store as a
  * message queue. */
final class ConditionalPutCommitStore(root0: Path)
    extends FsObjectStore(root0) {
  import ConditionalPutCommitStore._

  /** All-or-nothing object materialization (the emulator's stand-in
    * for an object store's atomic PUT visibility). */
  private def writeObject(name: String, text: String): Unit = {
    val tmp = tmpName()
    Files.writeString(tmp, text)
    try Files.move(tmp, path(name), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    finally Files.deleteIfExists(tmp)
  }

  /** Exclusive object CREATION (the conditional-PUT commit point):
    * exclusive hard-link of the staged temp, the same primitive the
    * POSIX backend claims with — NOT a rename, which on POSIX silently
    * replaces an existing target. This makes one-winner STRUCTURAL,
    * independent of lock coverage: a writer that creates the name
    * outside this store's lock (a Posix-backend writer sharing the
    * table, an unconditional put racing the claim) makes this create
    * fail instead of being silently clobbered into a two-winner split. */
  private def createObject(name: String, text: String): Boolean = {
    val tmp = tmpName()
    Files.writeString(tmp, text)
    try { Files.createLink(path(name), tmp); true }
    catch { case _: FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)
  }

  /** Store-wide mutual exclusion: JVM-global monitor (two channels in
    * one JVM may not hold overlapping OS locks) around an OS advisory
    * lock (cross-process). Held only across the exists-check + create
    * of putIfAbsent — reads never lock. The monitor is keyed on the
    * root's REAL path (symlinks resolved): two stores opened on
    * symlink-aliased spellings of one root must share the monitor, or
    * the second same-JVM FileChannel.lock() throws
    * OverlappingFileLockException instead of blocking. */
  private def withStoreLock[A](f: => A): A = {
    ensureRoot()
    val key = (try root.toRealPath()
      catch { case _: java.io.IOException => root.toAbsolutePath.normalize })
      .toString
    val monitor = monitors.computeIfAbsent(key, _ => new Object)
    monitor.synchronized {
      val ch = FileChannel.open(root.resolve(LockName),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val l = ch.lock()
        try f finally l.release()
      } finally ch.close()
    }
  }

  override def putIfAbsent(name: String, text: String): Boolean =
    withStoreLock {
      raceHook(name) // test seam: widen the check→create window
      if (Files.exists(path(name))) false
      else createObject(name, text)
    }

  override def put(name: String, text: String): Unit = {
    ensureRoot()
    writeObject(name, text)
  }

  override def list(): Seq[String] =
    super.list().filterNot(_ == LockName)
}

object ConditionalPutCommitStore {
  private val LockName = ".store.lock"
  private val monitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  /** Test seam, invoked INSIDE the critical section between the
    * existence check and the create: a spec can stall the first writer
    * here while rivals pile onto the same key, proving exactly one PUT
    * wins no matter how wide the race window is forced open. */
  @volatile private[graft] var raceHook: String => Unit = _ => ()
}
