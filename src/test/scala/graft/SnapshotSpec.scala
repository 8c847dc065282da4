package graft

import java.io.InputStream
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.functions._
import graft.streaming.{CommitStore, ExactlyOnceSink}

/** The sink's cached table snapshot: an instance folds the log once and
  * then reads only what was committed since, so its answers must stay
  * equal to a fresh instance's after every kind of rival commit, and
  * the commit-store calls a verb makes must not grow with the log. */
class SnapshotSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-snap-$tag").toString

  test("a cached snapshot sees every rival commit as a fresh instance does") {
    val dir = tmp("fresh")
    def sink(appId: String) = new ExactlyOnceSink(dir, appId = appId,
      checkpointInterval = 4)
    val b = sink("b")
    b.commitAppend(Seq((0L, "a"), (1L, "b")).toDF("id", "x"))
    val a = sink("a")
    a.read(spark).count() // caches a's snapshot

    def sameAsFresh(step: String): Unit = {
      val f = sink("fresh")
      def rows(s: ExactlyOnceSink) = s.read(spark).collect().map(_.toSeq).toSet
      assert(a.read(spark).columns.toSeq === f.read(spark).columns.toSeq, step)
      assert(rows(a) === rows(f), step)
      assert(a.rowCount(spark) === f.rowCount(spark), step)
      assert(a.activeConstraints() === f.activeConstraints(), step)
      assert(a.lastStreamBatch("feed") === f.lastStreamBatch("feed"), step)
      assert(a.latestSchema() === f.latestSchema(), step)
      assert(a.verifyChecksum().map(_.toString) === f.verifyChecksum().map(_.toString), step)
    }

    b.commitAppend(Seq((2L, "c")).toDF("id", "x"))
    sameAsFresh("append")
    b.setConstraint(spark, "pos", "id >= 0")
    sameAsFresh("constraint")
    b.renameColumn("x", "y")
    sameAsFresh("rename")
    b.mergeBatch(spark, Seq((1L, "B"), (3L, "d")).toDF("id", "y"), Seq("id"),
      batchId = 7, streamAppId = "feed")
    sameAsFresh("mergeBatch")

    // a CoW merge that rebases past a rival append: its snapshot entry
    // keeps the append below it visible (snapBase < version - 1)
    val c = sink("c")
    b.txnStagedHook = () => {
      b.txnStagedHook = () => ()
      c.commitAppend(Seq((10L, "r")).toDF("id", "y"))
    }
    val rebases = b.txnRebases.get()
    b.merge(spark, Seq((0L, "A")).toDF("id", "y"), Seq("id"))
    assert(b.txnRebases.get() === rebases + 1, "the merge should have rebased")
    sameAsFresh("rebased merge")

    // commits up to and across the next checkpoint
    val log = Paths.get(dir, "_graft_log")
    var v = b.committedVersions().last
    while (v % 4 != 0) v = b.commitAppend(Seq((100L + v, "k")).toDF("id", "y"))
    assert(Files.exists(log.resolve(f"$v%020d.checkpoint")))
    sameAsFresh("checkpoint")

    assert(b.cleanupLog(minAgeMs = 0) > 0)
    sameAsFresh("cleanupLog")
    assert(a.read(spark).filter(col("id") === 10L).count() === 1)
  }

  /** A commit store that counts the LISTs and object reads made
    * through it. */
  private final class CountingStore(inner: CommitStore) extends CommitStore {
    val lists, reads = new AtomicLong
    def root: Path = inner.root
    def ensureRoot(): Unit = inner.ensureRoot()
    def putIfAbsent(name: String, text: String): Boolean = inner.putIfAbsent(name, text)
    def put(name: String, text: String): Unit = inner.put(name, text)
    def read(name: String): String = { reads.incrementAndGet(); inner.read(name) }
    def readLines(name: String): Seq[String] = { reads.incrementAndGet(); inner.readLines(name) }
    def inputStream(name: String): InputStream = { reads.incrementAndGet(); inner.inputStream(name) }
    def exists(name: String): Boolean = inner.exists(name)
    def list(): Seq[String] = { lists.incrementAndGet(); inner.list() }
    def delete(name: String): Boolean = inner.delete(name)
    def modifiedTime(name: String): Long = inner.modifiedTime(name)
    def touch(name: String): Unit = inner.touch(name)
    def gcStaging(minAgeMs: Long): Int = inner.gcStaging(minAgeMs)
  }

  test("commit-store LISTs and reads per process and per read do not grow with the log") {
    /** (LISTs, reads) per process and per live read on a warm writer,
      * then per read on a second instance that tails the five new
      * commits. */
    def calls(commits: Int): Seq[(Long, Long)] = {
      val dir = tmp(s"calls-$commits")
      val stores = scala.collection.mutable.ArrayBuffer.empty[CountingStore]
      val factory: CommitStore.Factory = p => {
        val s = new CountingStore(CommitStore.Posix(p)); stores += s; s
      }
      val w = new ExactlyOnceSink(dir, checkpointInterval = 10, storeFactory = factory)
      val ws = stores.last
      // a history of data and metadata commits: versions 0 until `commits`
      (0 until commits).foreach { v =>
        if (v % 6 == 0) w.process(Seq((v.toLong, s"d$v")).toDF("id", "x"), v)
        else w.setDomainMetadata(s"d$v", Map("v" -> v.toString))
      }
      val r = new ExactlyOnceSink(dir, storeFactory = factory)
      val rs = stores.last
      r.read(spark)
      def delta(s: CountingStore)(f: => Unit): (Long, Long) = {
        val (l, g) = (s.lists.get, s.reads.get)
        f
        (s.lists.get - l, s.reads.get - g)
      }
      // five batches: one of them lands on a checkpoint at 36 + 4
      val process = (0 until 5).map(i => delta(ws) {
        w.process(Seq((1000L + i, "p")).toDF("id", "x"), commits + i)
      })
      val read = delta(ws)(w.read(spark))
      val tail = delta(rs)(r.read(spark))
      assert(r.read(spark).count() === (0 until commits by 6).size + 5)
      assert(process.distinct.size === 1, s"process calls differ: $process")
      Seq(process.head, read, tail)
    }
    val small = calls(12)
    val large = calls(36)
    assert(small === large, "commit-store calls grew with the log")
    val Seq(process, read, tail) = large
    assert(process._1 <= 3, s"LISTs per process: ${process._1}")
    assert(read._1 <= 1, s"LISTs per read: ${read._1}")
    assert(process._2 === 0 && read._2 === 0,
      "a warm writer re-read log objects it already folded")
    assert(tail === ((1L, 5L)),
      "a second instance tails exactly the five new entries with one LIST")
  }

  test("a warm mergeBatch(mor = true) makes one LIST and no log reads") {
    val dir = tmp("merge-calls")
    var store: CountingStore = null
    val w = new ExactlyOnceSink(dir, storeFactory = p => {
      store = new CountingStore(CommitStore.Posix(p)); store })
    w.commitAppend(Seq.tabulate(20)(i => (i.toLong, s"x$i")).toDF("id", "x"))
    def merge(b: Long): Option[Long] = w.mergeBatch(spark,
      Seq((b, s"m$b"), (100L + b, "new")).toDF("id", "x"), Seq("id"), b, mor = true)
    def calls(f: => Unit): (Long, Long) = {
      val (l, r) = (store.lists.get, store.reads.get)
      f
      (store.lists.get - l, store.reads.get - r)
    }
    merge(1)
    assert(calls(assert(merge(2).isDefined)) === ((1L, 0L)),
      "a warm MOR merge re-listed or re-read the log")
    // a replay is answered from the same one snapshot
    assert(calls(assert(merge(2).isEmpty)) === ((1L, 0L)))
    assert(w.read(spark).count() === 22)
  }
}
