package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import graft.streaming.{AddFile, Entry, ExactlyOnceSink}

/** Per-file bloom filters, bit for bit: every add's recorded bloom must
  * equal a bitmap rebuilt on the driver from the rows of its own file —
  * k=3 probes `pmod(xxhash64(j, value-as-string), bits)`, word `p / 64`,
  * bit `p % 64`, null values hashed as the seed `j` alone — independently
  * of the writer's Spark kernel. */
class BloomSpec extends SparkSpecBase {
  import spark.implicits._

  /** Bitmap of `bits` over `values` (a column's values as strings). */
  private def reference(values: Seq[String], bits: Int): Array[Long] = {
    val words = new Array[Long](bits / 64)
    for (v <- values; j <- 0 until 3) {
      val str = Literal.create(Option(v).map(UTF8String.fromString).orNull, StringType)
      val h = new XxHash64(Seq(Literal(j), str)).eval().asInstanceOf[Long]
      val p = java.lang.Math.floorMod(h, bits.toLong)
      words((p / 64).toInt) |= 1L << (p % 64).toInt
    }
    words
  }

  /** Every add of every `.json` entry under `dir`: (data file, add). */
  private def adds(dir: String): Seq[(String, AddFile)] = {
    val log = Paths.get(dir, "_graft_log")
    withDirStream(Files.list(log))(_.toSeq)
      .filter(_.getFileName.toString.endsWith(".json")).sorted
      .map(f => Entry.parse(Files.readString(f)))
      .flatMap(e => e.adds.map(a =>
        Paths.get(dir, "data", e.dir, a.path).toString -> a))
  }

  private def rows(n: Int, from: Long) = (0 until n).map { i =>
    val id = from + i
    (id, s"k${id * 31 % 197}",
      if (id % 5 == 0) None else Some(id * 1000003L), (id % 3).toInt)
  }.toDF("id", "s", "u", "p")

  for (bits <- Seq(64, 4096, 65536)) {
    test(s"blooms are bit-exact at $bits bits: multi-file, hive-partitioned, OPTIMIZE, compact") {
      val dir = Files.createTempDirectory(s"graft-bloom-bits-$bits").toString
      val sink = new ExactlyOnceSink(dir)
      val cols = Seq("s", "u")
      sink.commitAppend(rows(600, 0).repartition(3), bloomBy = cols,
        bloomBits = bits)
      sink.commitAppend(rows(300, 1000), partitionBy = Seq("p"),
        bloomBy = cols, bloomBits = bits)
      sink.commitAppend(rows(200, 5000).coalesce(1))
      assert(sink.compactSmall(spark, targetBytes = 1L << 30) > 0)
      sink.compact(spark)
      val all = adds(dir)
      assert(all.size >= 12, s"too few files to be probative: ${all.size}")
      assert(all.exists(_._1.contains("/p=")), "no hive-partitioned file checked")
      all.foreach { case (file, a) =>
        assert(a.bloom.keySet == cols.toSet, s"$file bloom columns ${a.bloom.keySet}")
        val data = spark.read.parquet(file)
          .select(col("s"), col("u").cast("string")).collect()
        assert(data.length.toLong == a.rows.get, file)
        cols.zipWithIndex.foreach { case (c, i) =>
          val want = reference(data.map(r => r.getString(i)).toSeq, bits)
          assert(a.bloom(c).toSeq == want.toSeq, s"$file column $c at $bits bits")
        }
      }
      // nulls hash as the bare seed: a file whose `u` holds nulls sets
      // those bits, so the long column's nulls are really exercised
      assert(all.exists { case (f, _) =>
        spark.read.parquet(f).filter(col("u").isNull).count() > 0 })
    }
  }

  test("a bloom lookup runs no Spark job before its action") {
    val dir = Files.createTempDirectory("graft-bloom-nojob").toString
    val sink = new ExactlyOnceSink(dir)
    sink.commitAppend(rows(200, 0).coalesce(1), bloomBy = Seq("s"))
    sink.commitAppend(rows(200, 1000).coalesce(1))
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(Option(e.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("bloom-lookup", "lookup planning")
      val df = sink.readLookup(spark, "s", "k62")
      // the listener bus delivers in order: once the marker job is seen,
      // every job the lookup started has been seen too
      sc.setJobGroup("bloom-marker", "marker")
      spark.range(1).count()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("bloom-marker") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(groups.contains("bloom-marker"), "marker job never observed")
      assert(!groups.asScala.exists(_ == "bloom-lookup"),
        s"readLookup launched Spark jobs before its action: ${groups.asScala}")
      assert(df.filter(col("s") === "k62").count() ==
        sink.read(spark).filter(col("s") === "k62").count())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
