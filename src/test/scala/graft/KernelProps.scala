package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.catalyst.util.GenericArrayData
import graft.functions.{MinHashKernel, SortedIntersectSize}

/** ScalaCheck laws for the custom evaluation kernels (SURVEY.md §5.3).
  * Pure JVM — no SparkSession — so these run fast and shrink well. */
object KernelProps extends Properties("graft.kernels") {

  private val token: Gen[String] = Gen.alphaNumStr.suchThat(_.nonEmpty)
  private val tokenSet: Gen[List[String]] =
    Gen.nonEmptyListOf(token).map(_.distinct)

  /** JVM mirror of the portable 32-bit md5 hash the queries feed the
    * kernel (TextOps.h32 % P): first 4 md5 bytes as unsigned, mod P. */
  private def h32(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    val x = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
      ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
    x % MinHashKernel.P
  }

  private def longArray(xs: Seq[String]) =
    new GenericArrayData(xs.map(s => java.lang.Long.valueOf(h32(s))).toArray[Any])

  private def sig(xs: Seq[String], n: Int = 32): Seq[Long] =
    MinHashKernel.compute(longArray(xs), n).toLongArray().toSeq

  property("minhash: permutation-invariant (set semantics)") =
    forAll(tokenSet) { xs =>
      val shuffled = scala.util.Random.shuffle(xs)
      sig(xs) == sig(shuffled)
    }

  property("minhash: equal sets => equal signatures; deterministic") =
    forAll(tokenSet) { xs => sig(xs) == sig(xs) }

  property("minhash: signature slot is min over singleton signatures") =
    forAll(tokenSet) { xs =>
      // minhash of a union = elementwise min of member minhashes
      val whole = sig(xs)
      val members = xs.map(x => sig(Seq(x)))
      val folded = members.transpose.map(_.min)
      whole == folded
    }

  property("minhash: superset signature slots never exceed subset's") =
    forAll(tokenSet, tokenSet) { (xs, ys) =>
      val s = sig((xs ++ ys).distinct)
      // adding elements can only lower (or keep) each min slot
      sig(xs).zip(s).forall { case (sub, sup) => sup <= sub }
    }

  private val sortedLongs: Gen[Array[Long]] =
    Gen.listOf(Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2))
      .map(_.distinct.sorted.toArray)

  private def interSize(a: Array[Long], b: Array[Long]): Int = {
    val expr = SortedIntersectSize(null, null)
    expr.nullSafeEval(new GenericArrayData(a), new GenericArrayData(b))
      .asInstanceOf[Int]
  }

  property("portable-hash32: native kernel == md5-hex reference") =
    forAll(token) { s =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(4)
        .map(b => f"${b & 0xff}%02x").mkString
      graft.functions.PortableHash32Kernel.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(s)) ==
        java.lang.Long.parseLong(hex, 16)
    }

  property("sorted-intersect: equals set-intersection cardinality") =
    forAll(sortedLongs, sortedLongs) { (a, b) =>
      interSize(a, b) == a.toSet.intersect(b.toSet).size
    }

  property("sorted-intersect: commutative") =
    forAll(sortedLongs, sortedLongs) { (a, b) =>
      interSize(a, b) == interSize(b, a)
    }

  property("sorted-intersect: self-intersection is cardinality") =
    forAll(sortedLongs) { a => interSize(a, a) == a.length }

  property("sorted-intersect: bounded by the smaller side") =
    forAll(sortedLongs, sortedLongs) { (a, b) =>
      interSize(a, b) <= math.min(a.length, b.length)
    }

  private val unitVec: Gen[Array[Double]] =
    Gen.listOfN(16, Gen.chooseNum(-1.0, 1.0))
      .suchThat(v => v.map(x => x * x).sum > 1e-6)
      .map(_.toArray)

  private def rpSig(v: Array[Double]): Seq[Int] = {
    val planes = graft.functions.RpLshKernel.planes(4, 8, 16, 99L)
    graft.functions.RpLshKernel
      .compute(new GenericArrayData(v), planes, 4, 8)
      .toIntArray().toSeq
  }

  property("rplsh: signature is invariant under positive scaling") =
    forAll(unitVec, Gen.chooseNum(0.001, 1000.0)) { (v, c) =>
      // sign(<cv, h>) == sign(<v, h>) for c > 0: LSH for COSINE must not
      // see vector magnitude
      rpSig(v) == rpSig(v.map(_ * c))
    }

  property("rplsh: negation flips every signature bit") =
    forAll(unitVec) { v =>
      // sign-LSH of -v is the bitwise complement (over the 8 used bits)
      // unless some projection is exactly zero (measure-zero; generator
      // values make it impossible in practice)
      rpSig(v).zip(rpSig(v.map(-_))).forall { case (a, b) => (a ^ b) == 0xFF }
    }

  property("rplsh: per-table planes are orthonormal") =
    Prop {
      val (l, bits, dim) = (3, 8, 16)
      val p = graft.functions.RpLshKernel.planes(l, bits, dim, 7L)
      (0 until l).forall { t =>
        (0 until bits).forall { i =>
          (i until bits).forall { j =>
            val dot = (0 until dim).map(k =>
              p((t * bits + i) * dim + k) * p((t * bits + j) * dim + k)).sum
            if (i == j) math.abs(dot - 1.0) < 1e-9 else math.abs(dot) < 1e-9
          }
        }
      }
    }

  property("minhash estimates Jaccard: identical sets agree on all slots") =
    forAll(tokenSet) { xs =>
      val a = sig(xs); val b = sig(scala.util.Random.shuffle(xs))
      a.zip(b).count { case (x, y) => x == y } == a.length
    }

  property("disjoint suffixed sets rarely collide on a slot") =
    Prop.forAllNoShrink(Gen.listOfN(40, token).map(_.distinct)) { xs =>
      // suffixing makes the sets disjoint; expected slot-agreement = J = 0,
      // so 32 slots should (almost) never all match
      xs.size < 2 || sig(xs.map(_ + "#L")) != sig(xs.map(_ + "#R"))
    }

  // ------------------------------------------------------------------
  // winnowing fingerprints
  // ------------------------------------------------------------------

  private val asciiText: Gen[String] =
    Gen.chooseNum(0, 120).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(('a' to 'z') :+ ' ')).map(_.mkString))

  private def winnow(s: String, k: Int = 16, w: Int = 8): Seq[Long] =
    graft.functions.WinnowKernel
      .fps(org.apache.spark.unsafe.types.UTF8String.fromString(s), k, w)
      .toLongArray().toSeq

  /** Plain-Scala reference of the declared semantics: gram hashes of
    * "wn:"+substring, min per w-window, sorted distinct. */
  private def winnowRef(s: String, k: Int = 16, w: Int = 8): Seq[Long] = {
    val m = s.length - k + 1
    if (m < w) Seq.empty
    else {
      val g = (0 until m).map(i => {
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(("wn:" + s.substring(i, i + k)).getBytes("UTF-8"))
        ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
          ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
      })
      (0 to m - w).map(j => g.slice(j, j + w).min).distinct.sorted
    }
  }

  property("winnow: kernel == declarative reference") =
    forAll(asciiText) { s => winnow(s) == winnowRef(s) }

  property("winnow: guarantee — a shared >=k+w-1 run shares a print") =
    forAll(asciiText.suchThat(_.length >= 23), asciiText, asciiText) {
      (run, pre, post) =>
        val a = pre + run + post
        val b = "x" + post + run + pre // different offsets and context
        winnow(a).toSet.intersect(winnow(b).toSet).nonEmpty
    }

  property("winnow: output is sorted distinct") =
    forAll(asciiText) { s =>
      val f = winnow(s)
      f == f.distinct.sorted
    }

  property("winnow: arbitrary (malformed UTF-8) bytes never throw") =
    forAll(Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue))) { bs =>
      val s = org.apache.spark.unsafe.types.UTF8String.fromBytes(bs.toArray)
      val f = graft.functions.WinnowKernel.fps(s, 2, 2).toLongArray().toSeq
      f == f.distinct.sorted
    }
  // ---- DeflateLen: the compression-ratio kernel ----

  private def zlen(s: String): Long =
    graft.functions.DeflateLenKernel.len(
      org.apache.spark.unsafe.types.UTF8String.fromString(s))

  property("deflate-len: deterministic (thread-local stream resets)") =
    forAll(Gen.asciiPrintableStr) { s => zlen(s) == zlen(s) }

  property("deflate-len: matches a fresh java.util.zip.Deflater") =
    forAll(Gen.asciiPrintableStr) { s =>
      val d = new java.util.zip.Deflater(
        java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
      try {
        d.setInput(s.getBytes("UTF-8")); d.finish()
        val b = new Array[Byte](16 * 1024)
        var t = 0L
        while (!d.finished()) t += d.deflate(b)
        zlen(s) == t
      } finally d.end()
    }

  property("deflate-len: repetition compresses sublinearly") =
    forAll(token) { t =>
      // 64 copies of any token deflate to well under half the raw bytes
      val rep = Seq.fill(64)(t).mkString(" ")
      zlen(rep) * 2 < rep.getBytes("UTF-8").length.toLong ||
        rep.length < 32 // degenerate ultra-short inputs have fixed overhead
    }

  private val sortedCuts: Gen[Array[Double]] =
    Gen.nonEmptyListOf(Gen.chooseNum(-1e6, 1e6)).map(_.sorted.toArray)

  private def bucketOf(v: Double, cuts: Array[Double]): Int =
    graft.functions.BucketIndex(null, null).nullSafeEval(v,
      new GenericArrayData(cuts.map(java.lang.Double.valueOf).toArray[Any]))
      .asInstanceOf[Int]

  property("bucket-index: equals the linear count of cutoffs strictly below") =
    forAll(Gen.chooseNum(-2e6, 2e6), sortedCuts) { (v, cuts) =>
      bucketOf(v, cuts) == cuts.count(_ < v)
    }

  property("bucket-index: monotone in the value") =
    forAll(Gen.chooseNum(-2e6, 2e6), Gen.chooseNum(0.0, 1e6), sortedCuts) {
      (v, d, cuts) => bucketOf(v, cuts) <= bucketOf(v + d, cuts)
    }

  property("bucket-index: range is [0, |cuts|]; exact cutoff hits go right") =
    forAll(sortedCuts) { cuts =>
      val b0 = bucketOf(cuts.head, cuts) // first cutoff: nothing strictly below
      bucketOf(Double.NegativeInfinity, cuts) == 0 &&
        bucketOf(Double.PositiveInfinity, cuts) == cuts.length &&
        b0 == 0
    }

}
