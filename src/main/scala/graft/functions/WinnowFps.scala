package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprint kernel (Schleimer/Wilkerson/Aiken 2003, the
  * MOSS algorithm): all k-char gram hashes of a document, min of every
  * w-gram window, distinct minima sorted — one per-row pass.
  *
  * The gram hash is EXACTLY the engine's portable h32 of
  * ("wn:" + substring(text, i, k)): first 4 md5 bytes as an unsigned
  * int ([[PortableHash32Kernel]]), so the identical fingerprint set is
  * computable in DuckDB as
  * `('0x'||substr(md5('wn:'||substr(text,i,k)),1,8))::BIGINT` — the
  * kernel replaces an interpreted higher-order chain
  * (transform→substr/concat/md5, transform→slice→array_min,
  * array_distinct: ~290 slice allocations and interpreted expression
  * trees per row), not the semantics. Measured on q_llm_winnow_dup at
  * sf0.1: 3.8 s interpreted chain → 2.7 s kernel → 1.4 s once the
  * scan-side parallelism fix landed with it.
  */
object WinnowKernel {
  private val WN = Array[Byte]('w', 'n', ':')

  /** text → sorted distinct winnow fingerprints (empty if the text is
    * shorter than k + w - 1 chars). r18 hot-path rewrite, value-
    * identical: one code-point→byte-offset walk over the text's UTF-8
    * bytes replaces the per-gram substring/concat/getBytes allocations
    * (the digest is fed the identical "wn:"+gram byte stream
    * incrementally), and the distinct-minima set is a primitive
    * sort+dedupe instead of a boxing HashSet<Long>. */
  def fps(text: UTF8String, k: Int, w: Int): ArrayData = {
    val n = text.numChars()
    val m = n - k + 1 // gram count
    if (m < w) return new GenericArrayData(Array.empty[Long])
    val bytes = text.getBytes
    // byte offset of each code point (UTF-8 lead-byte walk); off(n) =
    // total length, so gram i covers bytes [off(i), off(i+k))
    val off = new Array[Int](n + 1)
    var ci = 0
    var bi = 0
    while (ci < n) {
      off(ci) = bi
      // step exactly as numChars counted: malformed lead bytes (0x80-0xC1,
      // 0xF5-0xFF) step 1, so bi never overruns the buffer
      bi += UTF8String.numBytesForFirstByte(bytes(bi))
      if (bi > bytes.length) bi = bytes.length // truncated multi-byte tail
      ci += 1
    }
    off(n) = bytes.length
    val grams = new Array[Long](m)
    var i = 0
    while (i < m) {
      grams(i) = PortableHash32Kernel.hashPrefixedSlice(
        WN, bytes, off(i), off(i + k) - off(i))
      i += 1
    }
    val nw = m - w + 1
    val mins = new Array[Long](nw)
    var j = 0
    while (j < nw) {
      var mn = Long.MaxValue
      var q = j
      while (q < j + w) { if (grams(q) < mn) mn = grams(q); q += 1 }
      mins(j) = mn
      j += 1
    }
    java.util.Arrays.sort(mins)
    // in-place dedupe of the sorted window minima
    var outN = 0
    var p = 0
    while (p < nw) {
      if (outN == 0 || mins(p) != mins(outN - 1)) {
        mins(outN) = mins(p); outN += 1
      }
      p += 1
    }
    val out = new Array[Long](outN)
    System.arraycopy(mins, 0, out, 0, outN)
    new GenericArrayData(out)
  }
}

/** Native Catalyst expression over the kernel; codegen'd with
  * interpreted-eval parity (same kernel call both paths). */
case class WinnowFps(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"winnow_fps expects string, got ${t.simpleString}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fps"

  override def nullSafeEval(a: Any): Any =
    WinnowKernel.fps(a.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.WinnowKernel$$.MODULE$$.fps($a, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowFps {
  private val FN = "winnow_fps"

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      FN, exprs => {
        def intLit(e: Expression, name: String): Int = e match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => sys.error(s"winnow_fps: $name must be an int literal, got $other")
        }
        WinnowFps(exprs.head, intLit(exprs(1), "k"), intLit(exprs(2), "w"))
      }, "built-in")

  def winnowFps(spark: SparkSession, text: Column, k: Int, w: Int): Column = {
    register(spark)
    call_function(FN, text, org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.lit(w))
  }
}
