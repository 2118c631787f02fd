package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftinterop.ColumnInterop
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Per-position sliding-window hashes as ONE native expression.
  *
  * Semantically identical to the built-in composition
  * `transform(sequence(0, n-w), i ->
  *    conv(substring(md5(concat_ws(" ", slice(ts, i+1, w))), 1, 15), 16, 10))`
  * — the ExactSubstr window-hash derivation the DuckDB oracles spell
  * out (60-bit value = first 15 hex chars of the md5 of the
  * space-joined w-token window) — but evaluated as a tight loop with a
  * reused MessageDigest and a reused byte buffer: no per-window lambda
  * frames, no per-window array slices, no hex-string round-trip
  * (hashing dominates; the interpreted higher-order-function path was
  * the map-side cost of the whole substr-dedup family). Element i of
  * the result is the hash of tokens [i, i+w); inputs shorter than w
  * produce an empty array (the `when(size >= w, …)` guard callers had
  * to write inline disappears into the kernel).
  *
  * The [[MinHashSignature]] pattern: codegen calls straight into the
  * kernel via an object reference.
  */
case class WindowHashes(child: Expression, w: Int)
    extends UnaryExpression {

  // containsNull = false: compute reads every element without a null
  // check; split() output, what every caller passes, already qualifies
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, false) if w >= 2 => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"window_hashes expects array<string> without null elements (w >= 2), got ($t, w=$w)")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "window_hashes"

  @transient private lazy val md =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** 60-bit int from hex chars [0, 15) of the digest — byte-identical
    * to `conv(substring(md5(s), 1, 15), 16, 10)`. */
  private def hex15(digest: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 15) {
      val b = digest(i >> 1) & 0xff
      val nibble = if ((i & 1) == 0) b >> 4 else b & 0xf
      v = (v << 4) | nibble
      i += 1
    }
    v
  }

  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < w) return new GenericArrayData(Array.emptyLongArray)
    // token bytes materialized once (each token participates in up to
    // w windows — the transform/slice composition re-read them per
    // window)
    val toks = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) { toks(i) = arr.getUTF8String(i).getBytes; i += 1 }
    val digestFn = md.get()
    val out = new Array[Long](n - w + 1)
    var p = 0
    while (p <= n - w) {
      digestFn.reset()
      var j = p
      while (j < p + w) {
        if (j > p) digestFn.update(' '.toByte)
        digestFn.update(toks(j))
        j += 1
      }
      out(p) = hex15(digestFn.digest())
      p += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("windowHashExpr", this, classOf[WindowHashes].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.compute($c);")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object WindowHashFunctions {
  /** Native per-position w-token window hashes over a token array. */
  def windowHashes(tokens: Column, w: Int): Column =
    ColumnInterop.column(WindowHashes(ColumnInterop.expression(tokens), w))
}
