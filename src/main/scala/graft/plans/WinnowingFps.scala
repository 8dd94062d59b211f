package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprint selection over a k-gram array, one pass
  * (Schleimer et al. 2003 — the MOSS scheme c87 runs): hash every
  * gram to its 8-hex-char md5 window, slide a w-window over the hash
  * sequence, keep each window's minimum. Values identical to the
  * composed form
  * `when(size(hs) < w, hs).otherwise(transform(sequence(1, n-w+1),
  * i -> array_min(slice(hs, i, w))))` with
  * `hs = transform(gs, g -> substring(md5(g), 1, 8))` — which ran
  * through interpreted higher-order functions: per gram a lambda
  * frame for the hash, then per WINDOW another frame, a slice copy
  * and an array_min scan. Here each gram is hashed once (thread-local
  * digest, [[Md5]]) and the window minima come from one tight loop;
  * duplicates within the selection are kept exactly as the HOF form
  * keeps them (the caller's array_distinct sees the same array).
  * Fewer than w hashes select all of them (the degenerate window),
  * also as before. A null gram hashes to null and a window's minimum
  * skips nulls (null only when the whole window is), as md5 and
  * array_min did. DedupSpec/PropertySpec pin the equivalence.
  */
case class WinnowingFps(child: Expression, w: Int) extends UnaryExpression {
  require(w >= 1, s"winnowing_fps window w must be >= 1, got $w")

  override def dataType: DataType = ArrayType(StringType,
    child.dataType match { case ArrayType(_, n) => n; case _ => true })
  override def prettyName: String = "winnowing_fps"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ARRAY<STRING>, got ${other.catalogString}")
  }

  def compute(in: ArrayData): ArrayData = {
    val n = in.numElements()
    val hs = new Array[AnyRef](n)
    var i = 0
    while (i < n) {
      if (!in.isNullAt(i)) {
        val md = Md5.get()
        md.update(in.getUTF8String(i).getBytes)
        // substring(md5(g), 1, 8) == hex of the digest's first 4 bytes
        val d = md.digest()
        val hex = new Array[Byte](8)
        var b = 0
        while (b < 4) {
          hex(2 * b) = HexLower((d(b) >> 4) & 0xf)
          hex(2 * b + 1) = HexLower(d(b) & 0xf)
          b += 1
        }
        hs(i) = UTF8String.fromBytes(hex)
      }
      i += 1
    }
    if (n < w) return new GenericArrayData(hs)
    val out = new Array[AnyRef](n - w + 1)
    i = 0
    while (i <= n - w) {
      var min = hs(i).asInstanceOf[UTF8String]
      var j = i + 1
      while (j < i + w) {
        val c = hs(j).asInstanceOf[UTF8String]
        if (c != null && (min == null || c.compareTo(min) < 0)) min = c
        j += 1
      }
      out(i) = min
      i += 1
    }
    new GenericArrayData(out)
  }

  private val HexLower: Array[Byte] = "0123456789abcdef".getBytes("UTF-8")

  override protected def nullSafeEval(v: Any): Any =
    compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("wfp", this,
        classOf[WinnowingFps].getName)
      s"${ev.value} = $ref.compute($c);"
    })

  override protected def withNewChildInternal(c: Expression): WinnowingFps =
    copy(child = c)
}
