package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused native MinHash→LSH band-key pipeline over a shingle array —
  * semantically identical to
  * `TextOps.lshBands(TextOps.minhashFromBase(TextOps.minhashBase(sh), k), bands, rowsPerBand)`
  * but evaluated in ONE JVM call per row instead of four nested
  * interpreted higher-order lambdas (per-element expression-tree dispatch
  * with boxing). This sits on the hottest path of the library: every
  * text near-dup query (q29/q57/q72/q119) evaluates it per document, on
  * up to three plan branches.
  *
  * Bit-parity contract (NativeExprSpec asserts it against the HOF form;
  * the DuckDB oracles then hash-match both):
  *  - base hash  = first 15 hex chars of md5(shingle) as int64, mod M
  *    (≡ `pmod(conv(substr(md5(s),1,15),16,10) as long, M)` — 60 bits,
  *    always positive, so `%` ≡ `pmod`)
  *  - sig_i      = min over shingles of `(h·a_i + b_i) mod M` with the
  *    [[graft.text.TextOps.minhashParams]] affine family (products stay
  *    < 2^62 — no overflow)
  *  - band key b = `b + ":" + md5(sig[b·r+1 .. b·r+r] joined ",")` with
  *    decimal rendering, null sig positions skipped exactly as
  *    `concat_ws` skips nulls (empty shingle arrays therefore hash "")
  */
case class MinhashBands(child: Expression, k: Int, bands: Int, rowsPerBand: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = bridge.stringArrayInput
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_minhash_bands"

  @transient private lazy val params: (Array[Long], Array[Long]) = {
    val (as, bs) = graft.text.TextOps.minhashParams(k)
    (as.toArray, bs.toArray)
  }

  override def nullSafeEval(input: Any): Any =
    MinhashBands.compute(input.asInstanceOf[ArrayData], k, bands, rowsPerBand,
      params._1, params._2)

  // codegen keeps the row loop inside whole-stage codegen with ONE call
  // out to the computation — same fallback-by-reference pattern Spark
  // itself uses for complex expressions
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("mhBands", this, classOf[MinhashBands].getName)
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): MinhashBands =
    copy(child = newChild)
}

/** Fused native MinHash SIGNATURE over a shingle array — semantically
  * identical to `TextOps.minhashFromBase(TextOps.minhashBase(sh), k)`
  * (element i = min over shingles of `(h·a_i + b_i) mod M`, null when the
  * array has no valid shingle) but ONE JVM call per row instead of nested
  * interpreted higher-order lambdas evaluating md5 + conv per element
  * outside codegen. Thread dumps on the q178 shape at 100× rows showed
  * the interpreted form (`BinaryExpression.eval` / `NumberConverter`)
  * dominating every executor thread. Bit-parity with the HOF form is
  * pinned in NativeExprSpec; the signature-consuming oracles (q136,
  * q178) hash-match it end-to-end.
  */
case class MinhashSig(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = bridge.stringArrayInput
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_minhash_sig"

  @transient private lazy val params: (Array[Long], Array[Long]) = {
    val (as, bs) = graft.text.TextOps.minhashParams(k)
    (as.toArray, bs.toArray)
  }

  override def nullSafeEval(input: Any): Any =
    MinhashBands.computeSig(input.asInstanceOf[ArrayData], k, params._1, params._2)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("mhSig", this, classOf[MinhashSig].getName)
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): MinhashSig =
    copy(child = newChild)
}

/** Fused native DISTINCT 60-bit shingle-hash set — semantically identical
  * to `array_distinct(transform(sh, s => TextOps.hash64(s)))` (first 15
  * hex chars of md5 as int64, first-occurrence order) but one JVM call
  * per row instead of an interpreted md5+conv lambda per element. This is
  * the verify-set build of the whole chain family (q29/q177/q138/q57/
  * labels): the sets are only ever size-compared (`array_intersect`), but
  * first-occurrence order is preserved anyway so the expression is a
  * drop-in for the HOF form under any consumer. Null elements (never
  * produced by ShinglesExpr) are skipped, mirroring what the HOF chain
  * feeds downstream size arithmetic. Bit-parity pinned in NativeExprSpec.
  */
case class ShingleHashSet(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = bridge.stringArrayInput
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hash_set"

  override def nullSafeEval(input: Any): Any =
    MinhashBands.hashSet(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("shs", this, classOf[ShingleHashSet].getName)
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): ShingleHashSet =
    copy(child = newChild)
}

object MinhashBands {
  val M: Long = graft.text.TextOps.minhashM

  /** Distinct 60-bit hashes, first-occurrence order (≡ `array_distinct`
    * over the per-element md5 hash). */
  def hashSet(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val md = MessageDigest.getInstance("MD5")
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        md.reset()
        val dg = md.digest(arr.getUTF8String(i).getBytes)
        var h = 0L
        var j = 0
        while (j < 7) { h = (h << 8) | (dg(j) & 0xffL); j += 1 }
        h = (h << 4) | ((dg(7) & 0xf0L) >> 4)
        seen.add(java.lang.Long.valueOf(h))
      }
      i += 1
    }
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next().longValue(); k += 1 }
    new GenericArrayData(out)
  }

  private def hex(d: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < d.length) {
      val v = d(i) & 0xff
      if (v < 16) sb.append('0')
      sb.append(java.lang.Integer.toHexString(v))
      i += 1
    }
    sb.toString
  }

  /** Base-hash + k-permutation signature shared by both expressions:
    * returns (sig, sigNull). sigNull(i) = no valid shingle contributed. */
  private def sigOf(arr: ArrayData, k: Int, as: Array[Long], bs: Array[Long],
                    md: MessageDigest): (Array[Long], Array[Boolean]) = {
    val n = arr.numElements()

    // one md5 per shingle → 60-bit base hash, mod M
    val base = new Array[Long](n)
    val valid = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        md.reset()
        val dg = md.digest(arr.getUTF8String(i).getBytes)
        var h = 0L
        var j = 0
        while (j < 7) { h = (h << 8) | (dg(j) & 0xffL); j += 1 }
        h = (h << 4) | ((dg(7) & 0xf0L) >> 4) // 15 hex chars = 7.5 bytes
        base(i) = h % M
        valid(i) = true
      }
      i += 1
    }

    // k-permutation signature
    val sig = new Array[Long](k)
    val sigNull = new Array[Boolean](k)
    var t = 0
    while (t < k) {
      var mn = Long.MaxValue
      var any = false
      var p = 0
      while (p < n) {
        if (valid(p)) {
          val v = (base(p) * as(t) + bs(t)) % M
          if (v < mn) mn = v
          any = true
        }
        p += 1
      }
      sig(t) = mn
      sigNull(t) = !any
      t += 1
    }
    (sig, sigNull)
  }

  def computeSig(arr: ArrayData, k: Int,
                 as: Array[Long], bs: Array[Long]): ArrayData = {
    val md = MessageDigest.getInstance("MD5")
    val (sig, sigNull) = sigOf(arr, k, as, bs, md)
    val out = new Array[Any](k)
    var i = 0
    while (i < k) {
      out(i) = if (sigNull(i)) null else java.lang.Long.valueOf(sig(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  def compute(arr: ArrayData, k: Int, bands: Int, rowsPerBand: Int,
              as: Array[Long], bs: Array[Long]): ArrayData = {
    val md = MessageDigest.getInstance("MD5")
    val (sig, sigNull) = sigOf(arr, k, as, bs, md)

    // band keys: decimal-joined slice, md5, "b:" prefix
    val out = new Array[AnyRef](bands)
    var b = 0
    while (b < bands) {
      val sb = new java.lang.StringBuilder
      var r = 0
      var first = true
      while (r < rowsPerBand) {
        val idx = b * rowsPerBand + r
        if (idx < k && !sigNull(idx)) {
          if (!first) sb.append(',')
          sb.append(sig(idx))
          first = false
        }
        r += 1
      }
      md.reset()
      val dg = md.digest(sb.toString.getBytes(StandardCharsets.UTF_8))
      out(b) = UTF8String.fromString(b.toString + ":" + hex(dg))
      b += 1
    }
    new GenericArrayData(out)
  }
}
