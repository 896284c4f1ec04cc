package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.dedup.Dedup

/** Native expression forms of the dedup kernels. A `ScalaUDF` pays a
  * CatalystTypeConverters round-trip per row (ArrayData → Seq[String] →
  * ArrayData, materializing java Strings); these expressions consume
  * `UTF8String` bytes straight out of the columnar row and emit ArrayData
  * directly. The kernels are digest-bound, so `CodegenFallback` costs
  * nothing — the win is the skipped conversion layer. Output is
  * byte-identical to the UDF forms (DedupKernelSpec pins kernel↔column
  * equivalence; the q25/q26/q30 oracle hashes pin end-to-end).
  */
object DedupExpressions {

  /** text → distinct n-word shingles (column form of [[Dedup.shinglesOf]]) */
  def shingles(text: Column, n: Int): Column =
    GraftSqlBridge.column(ShinglesExpr(GraftSqlBridge.expression(text), n))

  /** shingles → band-qualified LSH bucket hashes
    * (column form of `bandHashesOf(minhashOf(sh, k), bands, k / bands)`)
    */
  def minhashBands(shingles: Column, k: Int, bands: Int): Column =
    GraftSqlBridge.column(
      MinHashBandsExpr(GraftSqlBridge.expression(shingles), k, bands))

  /** shingles → k-element minhash signature */
  def minhashSig(shingles: Column, k: Int): Column =
    GraftSqlBridge.column(
      MinHashSigExpr(GraftSqlBridge.expression(shingles), k))

  /** text → distinct winnowing fingerprints (single-pass native form of
    * the [[graft.dedup.Winnowing]] HOF pipeline)
    */
  def winnowFingerprints(text: Column, k: Int, w: Int): Column =
    GraftSqlBridge.column(WinnowExpr(GraftSqlBridge.expression(text), k, w))

  /** tokens → 16-bit SimHash (single-pass native form of the per-bit HOF
    * aggregate chain `DedupHof.simhash16Hof`, test scope)
    */
  def simhash16(tokens: Column): Column =
    GraftSqlBridge.column(SimHash16Expr(GraftSqlBridge.expression(tokens)))
}

case class ShinglesExpr(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  require(n > 0, s"shingle length must be positive, got $n")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"shingles expects a string argument, got ${child.dataType.catalogString}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val sh = Dedup.shinglesOf(input.asInstanceOf[UTF8String].toString, n)
    new GenericArrayData(sh.map(UTF8String.fromString).toArray[Any])
  }

  override def prettyName: String = "shingles"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** base for the minhash-consuming expressions: pulls the shingle bytes out
  * of the input ArrayData without materializing Strings
  */
trait MinhashInput { self: UnaryExpression =>

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<string> shingles, got ${dt.catalogString}")
    }

  /** null elements are skipped (arrays from joins/HOFs are often typed
    * containsNull=true even when no null ever occurs)
    */
  protected def shingleBytes(input: Any): Array[Array[Byte]] = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Array[Byte]](n)
    var i = 0
    var j = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        out(j) = arr.getUTF8String(i).getBytes
        j += 1
      }
      i += 1
    }
    if (j == n) out else java.util.Arrays.copyOf(out, j)
  }
}

case class MinHashBandsExpr(child: Expression, k: Int, bands: Int)
    extends UnaryExpression with MinhashInput with CodegenFallback {

  require(k > 0 && bands > 0 && k % bands == 0,
    s"k must be a positive multiple of bands, got k=$k bands=$bands")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val bh = Dedup.bandHashesOf(
      Dedup.minhashOfBytes(shingleBytes(input), k), bands, k / bands)
    new GenericArrayData(bh.map(UTF8String.fromString).toArray[Any])
  }

  override def prettyName: String = "minhash_bands"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class MinHashSigExpr(child: Expression, k: Int)
    extends UnaryExpression with MinhashInput with CodegenFallback {

  require(k > 0, s"k must be positive, got $k")

  override def dataType: DataType = ArrayType(StringType, containsNull = true)

  override def nullSafeEval(input: Any): Any = {
    val sig = Dedup.minhashOfBytes(shingleBytes(input), k)
    new GenericArrayData(sig.map(s =>
      if (s == null) null else UTF8String.fromString(s)).toArray[Any])
  }

  override def prettyName: String = "minhash_sig"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Single-pass winnowing kernel: all k-gram md5 prefixes, the w-window
  * sliding minimum, and the per-document distinct in ONE traversal of the
  * input bytes. The HOF formulation (`DedupHof.fingerprintsHof`, kept as
  * the executable spec) pays per gram: a `substring` UTF8String copy, a
  * fresh MessageDigest inside Spark's `md5`, a 32-char hex UTF8String plus
  * its 16-char prefix copy, and per WINDOW a w-element `slice` array — all
  * inside interpreted HOF lambdas. This kernel reuses one thread-local
  * digest, compares hashes as unsigned longs (the first 8 md5 bytes —
  * lexicographic on the 16 lowercase hex chars ≡ unsigned numeric on the
  * big-endian value), takes the sliding minimum with a monotonic deque
  * (O(1) amortized per window vs O(w) slice+min), and only materializes
  * hex strings for the distinct survivors (~2/(w+1) density). Output rows
  * are byte-identical to the HOF pipeline (DedupKernelSpec property-pins
  * it; the q66 oracle hash pins it end-to-end vs DuckDB).
  *
  * Character semantics match Spark's `substring`: positions count Unicode
  * code points, and each gram is hashed over its UTF-8 bytes — the byte
  * walk below starts a character at every non-continuation byte.
  */
case class WinnowExpr(child: Expression, k: Int, w: Int)
    extends UnaryExpression with CodegenFallback {

  require(k >= 2 && w >= 1, s"bad k=$k w=$w")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"winnow_fingerprints expects a string argument, got ${child.dataType.catalogString}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val nB = bytes.length
    // char-start byte offsets, one extra slot for the end. The walk must
    // advance by the LEAD byte's declared length (UTF8String
    // .numBytesForFirstByte — exactly what numChars/substring do), not by
    // skipping continuation bytes: on malformed UTF-8 (a truncated
    // multibyte lead followed by ASCII) the two disagree, and gram
    // boundaries must match Spark's substring for the HOF/oracle parity.
    val offs = new Array[Int](nB + 1)
    var nChars = 0
    var b = 0
    while (b < nB) {
      offs(nChars) = b
      nChars += 1
      b += UTF8String.numBytesForFirstByte(bytes(b))
    }
    offs(nChars) = nB
    if (nChars < k + w - 1) return new GenericArrayData(Array.empty[Any])

    val h = nChars - k + 1
    val md = WinnowExpr.sharedMd5.get()
    val out16 = new Array[Byte](16)
    val hashes = new Array[Long](h)
    var i = 0
    while (i < h) {
      md.reset()
      md.update(bytes, offs(i), offs(i + k) - offs(i))
      md.digest(out16, 0, 16)
      hashes(i) =
        ((out16(0) & 0xffL) << 56) | ((out16(1) & 0xffL) << 48) |
        ((out16(2) & 0xffL) << 40) | ((out16(3) & 0xffL) << 32) |
        ((out16(4) & 0xffL) << 24) | ((out16(5) & 0xffL) << 16) |
        ((out16(6) & 0xffL) << 8) | (out16(7) & 0xffL)
      i += 1
    }

    // monotonic deque of indices; head holds the current window's minimum.
    // On ties the later index wins (same VALUE emitted, longer lifetime).
    val distinct = new java.util.LinkedHashSet[java.lang.Long]()
    val deque = new Array[Int](h)
    var head = 0
    var tail = 0
    var j = 0
    while (j < h) {
      while (tail > head &&
          java.lang.Long.compareUnsigned(hashes(deque(tail - 1)), hashes(j)) >= 0)
        tail -= 1
      deque(tail) = j
      tail += 1
      if (deque(head) <= j - w) head += 1
      if (j >= w - 1) distinct.add(hashes(deque(head)))
      j += 1
    }

    val arr = new Array[Any](distinct.size)
    val it = distinct.iterator()
    var x = 0
    while (it.hasNext) {
      arr(x) = UTF8String.fromString(f"${it.next().longValue()}%016x")
      x += 1
    }
    new GenericArrayData(arr)
  }

  override def prettyName: String = "winnow_fingerprints"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowExpr {
  /** MessageDigest is stateful and tasks can share a deserialized
    * expression tree in local mode — one digest per thread
    */
  private[expressions] val sharedMd5: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))
}

/** Single-pass 16-bit SimHash kernel (r17 optimization round): the HOF
  * formulation (`DedupHof.simhash16Hof`, kept as the executable
  * spec) runs SIXTEEN `aggregate` traversals of the token array — one per
  * output bit — and each lambda evaluates a full `md5(w)` just to read one
  * hex nibble, so every token is digested 16 times (measured: q26 6.5 s at
  * sf0.1, ~10× the query median). This kernel digests each token ONCE,
  * reads bits 0..15 off the first two digest bytes, and accumulates all 16
  * ±1 votes in one pass. Bit semantics are identical to the HOF chain: bit
  * b reads hex char b/4+1 (nibble = digest byte b/8, high half first) at
  * weight {8,4,2,1}(b%4) — i.e. bit b of the big-endian 16-bit value of
  * digest bytes 0..1 at position 15−b. A null token votes −1 on every bit
  * (the HOF's `when(bitOf(w) === 1, 1).otherwise(-1)` on a null md5), and
  * a NULL token ARRAY yields 0, matching the HOF's `when(votes > 0, …)
  * .otherwise(0)` on null votes — so the expression is non-nullable.
  * DedupKernelSpec property-pins HOF↔kernel equality; the q26/q37 oracle
  * hashes pin it end-to-end vs DuckDB.
  */
case class SimHash16Expr(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"simhash16 expects array<string> tokens, got ${dt.catalogString}")
    }

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val arr = child.eval(input)
    if (arr == null) return 0
    val toks = arr.asInstanceOf[ArrayData]
    val n = toks.numElements()
    val votes = new Array[Int](16)
    val md = WinnowExpr.sharedMd5.get()
    val out16 = new Array[Byte](16)
    var i = 0
    while (i < n) {
      if (toks.isNullAt(i)) {
        var b = 0
        while (b < 16) { votes(b) -= 1; b += 1 }
      } else {
        val bytes = toks.getUTF8String(i).getBytes
        md.reset()
        md.update(bytes, 0, bytes.length)
        md.digest(out16, 0, 16)
        val v = ((out16(0) & 0xff) << 8) | (out16(1) & 0xff)
        var b = 0
        while (b < 16) {
          votes(b) += (((v >>> (15 - b)) & 1) << 1) - 1
          b += 1
        }
      }
      i += 1
    }
    var sh = 0
    var b = 0
    while (b < 16) {
      if (votes(b) > 0) sh |= 1 << b
      b += 1
    }
    sh
  }

  override def prettyName: String = "simhash16"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
