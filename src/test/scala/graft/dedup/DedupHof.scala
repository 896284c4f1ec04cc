package graft.dedup

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The declarative MinHash-LSH formulations — pure built-in expressions,
  * auditable line by line against the DuckDB oracle SQL — kept as the
  * executable spec DedupKernelSpec compares the native kernels
  * ([[Dedup.minhashSig]], [[Dedup.minhashBands]], [[Dedup.minhashOf]],
  * [[Dedup.bandHashesOf]]) to. No production path calls them: they cost k
  * md5s per shingle where the kernels cost one.
  */
object DedupHof {

  /** MinHash signature of a shingle array: md5's first 16 hex chars parsed
    * to an unsigned 64-bit base (`conv`), multiply-add mixed per seed in
    * decimal(38,0) arithmetic (the product fits: a < 2^62, base < 2^64),
    * reduced with a numeric min, emitted as the unsigned decimal string.
    */
  def minhashSignature(sh: Column, k: Int): Column = {
    val two64 = new java.math.BigDecimal(java.math.BigInteger.ONE.shiftLeft(64))
    val elems = (0 until k).map { s =>
      val (a, b) = Dedup.mixConst(s)
      val aDec = lit(new java.math.BigDecimal(java.lang.Long.toUnsignedString(a)))
      val bDec = lit(new java.math.BigDecimal(java.lang.Long.toUnsignedString(b)))
      array_min(transform(sh, w => {
        val base = conv(substring(md5(w), 1, 16), 16, 10).cast("decimal(20,0)")
        (aDec.cast("decimal(38,0)") * base + bDec) % lit(two64)
      })).cast("decimal(20,0)").cast("string")
    }
    array(elems: _*)
  }

  /** LSH band hashes: the signature is cut into `bands` bands of `rows`
    * minhashes; each band is hashed. Docs sharing any band hash become
    * candidate pairs.
    */
  def lshBandHashes(sig: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), j =>
      struct(j.as("band"),
        md5(concat_ws(",", slice(sig, j * rows + 1, lit(rows)))).as("bhash")))
}
