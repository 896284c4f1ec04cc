package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The declarative MinHash-LSH, SimHash and winnowing formulations — pure
  * built-in expressions, auditable line by line against the DuckDB oracle
  * SQL — kept as the executable spec DedupKernelSpec compares the native
  * kernels ([[Dedup.minhashSig]], [[Dedup.minhashBands]],
  * [[Dedup.minhashOf]], [[Dedup.bandHashesOf]], [[Dedup.simhash16]],
  * [[Winnowing.fingerprints]]) to. No production path calls them: they
  * cost an md5 per shingle, bit or window where the kernels cost one per
  * token or gram.
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

  /** The per-bit HOF formulation [[Dedup.simhash16]] had through r16 —
    * SIXTEEN `aggregate` traversals, each re-computing `md5(w)` per token
    * to read one nibble (measured 10× the query median at sf0.1). The
    * executable spec of the bit semantics.
    */
  def simhash16Hof(toks: Column): Column = {
    def bitOf(w: Column, b: Int): Column = {
      val nib = (instr(lit("0123456789abcdef"),
        substring(md5(w), b / 4 + 1, 1)) - 1).cast("int")
      val shifted = Seq(8, 4, 2, 1)(b % 4)
      (nib / shifted).cast("int") % 2
    }
    (0 until 16).map { b =>
      val votes = aggregate(toks, lit(0),
        (acc, w) => acc + when(bitOf(w, b) === 1, 1).otherwise(-1))
      when(votes > 0, lit(1 << b)).otherwise(lit(0))
    }.reduce(_ + _)
  }

  /** [[Winnowing.fingerprints]] expressed purely in built-in functions —
    * one `md5` per gram, `slice`+`array_min` per window. O(len·w)
    * allocations per row vs the kernel's O(len); the shape the DuckDB
    * oracle mirrors.
    */
  def fingerprintsHof(df: DataFrame, idCol: String,
      textCol: String, k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 2 && w >= 1, s"bad k=$k w=$w")
    val text = col(textCol)
    val hashes: Column = transform(
      sequence(lit(0), length(text) - k),
      i => substring(md5(text.substr(i + 1, lit(k))), 1, 16))
    df.filter(length(text) >= k + w - 1)
      .select(col(idCol), hashes.as("_hs"))
      .select(col(idCol), transform(
        sequence(lit(0), size(col("_hs")) - w),
        j => array_min(slice(col("_hs"), j + 1, lit(w)))).as("_mins"))
      .select(col(idCol), explode(array_distinct(col("_mins"))).as("fingerprint"))
  }
}
