package graft.storage

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{concat, lit, pmod}

/** The one bucket layout of both bucketed stores — every match-key pool
  * (`graft.api.Reservoir`) and both tables of a corpus store (its data
  * table and its `__idx` index group, `CorpusStore`). A table holds its
  * rows in buckets `i = pmod(key, m)` under partition labels `<m>.<i>`
  * (the corpus store appends `#source`), so the modulus m is read off the
  * manifest keys with no Spark job ([[modulusOf]]). Each table has one
  * modulus at a time, sized and grown by one rule: m starts at
  * [[deriveBase]] of the table's bytes (or the caller's floor) and, on a
  * commit whose pinned manifest has outgrown it, [[grown]] doubles it to
  * the derived power of two; that same commit rewrites every bucket and
  * drops the old labels. m never shrinks.
  */
object BucketSizing {

  /** The smallest power of two `b` with `bytes / b <= targetBytes` — each
    * bucket starts near the target. Power-of-two moduli make every growth
    * step split each bucket into whole buckets of the new modulus. A
    * CONSTANT count (the corpus store's pre-r17 16, the pools' former 64)
    * is the "partitioning tuned for one scale" anti-pattern in both
    * directions: at gate scale a 1.5 MB corpus paid 320 partition dirs of
    * commit orchestration per table, and a pool of a few thousand clusters
    * paid 192 bucket files per batch; at warehouse scale a fixed count
    * would start orders of magnitude past the target bytes. Deterministic
    * in the input bytes (no sampling), capped so a pathological byte count
    * cannot explode the dir fan-out.
    */
  def deriveBase(bytes: Long, targetBytes: Long): Int = {
    var b = 1L
    while (b * targetBytes < bytes && b < (1L << 20)) b *= 2
    b.toInt
  }

  /** The target bytes of one bucket — parameterised (`spark.graft.store.
    * baseBucketBytes`), defaulting to 64 MiB: parquet-row-group-scale
    * buckets at the warehouse, a single bucket for toy stores.
    */
  def baseBucketBytes(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.store.baseBucketBytes")
      .map(_.toLong).getOrElse(64L << 20)

  /** The growth rule: the modulus a table at modulus `current` holding
    * `bytes` (its pinned manifest's, read off filesystem metadata) commits
    * at next.
    */
  def grown(current: Int, bytes: Long, spark: SparkSession): Int =
    math.max(current, deriveBase(bytes, baseBucketBytes(spark)))

  /** the bucket label `<m>.<i>` of `key` under modulus `m` */
  def label(key: Column, m: Int): Column =
    concat(lit(s"$m."), pmod(key, lit(m)).cast("string"))

  private val Label = """(?s)(\d+)\.\d+(?:#.*)?""".r

  /** the modulus a label `<m>.<i>` or `<m>.<i>#source` names */
  def labelModulus(label: String): Option[Int] = label match {
    case Label(m) => Some(m.toInt)
    case _ => None
  }

  /** The one modulus a table's bucket labels carry (None for a table with
    * none yet). A label of another layout or labels of two moduli fail
    * loudly, naming `owner`: routing rows by a guessed modulus would
    * misplace them.
    */
  def modulusOf(owner: String, labels: Iterable[String]): Option[Int] = {
    val ms = labels.map(l => labelModulus(l).getOrElse(
      throw new IllegalStateException(s"$owner has bucket label '$l' of an " +
        "unsupported layout (expected <modulus>.<bucket>); stores written " +
        "in an older bucket layout are no longer readable"))).toSet
    if (ms.size > 1) throw new IllegalStateException(
      s"$owner mixes bucket moduli ${ms.toSeq.sorted.mkString(", ")}")
    ms.headOption
  }
}
