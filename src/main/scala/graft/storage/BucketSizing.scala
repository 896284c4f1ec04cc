package graft.storage

import org.apache.spark.sql.SparkSession

/** The one bucket-count rule of both bucketed stores: the corpus store's
  * AUTO base modulus (`CorpusStore`) and every match-key pool's modulus
  * (`graft.api.Reservoir`) derive from their stored bytes here.
  */
object BucketSizing {

  /** The smallest power of two `b` with `bytes / b <= targetBytes` — each
    * bucket starts near the target, and doubling splits grow the geometry
    * from there. Power-of-two bases make every later split nest cleanly
    * (the corpus store's trie; a pool's doubled modulus). A CONSTANT count
    * (the corpus store's pre-r17 16, the pools' former 64) is the
    * "partitioning tuned for one scale" anti-pattern in both directions:
    * at gate scale a 1.5 MB corpus paid 320 partition dirs of commit
    * orchestration per table, and a pool of a few thousand clusters paid
    * 192 bucket files per batch; at warehouse scale a fixed count would
    * start orders of magnitude past the target bytes. Deterministic in the
    * input bytes (no sampling), capped so a pathological byte count cannot
    * explode the dir fan-out.
    */
  def deriveBase(bytes: Long, targetBytes: Long): Int = {
    var b = 1L
    while (b * targetBytes < bytes && b < (1L << 20)) b *= 2
    b.toInt
  }

  /** The target bytes of one bucket — parameterised (`spark.graft.store.
    * baseBucketBytes`), defaulting to 64 MiB: parquet-row-group-scale
    * buckets at the warehouse, a single bucket for toy stores. It sizes
    * both stores: the corpus store's AUTO base modulus and each match-key
    * pool's bucket modulus.
    */
  def baseBucketBytes(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.store.baseBucketBytes")
      .map(_.toLong).getOrElse(64L << 20)
}
