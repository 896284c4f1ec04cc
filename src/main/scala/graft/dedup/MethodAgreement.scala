package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Agreement matrix between dedup methods — the meta-audit that tells a
  * pipeline owner whether the cheap screen (exact hashing) is a safe
  * proxy for the expensive one (near-dup), and how much the normalized
  * variant reveals beyond raw hashing: per document, a duplicate verdict
  * under each method, then pairwise verdict-set Jaccard and raw agreement
  * in exact ppm.
  *
  * Methods: `exact` (raw md5 group > 1), `normalized` (casefold/punct/ws-
  * collapsed md5 group > 1, [[Normalize]]), `near` (member of any exact-
  * Jaccard pair at the threshold via [[Dedup.prefixFilterJaccard]] —
  * identical documents share all shingles, so near ⊇ exact on shingle-
  * bearing docs by construction; sub-shingle-length docs can only be
  * exact/normalized).
  *
  * One corpus scan builds both hashes (persisted — the q121 lesson); the
  * near side rides the prefix-filtered pair join; the matrix itself is
  * ONE aggregate over the flag frame emitting all three method pairs.
  */
object MethodAgreement {

  def dedupMethodAgreement(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int, nearThreshold: Double): DataFrame = {
    val withH = graft.operators.Parallelism.ensure(
        df.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("_t")))
      .select(col("doc_id"), md5(col("_t")).as("_rh"),
        Normalize.contentHash(col("_t")).as("_nh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rawG = withH.groupBy(col("_rh")).agg(count(lit(1)).as("_rc"))
    val nrmG = withH.groupBy(col("_nh")).agg(count(lit(1)).as("_nc"))
    val pairs = Dedup.prefixFilterJaccard(df, idCol, textCol, shingleLen,
      nearThreshold)
    val nearIds = pairs.select(col("id1").as("doc_id"))
      .union(pairs.select(col("id2").as("doc_id")))
      .distinct().withColumn("_near", lit(true))
    val flags = withH
      .join(rawG, "_rh").join(nrmG, "_nh")
      .join(nearIds, Seq("doc_id"), "left")
      .select(col("doc_id"), (col("_rc") > 1).as("ex"), (col("_nc") > 1).as("nm"),
        coalesce(col("_near"), lit(false)).as("nr"))
    def both(a: String, b: String) = sum(when(col(a) && col(b), 1L).otherwise(0L))
    def either(a: String, b: String) = sum(when(col(a) || col(b), 1L).otherwise(0L))
    def agree(a: String, b: String) = sum(when(col(a) === col(b), 1L).otherwise(0L))
    // persist the 1-row matrix: each of the three emitted method-pair rows
    // selects from it, and without the persist every row re-runs the whole
    // upstream pair join (the q121 re-derivation lesson, 3x here)
    val m = flags.agg(count(lit(1)).as("n"),
      both("ex", "nm").as("b1"), either("ex", "nm").as("e1"), agree("ex", "nm").as("a1"),
      both("ex", "nr").as("b2"), either("ex", "nr").as("e2"), agree("ex", "nr").as("a2"),
      both("nm", "nr").as("b3"), either("nm", "nr").as("e3"), agree("nm", "nr").as("a3"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def rowOf(ma: String, mb: String, b: String, e: String, a: String) =
      m.select(lit(ma).as("method_a"), lit(mb).as("method_b"),
        col(b).as("n_both"), col(e).as("n_either"),
        when(col(e) > 0, expr(s"($b * 1000000) div $e")).as("jaccard_ppm"),
        expr(s"($a * 1000000) div n").as("agree_ppm"))
    rowOf("exact", "near", "b2", "e2", "a2")
      .unionAll(rowOf("exact", "normalized", "b1", "e1", "a1"))
      .unionAll(rowOf("normalized", "near", "b3", "e3", "a3"))
  }

  /** B³ (B-cubed, Bagga & Baldwin 1998) precision/recall/F1 of a PREDICTED
    * clustering against a GOLD clustering — the standard extrinsic dedup-
    * cluster quality number (unlike pair-counting Rand/Jaccard it weights
    * every ITEM equally, so one giant over-merged cluster can't hide
    * behind many correct small ones). Per item i with predicted cluster P
    * and gold cluster G: precision_i = |P ∩ G| / |P|, recall_i = |P ∩ G| /
    * |G|; B³P/B³R are the item means, F1 their harmonic mean.
    *
    * Exact integers with the q64 convention: per-item precision quantizes
    * as `c·10⁶ div sp` (c = the item's (pred, gold) cell size), every item
    * of a cell shares it, so the item sum is `Σ_cells c·(c·10⁶ div sp)` —
    * one (pred × gold) partial-agg'd cell count feeds everything, and the
    * means divide once at the end. No per-item state anywhere.
    *
    * Scale: cluster-size frames are cluster-cardinality-sized (can be
    * corpus-order), so they join the cell frame by KEY — partial-agg'd
    * shuffle joins, deliberately NOT broadcast.
    */
  def bcubed(df: DataFrame, predCol: org.apache.spark.sql.Column,
      goldCol: org.apache.spark.sql.Column): DataFrame = {
    val cells = df.select(predCol.cast("string").as("_p"),
        goldCol.cast("string").as("_g"))
      .groupBy(col("_p"), col("_g")).agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sp = cells.groupBy(col("_p")).agg(sum(col("c")).as("sp"))
    val sg = cells.groupBy(col("_g")).agg(sum(col("c")).as("sg"))
    cells.join(sp, "_p").join(sg, "_g")
      .agg(sum(col("c")).as("n_items"),
        sum(expr("c * (c * 1000000 div sp)")).as("_tp"),
        sum(expr("c * (c * 1000000 div sg)")).as("_tr"))
      .select(col("n_items"),
        expr("_tp div n_items").as("b3p_ppm"),
        expr("_tr div n_items").as("b3r_ppm"),
        expr("""CASE WHEN (_tp div n_items) + (_tr div n_items) > 0 THEN
               |  (2 * (_tp div n_items) * (_tr div n_items))
               |    div ((_tp div n_items) + (_tr div n_items)) END"""
          .stripMargin).as("b3f_ppm"))
  }
}
