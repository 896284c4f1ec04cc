package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MinHash-LSH parameter planner: the S-curve P(candidate | jaccard s) =
  * 1 − (1 − s^r)^b evaluated over a similarity grid for each candidate
  * (bands b, rows r) layout — the table that picks the q25 configuration
  * for a target threshold before burning a 100 TB pass (read off each
  * layout's false-negative rate above the threshold and candidate-volume
  * rate below it).
  *
  * Everything is exact integer arithmetic in ppm: powers are left-folds of
  * `x ← ⌊x·s_ppm/10⁶⌋` (a per-row Catalyst HOF over `sequence`), so the
  * probabilities are engine-reproducible (the DuckDB oracle replays the
  * same fold with a recursive CTE) and any two runs agree bit-for-bit —
  * the floor bias is ≤ r+b ppm, far inside planning tolerance.
  *
  * Scale: the output is |configs| × |grid| rows; no shuffle at all (the
  * grid cross join is a broadcast of a literal frame).
  */
object LshPlanner {

  /** Integer-ppm x^n via HOF fold: acc ← ⌊acc·x_ppm/10⁶⌋ applied n times.
    * The long product is ≤ 10¹² < 2⁵³, so the double division's floor is
    * exact — bit-identical to DuckDB's integer `//`. */
  private def powPpm(xPpm: org.apache.spark.sql.Column,
      n: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(sequence(lit(1), n), lit(1000000L),
      (acc, _) => floor((acc * xPpm) / lit(1000000L)).cast("long"))

  /** Empirical recall of a MinHash-LSH band layout against EXACT Jaccard,
    * bucketed by similarity decile — the measured counterpart of
    * [[sCurve]]'s prediction and the accept-or-retune gate before a
    * production dedup pass trusts a layout (the q94 pattern, for the text
    * side). One shingle scan feeds BOTH sides (the q119 lesson): the exact
    * pair set is the shared-shingle equi-join (never all-pairs — pairs
    * with zero shared shingles have jaccard 0 and can't reach
    * `minJacPpm`), the candidate set is the band-bucket equi-join q25
    * ships ([[Dedup.candidatePairs]]).
    *
    * At 100 TB the exact side is the expensive half — run the audit on a
    * hash-sampled slice (q39) exactly like the ANN recall audit; the
    * recall estimate needs thousands of pairs, not the corpus.
    */
  def empiricalRecallCurve(docs: DataFrame, idCol: String, textCol: String,
      shingleLen: Int, numHashes: Int, bands: Int,
      minJacPpm: Long): DataFrame = {
    require(minJacPpm > 0 && minJacPpm <= 1000000L, s"bad minJacPpm $minJacPpm")
    val sh = Dedup.docShingles(docs, idCol, textCol, shingleLen)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val words = sh.select(col("doc_id"), size(col("sh")).as("n"),
      explode(col("sh")).as("w"))
    val exact = words.as("a").join(words.as("b"),
        col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("inter"), max(col("a.n")).as("_n1"),
        max(col("b.n")).as("_n2"))
      .select(col("id1"), col("id2"),
        expr("(inter * 1000000) div (_n1 + _n2 - inter)").as("jac_ppm"))
      .filter(col("jac_ppm") >= minJacPpm)
    val cands = Dedup.candidatePairs(Dedup.bandKeys(sh, numHashes, bands))
      .withColumn("_caught", lit(1L))
    exact.join(cands, Seq("id1", "id2"), "left")
      .na.fill(0L, Seq("_caught"))
      .groupBy(expr("jac_ppm div 100000").as("bucket"))
      .agg(count(lit(1)).as("n_exact"), sum(col("_caught")).as("n_caught"))
      .select(col("bucket"), col("n_exact"), col("n_caught"),
        expr("(n_caught * 1000000) div n_exact").as("recall_ppm"))
  }

  /** [[empiricalRecallCurve]] over a deterministic hash-sampled document
    * slice (the q39 Bernoulli draw: keep iff md5(salt:id) < threshold) —
    * the form that runs AT ANY SCALE. The exact arm is the audit's
    * quadratic half; sampling documents at fraction f cuts the exact
    * shared-shingle join to ~f² of its pairs while leaving recall unbiased
    * (each pair is kept iff both endpoints draw in, independent of its
    * similarity — banding, shingling, and jaccard are computed on the kept
    * docs exactly as the full audit would). A recall ESTIMATE needs
    * thousands of pairs, not the corpus; the full exact mode stays for
    * small-slice gate parity. The sample filter is a pure per-row
    * predicate that pushes to the scan.
    */
  def empiricalRecallCurveSampled(docs: DataFrame, idCol: String,
      textCol: String, shingleLen: Int, numHashes: Int, bands: Int,
      minJacPpm: Long, fraction: Double, salt: String): DataFrame =
    empiricalRecallCurve(
      graft.sampling.Sampling.hashSample(docs, idCol, fraction, salt),
      idCol, textCol, shingleLen, numHashes, bands, minJacPpm)

  /** (bands, rows, s_ppm, p_band_ppm, p_cand_ppm) for each layout × grid
    * point; `sGridStepPpm` spaces the similarity grid (50000 → 5%..95%). */
  def sCurve(spark: SparkSession, configs: Seq[(Int, Int)],
      sGridStepPpm: Long = 50000L): DataFrame = {
    require(configs.nonEmpty, "need at least one (bands, rows) layout")
    require(sGridStepPpm >= 1000L && sGridStepPpm < 1000000L,
      s"grid step out of range: $sGridStepPpm")
    import spark.implicits._
    val conf = configs.toDF("bands", "rows")
    val grid = spark.range(1, 1000000L / sGridStepPpm)
      .select((col("id") * sGridStepPpm).as("s_ppm"))
    conf.crossJoin(broadcast(grid))
      .withColumn("p_band_ppm", powPpm(col("s_ppm"), col("rows")))
      .withColumn("p_cand_ppm",
        lit(1000000L) - powPpm(lit(1000000L) - col("p_band_ppm"), col("bands")))
      .select(col("bands"), col("rows"), col("s_ppm"),
        col("p_band_ppm"), col("p_cand_ppm"))
  }
}
