package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003 — the
  * MOSS algorithm): hash every character k-gram, slide a window of `w`
  * hashes, and keep each window's minimum. The selected set is guaranteed
  * to share a fingerprint with any other document that shares a substring
  * of length ≥ k + w − 1, at a density of ~2/(w+1) — the classic local
  * substring-dedup / plagiarism primitive that whole-document hashing
  * (q22) and shingle-set similarity (q24/q25) don't give: those compare
  * documents, winnowing localizes shared PASSAGES.
  *
  * Hashes are the first 16 hex chars of each gram's md5, compared
  * lexicographically — a total order both Spark and SQL engines reproduce
  * byte-identically, so no integer conversion is needed. All per-document
  * work happens in one native single-pass kernel
  * ([[graft.expressions.WinnowExpr]] — reused digest, monotonic-deque
  * sliding min; no explode until the final fingerprint rows), so the
  * operator is a per-row scalar pipeline: no shuffle at all until the
  * caller aggregates or joins the (id, fingerprint) output. Very long
  * documents materialize one hash per character in the row —
  * [[Winnowing.fingerprintsChunked]] bounds that with an
  * overlap-preserving splitter (identical fingerprint set).
  */
object Winnowing {

  /** distinct (idCol, fingerprint) rows per document; documents shorter
    * than k + w − 1 chars produce none. Runs the single-pass native kernel
    * ([[graft.expressions.WinnowExpr]]); `DedupHof.fingerprintsHof` (test
    * scope) is the built-in-functions formulation it is property-pinned
    * against.
    */
  def fingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 2 && w >= 1, s"bad k=$k w=$w")
    // per-char hashing is the CPU-bound stage: spread a poorly-split scan
    graft.operators.Parallelism.ensure(
        df.select(col(idCol), col(textCol))
          .filter(length(col(textCol)) >= k + w - 1))
      .select(col(idCol),
        explode(graft.expressions.DedupExpressions
          .winnowFingerprints(col(textCol), k, w)).as("fingerprint"))
  }

  /** [[fingerprints]] with bounded per-row memory: the text is split into
    * overlapping chunks of `chunkChars` characters BEFORE hashing, so a
    * row never materializes more than ~chunkChars 16-char hashes at once
    * (the plain entry builds one hash per character of the whole document —
    * fine for web pages, multi-hundred-MB arrays for book-length rows).
    *
    * Consecutive chunks share k + w − 2 characters: a window of w k-gram
    * hashes spans w + k − 1 characters, so every window of the full
    * document lies entirely inside exactly one chunk and the fingerprint
    * SET is identical to the unchunked operator's (property-pinned in
    * DedupKernelSpec). Chunk starts step by chunkChars − (k+w−2); the
    * final `dropDuplicates` re-distincts across chunk boundaries — the
    * operator's one shuffle, on the already-small (id, fingerprint) rows.
    */
  def fingerprintsChunked(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4, chunkChars: Int = 1 << 16): DataFrame = {
    require(k >= 2 && w >= 1, s"bad k=$k w=$w")
    val overlap = k + w - 2
    require(chunkChars > overlap,
      s"chunkChars=$chunkChars must exceed k+w-2=$overlap")
    val text = col(textCol)
    // one chunk per stride of window starts; the last start is <= the last
    // window position, so every chunk has >= k+w-1 chars (substr clamps)
    val chunks = transform(
      sequence(lit(0), length(text) - (k + w - 1), lit(chunkChars - overlap)),
      a => text.substr(a + 1, lit(chunkChars)))
    fingerprints(
      df.filter(length(text) >= k + w - 1)
        .select(col(idCol), explode(chunks).as("_graft_chunk")),
      idCol, "_graft_chunk", k, w)
      .dropDuplicates(idCol, "fingerprint")
  }

  /** Documents sharing at least `minShared` fingerprints among pre-computed
    * (`idCol`, fingerprint) rows — passage-level near-dup pairs via one
    * equi-join on the fingerprint, never all-pairs. Persist the fingerprint
    * frame before calling: the self-join evaluates its plan twice
    * otherwise, and the per-character hashing is the dominant cost.
    */
  def sharedPassagePairsFromFingerprints(fps: DataFrame, idCol: String,
      minShared: Int = 2): DataFrame =
    fps.as("l").join(fps.as("r"),
        col("l.fingerprint") === col("r.fingerprint") &&
          col(s"l.$idCol") < col(s"r.$idCol"))
      .groupBy(col(s"l.$idCol").as("id1"), col(s"r.$idCol").as("id2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)

  /** fingerprint + pair search in one call (hashes every document twice
    * across the self-join — persist [[fingerprints]] output instead at
    * corpus scale, like imageNearDups vs imageNearDupsFromHashes)
    */
  def sharedPassagePairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4, minShared: Int = 2): DataFrame =
    sharedPassagePairsFromFingerprints(fingerprints(df, idCol, textCol, k, w),
      idCol, minShared)
}
