package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.TextFunctions

/** Deduplication operators for large-scale corpus pipelines: exact
  * (hash-group), MinHash+LSH (band-bucket candidate generation, the scale
  * path), n-gram Jaccard verification, and SimHash.
  *
  * Scale design: the only shuffles are (a) the band-bucket exchange, keyed by
  * the band-qualified key — O(docs × bands) rows, and (b) the candidate-pair
  * join. Signatures come from native per-row kernels (no explode of
  * shingles across rows), so the pre-LSH stage is shuffle-free. Every
  * MinHash-LSH caller shingles, bands, pairs and clusters through one path:
  * [[docShingles]], [[bandKeys]], [[candidatePairs]], [[nearDupComponents]].
  * All-pairs Jaccard is intentionally NOT the default: candidates come from
  * LSH buckets, keeping the pair count near-linear for realistic corpora.
  */
object Dedup {

  // ---- single-pass scalar kernels -------------------------------------
  // The pure-Column formulations of the signature and the bands (the
  // test-scope DedupHof) document the algorithm and match the SQL oracle
  // 1:1, but Catalyst re-evaluates outer expressions inside every
  // higher-order-function lambda (the shingle array would be rebuilt once
  // per seed), which is a 10-100× slowdown. Every caller therefore uses
  // these Scala kernels — one pass per row, byte-identical md5 hex output.

  private val md5tl = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val hexChars = "0123456789abcdef".toCharArray

  /** lowercase hex md5 of the UTF-8 bytes (one thread-local digest) */
  private[graft] def md5Hex(s: String): String = {
    val d = md5tl.get()
    d.reset()
    val bytes = d.digest(s.getBytes("UTF-8"))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      val v = bytes(i) & 0xff
      out(i * 2) = hexChars(v >>> 4)
      out(i * 2 + 1) = hexChars(v & 0xf)
      i += 1
    }
    new String(out)
  }

  // the SAME whitespace class as TextFunctions.WhitespaceRegex — Java's \s
  // includes \x0B where RE2's (and the DuckDB oracles') does not
  private val wsSplit =
    java.util.regex.Pattern.compile(graft.text.TextFunctions.WhitespaceRegex)

  /** distinct n-word shingles, first-occurrence order (same set as
    * TextFunctions.shingles)
    */
  def shinglesOf(text: String, n: Int): Seq[String] = {
    val toks = wsSplit.split(text, -1)
    if (toks.length < n) Nil
    else {
      val seen = new java.util.LinkedHashSet[String]()
      var i = 0
      while (i + n <= toks.length) {
        val sb = new StringBuilder
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j)); j += 1
        }
        seen.add(sb.toString); i += 1
      }
      import scala.jdk.CollectionConverters._
      seen.asScala.toSeq
    }
  }

  // ---- multiply-add minhash mixing ------------------------------------
  // ONE md5 per shingle (its first 8 bytes are the 64-bit base), then the k
  // signature elements come from multiply-add universal hashing
  // v_s = (a_s * base + b_s) mod 2^64 — k times fewer digests than the
  // md5-per-seed formulation, which dominates CPU at corpus scale. The
  // constants derive from md5 too, so the DuckDB oracle inlines them as
  // literals and reproduces every element bit-exactly (HUGEINT product,
  // mod 2^64, unsigned min). Elements are unsigned-decimal strings (equal
  // to DuckDB's CAST(ubigint AS VARCHAR)).

  /** per-seed multiply-add constants: a odd and < 2^62 (so the oracle's
    * HUGEINT product a*h cannot overflow 127 bits), b full 64 bits
    */
  def mixConst(seed: Int): (Long, Long) =
    mixCache.getOrElseUpdate(seed, {
      val a = (longOfMd5(s"a:$seed") & ((1L << 62) - 1)) | 1L
      val b = longOfMd5(s"b:$seed")
      (a, b)
    })

  private val mixCache = scala.collection.concurrent.TrieMap.empty[Int, (Long, Long)]

  /** first 8 digest bytes big-endian — the same value as parsing md5's
    * first 16 hex chars as an unsigned 64-bit integer
    */
  private def longOfMd5(s: String): Long = {
    val d = md5tl.get()
    d.reset()
    java.nio.ByteBuffer.wrap(d.digest(s.getBytes("UTF-8"))).getLong
  }

  /** k min-hashes over a shingle set */
  def minhashOf(shingles: Seq[String], k: Int): Seq[String] =
    minhashOfBytes(shingles.map(_.getBytes("UTF-8")).toArray, k)

  /** the same kernel over pre-encoded shingles — the native expression path
    * hands in UTF8String bytes directly, skipping String round-trips
    */
  def minhashOfBytes(shingleBytes: Array[Array[Byte]], k: Int): Seq[String] = {
    if (shingleBytes.isEmpty) return Seq.fill(k)(null)
    val d = md5tl.get()
    val bases = new Array[Long](shingleBytes.length)
    var i = 0
    while (i < bases.length) {
      d.reset()
      bases(i) = java.nio.ByteBuffer.wrap(d.digest(shingleBytes(i))).getLong
      i += 1
    }
    (0 until k).map { s =>
      val (a, b) = mixConst(s)
      var min = 0L
      var first = true
      var j = 0
      while (j < bases.length) {
        val v = a * bases(j) + b // wraps mod 2^64, matching the oracle's %
        if (first || java.lang.Long.compareUnsigned(v, min) < 0) {
          min = v; first = false
        }
        j += 1
      }
      java.lang.Long.toUnsignedString(min)
    }
  }

  /** DuckDB replica of the signature ([k VARCHAR elements] list expression
    * over shingle list column `shCol`): nibble-parse md5's first 16 hex
    * chars to UBIGINT, apply the same inlined (a, b) constants via HUGEINT
    * product mod 2^64, take the unsigned min
    */
  def minhashSigSql(shCol: String, k: Int): String = {
    val parse =
      s"""CAST(list_sum(list_transform(range(1,17), i ->
         |      CAST(strpos('0123456789abcdef', substr(md5(w), CAST(i AS INT), 1)) - 1 AS UBIGINT)
         |      << CAST((16-i)*4 AS INT))) AS UBIGINT)""".stripMargin
    (0 until k).map { s =>
      val (a, b) = mixConst(s)
      val (aU, bU) = (java.lang.Long.toUnsignedString(a),
        java.lang.Long.toUnsignedString(b))
      s"""CAST(list_min(list_transform($shCol, w ->
         |    CAST((CAST($aU AS HUGEINT) * $parse + $bU) % 18446744073709551616 AS UBIGINT))) AS VARCHAR)""".stripMargin
    }.mkString("[", ",\n  ", "]")
  }

  /** banded hashes of a signature: `"<band>:<md5 of its rows>"` */
  def bandHashesOf(sig: Seq[String], bands: Int, rows: Int): Seq[String] =
    (0 until bands).map(j =>
      j.toString + ":" + md5Hex(sig.slice(j * rows, j * rows + rows).mkString(",")))

  // ---- column forms: native expressions over UTF8String bytes (no UDF
  // converter round-trip); see graft.expressions.DedupExpressions

  /** text → distinct shingle array (single pass) */
  def shingles(text: Column, n: Int): Column =
    graft.expressions.DedupExpressions.shingles(text, n)

  /** shingles → minhash signature (single pass) */
  def minhashSig(sh: Column, k: Int): Column =
    graft.expressions.DedupExpressions.minhashSig(sh, k)

  /** shingles → band-qualified LSH bucket hashes (single pass) */
  def minhashBands(sh: Column, k: Int, bands: Int): Column =
    graft.expressions.DedupExpressions.minhashBands(sh, k, bands)

  // ---- the MinHash-LSH path shared by every near-duplicate caller -----

  /** The doc-shingle prelude: `(doc_id, sh, extra…)` over `df`, `sh` the
    * distinct `shingleLen`-word shingles, documents without one dropped.
    * The scan is spread by [[graft.operators.Parallelism.ensure]] before
    * the per-row kernels run; `extra` columns come from the same scan and
    * may read `textCol`.
    */
  private[graft] def docShingles(df: DataFrame, idCol: String,
      textCol: String, shingleLen: Int, extra: Column*): DataFrame =
    graft.operators.Parallelism.ensure(
        df.select(col(idCol).as("doc_id"), col(textCol)))
      .select(col("doc_id") +: shingles(col(textCol), shingleLen).as("sh")
        +: extra: _*)
      .filter(size(col("sh")) > 0)

  /** `(doc_id, key)`: one row per MinHash band of a `(doc_id, sh)` frame,
    * the key band-qualified (`"<band>:<md5>"`) */
  private[graft] def bandKeys(docs: DataFrame, numHashes: Int,
      bands: Int): DataFrame =
    docs.select(col("doc_id"),
      explode(minhashBands(col("sh"), numHashes, bands)).as("key"))

  /** The candidate-pair kernel: distinct `(id1, id2)`, id1 < id2, of the
    * documents sharing a key in a `(doc_id, key)` band frame.
    * `maxBucketSize` drops every bucket above the cap before the
    * self-join (see [[nearDuplicatesMinhashLsh]]); the default keeps all.
    */
  private[graft] def candidatePairs(banded: DataFrame,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val gated =
      if (maxBucketSize == Int.MaxValue) banded
      else {
        // per-bucket counts share the self-join's key partitioning, so
        // this adds no extra exchange of the banded frame
        val ok = banded.groupBy("key").agg(count(lit(1)).as("_n"))
          .filter(col("_n") <= maxBucketSize).select("key")
        banded.join(ok, "key")
      }
    gated.as("x").join(gated.as("y"),
        col("x.key") === col("y.key") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"))
      .distinct()
  }

  /** Near-duplicate components of a `(doc_id, sh)` frame: the reference's
    * record↔match-value connected components with the documents' MinHash
    * band keys as the match values. Returns `(id, component)`.
    */
  private[graft] def nearDupComponents(docs: DataFrame, numHashes: Int,
      bands: Int): DataFrame =
    graft.cluster.Clusterize.connectedComponents(
      bandKeys(docs, numHashes, bands).withColumnRenamed("doc_id", "id"),
      edgesDistinct = true)

  /** Annotate each row with an exact-dup hash and the duplicate count. */
  def exactDuplicates(df: DataFrame, text: Column, id: Column): DataFrame = {
    val h = md5(text)
    val w = Window.partitionBy(h)
    df.withColumn("text_md5", h)
      .withColumn("dup_count", count(lit(1)).over(w))
      .withColumn("keep", row_number().over(w.orderBy(id)) === 1)
  }

  /** Full MinHash-LSH near-duplicate pipeline over (id, text):
    * shingle → sign → band → bucket-join → Jaccard-verify ≥ threshold.
    * Returns (id1, id2, jaccard) with id1 < id2.
    *
    * `maxBucketSize` guards the 100 TB skew case: a corpus with a large
    * exact-duplicate group puts every member in the same band buckets, and
    * the self-join then emits |group|² candidate pairs per band. Buckets
    * above the cap are dropped before the join (standard practice in
    * large-scale dedup; run exact dedup first so identical documents never
    * reach this stage, then the cap only skips degenerate buckets). The
    * default is uncapped — exact recall.
    */
  def nearDuplicatesMinhashLsh(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val docs = docShingles(df, idCol, textCol, shingleLen)
    jaccardVerify(
      candidatePairs(bandKeys(docs, numHashes, bands), maxBucketSize),
      docs, threshold)
  }

  /** Exact set-Jaccard on candidate pairs against the shingle sets. */
  def jaccardVerify(pairs: DataFrame, docs: DataFrame, threshold: Double): DataFrame = {
    val d1 = docs.select(col("doc_id").as("id1"), col("sh").as("sh1"))
    val d2 = docs.select(col("doc_id").as("id2"), col("sh").as("sh2"))
    pairs.join(d1, "id1").join(d2, "id2")
      .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh1")) + size(col("sh2")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** Weighted-vs-set Jaccard audit over the LSH candidate pairs: set
    * Jaccard (the q25 verify) treats a shingle seen once and fifty times
    * identically; the token-MULTISET Jaccard Σmin(tf)/Σmax(tf) weights
    * repetition, so boilerplate-heavy pairs score differently. The audit
    * emits both (exact integer ppm) plus the delta — the evidence for which
    * verify metric a corpus needs before standardizing a dedup threshold.
    *
    * Σmax needs no union enumeration: Σmax = S₁ + S₂ − Σmin with Σmin over
    * SHARED tokens only (min is 0 elsewhere), so the only pair-keyed work
    * is the shared-token equi-join, partial-agg'd. Candidates come from
    * the same banded minhash equi-join as q25; the text scans once into
    * the persisted doc-shingle frame, which carries each document's tokens
    * for the tfs (a document without a shingle is in no candidate pair).
    */
  def weightedJaccardAudit(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, numHashes: Int = 16,
      bands: Int = 4): DataFrame = {
    val docs = docShingles(df, idCol, textCol, shingleLen,
        TextFunctions.tokens(col(textCol)).as("_graft_tok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = candidatePairs(bandKeys(docs, numHashes, bands))
    val tf = docs.select(col("doc_id"), explode(col("_graft_tok")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("s"))
    val shared = cands
      .join(tf.select(col("doc_id").as("id1"), col("token"),
        col("tf").as("_graft_tf1")), Seq("id1"))
      .join(tf.select(col("doc_id").as("id2"), col("token"),
        col("tf").as("_graft_tf2")), Seq("id2", "token"))
      .groupBy(col("id1"), col("id2"))
      .agg(sum(least(col("_graft_tf1"), col("_graft_tf2"))).as("_graft_min"))
    cands
      .join(docs.select(col("doc_id").as("id1"), col("sh").as("_graft_sh1")), "id1")
      .join(docs.select(col("doc_id").as("id2"), col("sh").as("_graft_sh2")), "id2")
      .join(shared, Seq("id1", "id2"), "left")
      .join(totals.select(col("doc_id").as("id1"), col("s").as("_graft_s1")), "id1")
      .join(totals.select(col("doc_id").as("id2"), col("s").as("_graft_s2")), "id2")
      .select(col("id1"), col("id2"),
        size(array_intersect(col("_graft_sh1"), col("_graft_sh2")))
          .cast("long").as("_graft_i"),
        (size(col("_graft_sh1")) + size(col("_graft_sh2"))).cast("long")
          .as("_graft_ns"),
        coalesce(col("_graft_min"), lit(0L)).as("_graft_m"),
        (col("_graft_s1") + col("_graft_s2")).as("_graft_ss"))
      .select(col("id1"), col("id2"),
        expr("(_graft_i * 1000000) div (_graft_ns - _graft_i)").as("jac_ppm"),
        expr("(_graft_m * 1000000) div (_graft_ss - _graft_m)").as("wjac_ppm"))
      .withColumn("diff_ppm", col("wjac_ppm") - col("jac_ppm"))
  }

  /** Incremental (new-batch-vs-corpus) dedup — the production shape at
    * 100 TB: the standing corpus is never re-deduped against itself; each
    * arriving batch is screened against it. Per batch document:
    * `verdict` ∈ exact_dup (byte-identical text exists in the corpus) >
    * near_dup (MinHash-LSH candidate verified at Jaccard ≥ threshold) >
    * new, plus `match_id` = the smallest matching corpus id (−1 when new).
    *
    * Scale shape: the batch is the small side by construction, so its text
    * hashes and band hashes BROADCAST and the corpus streams through two
    * scans (hash probe + shingle/band probe) with no corpus shuffle; the
    * candidate set is batch-bounded, so the Jaccard verify joins a
    * broadcast candidate frame against the corpus shingles. Run with
    * `maxBucketSize`-style pre-screens upstream if the corpus has
    * degenerate exact-dup groups (exact verdicts short-circuit those here).
    */
  def incrementalVerdicts(corpus: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, shingleLen: Int = 3, numHashes: Int = 16,
      bands: Int = 4, threshold: Double = 0.5): DataFrame = {
    val bIds = batch.select(col(idCol).as("_graft_bid"))
    val bHash = batch.select(col(idCol).as("_graft_bid"),
      md5(col(textCol)).as("_graft_h"))
    val cHash = graft.operators.Parallelism.ensure(
        corpus.select(col(idCol).as("_graft_cid"), col(textCol)))
      .select(col("_graft_cid"), md5(col(textCol)).as("_graft_h"))
    val exact = cHash.join(broadcast(bHash), "_graft_h")
      .groupBy("_graft_bid").agg(min("_graft_cid").as("_graft_exact"))
    val bSh = docShingles(batch, idCol, textCol, shingleLen)
    val cSh = docShingles(corpus, idCol, textCol, shingleLen)
    val bDocs = bSh.select(col("doc_id").as("_graft_bid"), col("sh").as("_graft_bsh"))
    val cDocs = cSh.select(col("doc_id").as("_graft_cid"), col("sh").as("_graft_csh"))
    val bBand = bandKeys(bSh, numHashes, bands)
      .select(col("doc_id").as("_graft_bid"), col("key").as("_graft_bh"))
    val cBand = bandKeys(cSh, numHashes, bands)
      .select(col("doc_id").as("_graft_cid"), col("key").as("_graft_bh"))
    val cand = cBand.join(broadcast(bBand), "_graft_bh")
      .select(col("_graft_bid"), col("_graft_cid")).distinct()
    val near = cDocs
      .join(broadcast(cand.join(broadcast(bDocs), "_graft_bid")), "_graft_cid")
      .withColumn("_graft_inter",
        size(array_intersect(col("_graft_bsh"), col("_graft_csh"))))
      .withColumn("_graft_j", col("_graft_inter").cast("double") /
        (size(col("_graft_bsh")) + size(col("_graft_csh")) - col("_graft_inter")))
      .filter(col("_graft_j") >= threshold)
      .groupBy("_graft_bid").agg(min("_graft_cid").as("_graft_near"))
    bIds
      .join(broadcast(exact), Seq("_graft_bid"), "left")
      .join(broadcast(near), Seq("_graft_bid"), "left")
      .select(col("_graft_bid").as(idCol),
        when(col("_graft_exact").isNotNull, lit("exact_dup"))
          .when(col("_graft_near").isNotNull, lit("near_dup"))
          .otherwise(lit("new")).as("verdict"),
        coalesce(col("_graft_exact"), col("_graft_near"), lit(-1L))
          .as("match_id"))
  }

  /** All-pairs n-gram Jaccard via shingle explode + equi-join (exact but
    * quadratic in matching pairs — use the LSH variant at scale).
    */
  def allPairsJaccard(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int, threshold: Double): DataFrame = {
    val docs = docShingles(df, idCol, textCol, shingleLen)
    val words = docs.select(col("doc_id"), explode(col("sh")).as("w"))
    val sizes = docs.select(col("doc_id"), size(col("sh")).as("n"))
    val inter = words.as("a").join(words.as("b"),
        col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("id1"), col("n").as("n1")), "id1")
      .join(sizes.select(col("doc_id").as("id2"), col("n").as("n2")), "id2")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n1") + col("n2") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("inter"), col("jaccard"))
  }

  /** MinHash Jaccard-ESTIMATE audit over the LSH candidate pairs: per
    * candidate, the sketch estimate (matching signature components / k, in
    * ppm) against the exact shingle-set Jaccard — the per-pair complement
    * of the q94-style recall audit, and the evidence for choosing k
    * (E[matches/k] = J, σ = sqrt(J(1−J)/k); k=16 is a ±12ppt band at
    * J=0.5, which this audit makes concrete before a deployment trusts
    * sketch-only verdicts at 100 TB, where exact verification of every
    * candidate is the dominant cost).
    *
    * Scale shape: identical to [[nearDuplicatesMinhashLsh]] — candidates
    * from the shared band-bucket kernel ([[candidatePairs]]), each doc's
    * signature computed once by the native [[minhashSig]] kernel into the
    * persisted shingle frame, per-pair work is two bound-array scalars
    * (component match count, array_intersect). No all-pairs stage.
    */
  def minhashEstimateAudit(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, numHashes: Int = 16, bands: Int = 4): DataFrame = {
    val docs = docShingles(df, idCol, textCol, shingleLen)
      .withColumn("sig", minhashSig(col("sh"), numHashes))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    candidatePairs(bandKeys(docs, numHashes, bands))
      .join(docs.select(col("doc_id").as("id1"), col("sh").as("_graft_sh1"),
        col("sig").as("_graft_sg1")), "id1")
      .join(docs.select(col("doc_id").as("id2"), col("sh").as("_graft_sh2"),
        col("sig").as("_graft_sg2")), "id2")
      .select(col("id1"), col("id2"),
        size(filter(zip_with(col("_graft_sg1"), col("_graft_sg2"),
          (a, b) => a === b), x => x)).cast("long").as("matches"),
        size(array_intersect(col("_graft_sh1"), col("_graft_sh2")))
          .cast("long").as("_graft_inter"),
        (size(col("_graft_sh1")) + size(col("_graft_sh2"))).cast("long")
          .as("_graft_ns"))
      .select(col("id1"), col("id2"), col("matches"),
        expr(s"(matches * 1000000) div $numHashes").as("est_ppm"),
        expr("(_graft_inter * 1000000) div (_graft_ns - _graft_inter)")
          .as("jac_ppm"))
      .withColumn("err_ppm", col("est_ppm") - col("jac_ppm"))
  }

  /** b-bit minwise audit, b = 1 (Li & König, WWW 2010): store only the
    * PARITY of each minhash component — 64× less sketch memory than the
    * 64-bit values — and estimate Jaccard from bit agreement via
    * E[match] = (1+J)/2 ⇒ Ĵ = 2·m/k − 1. The audit emits the 1-bit
    * estimate next to the exact Jaccard on the LSH candidate pairs: the
    * evidence for whether the compressed sketch's variance (≈4× the full
    * sketch's at small J) is acceptable before shrinking a 100 TB
    * signature store.
    *
    * Parity is the decimal-string value mod 2 — both engines parse the
    * same unsigned-decimal signature components, so the bits (and the
    * estimate) are engine-exact. The bits come from the native
    * [[minhashSig]] kernel; candidates, scan shape, and the exact verify
    * are identical to [[minhashEstimateAudit]].
    */
  def bbitMinhashAudit(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, numHashes: Int = 16, bands: Int = 4): DataFrame = {
    val docs = docShingles(df, idCol, textCol, shingleLen)
      .withColumn("bits", transform(minhashSig(col("sh"), numHashes),
        h => (h.cast("decimal(20,0)") % 2).cast("int")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    candidatePairs(bandKeys(docs, numHashes, bands))
      .join(docs.select(col("doc_id").as("id1"), col("sh").as("_graft_sh1"),
        col("bits").as("_graft_b1")), "id1")
      .join(docs.select(col("doc_id").as("id2"), col("sh").as("_graft_sh2"),
        col("bits").as("_graft_b2")), "id2")
      .select(col("id1"), col("id2"),
        size(filter(zip_with(col("_graft_b1"), col("_graft_b2"),
          (a, b) => a === b), x => x)).cast("long").as("bit_matches"),
        size(array_intersect(col("_graft_sh1"), col("_graft_sh2")))
          .cast("long").as("_graft_inter"),
        (size(col("_graft_sh1")) + size(col("_graft_sh2"))).cast("long")
          .as("_graft_ns"))
      .select(col("id1"), col("id2"), col("bit_matches"),
        expr(s"(2 * bit_matches * 1000000) div $numHashes - 1000000")
          .as("est1_ppm"),
        expr("(_graft_inter * 1000000) div (_graft_ns - _graft_inter)")
          .as("jac_ppm"))
      .withColumn("err1_ppm", col("est1_ppm") - col("jac_ppm"))
  }

  /** EXACT Jaccard similarity self-join via prefix filtering (Chaudhuri,
    * Ganti & Kaushik, ICDE 2006 "SSJoin"; Bayardo, Ma & Srikant, WWW 2007
    * "Scaling Up All Pairs Similarity Search") — the lossless scale path
    * between [[allPairsJaccard]] (exact, quadratic) and
    * [[nearDuplicatesMinhashLsh]] (near-linear, approximate): any pair with
    * n-gram Jaccard >= threshold is guaranteed in the output, yet candidates
    * come from an equi-join on a small PREFIX of each shingle set.
    *
    * The filter: order the shingle universe rarest-first (document
    * frequency asc, shingle asc — a total order). Two sets a, b with
    * J(a,b) >= t overlap in at least ceil(t·|a|) elements, so an
    * intersection avoiding the first |a| − ceil(t·|a|) + 1 elements of a
    * would fit inside a's remaining ceil(t·|a|) − 1 elements —
    * contradiction; hence every qualifying pair shares a shingle within
    * both prefixes. Prefix shingles are each document's RAREST, so the
    * candidate join's per-key fan-out is bounded by the document frequency
    * of rare shingles — the published AllPairs skew argument (frequent
    * shingles never enter an index at high t).
    *
    * Scale shape: one vocabulary aggregate (token shuffle, partial-agg'd),
    * one per-doc window to rank shingles (doc shuffle, skew bounded by the
    * longest document), the prefix equi-join WITH the AllPairs length
    * filter fused into the join condition (J >= t forces
    * t <= |a|/|b| <= 1/t, so size-incompatible pairs never leave the
    * join), then exact verification of candidate pairs only via
    * array_intersect on the two bound shingle arrays. No all-pairs stage
    * anywhere; `threshold` is enforced with exact integer ppm arithmetic
    * (inter·1e6 >= t_ppm·union).
    *
    * Threshold guidance (the published AllPairs trade-off): the prefix is
    * the (1−t)·|s|+1 RAREST shingles, so candidate volume scales with the
    * document frequency of each doc's (1−t)-quantile shingle — high
    * thresholds (near-dup detection, t >= ~0.7) keep prefixes short and
    * rare; low thresholds degrade toward the all-pairs join by
    * construction (use LSH + verify there instead).
    */
  def prefixFilterJaccard(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    val tPpm = math.round(threshold * 1e6)
    // r17 optimization (guide §2.3 "shuffle keys, not payloads"): the
    // vocabulary aggregate and the candidate equi-join key on an 8-byte
    // xxhash64 of the gram instead of the gram STRING — the two largest
    // exchanges narrow to fixed-width keys. Losslessness is preserved
    // exactly: the prefix order (df, h, w) keeps the raw gram as the
    // final tiebreak, so it stays a TOTAL order on grams even under a
    // 64-bit collision (two docs can never rank tied grams differently),
    // and a collision in the join key can only ADD candidate pairs,
    // which exact verification on the full shingle arrays removes.
    // Hashes are computed ONCE, inside the persisted frame — the words
    // explode is evaluated twice (vocabulary branch + prefix branch),
    // and hashing at the explode measurably charged q96's small-prefix
    // case twice for nothing.
    val docs = docShingles(df, idCol, textCol, shingleLen)
      .withColumn("_graft_shh", transform(col("sh"), w => xxhash64(w)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val words = docs.select(col("doc_id"), size(col("sh")).as("n"),
        explode(arrays_zip(col("sh"), col("_graft_shh"))).as("_graft_z"))
      .select(col("doc_id"), col("n"), col("_graft_z.sh").as("w"),
        col("_graft_z._graft_shh").as("_graft_h"))
    val dfreq = words.groupBy(col("_graft_h")).agg(count(lit(1)).as("df"))
    // p = n - ceil(t*n) + 1; the 1e-9 slack keeps a ceil() landing on an
    // exact integer from under-sizing the prefix (larger prefix = more
    // candidates, never a miss)
    val prefix = words.join(dfreq, "_graft_h")
      .withColumn("_graft_rank", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("df"), col("_graft_h"), col("w"))))
      .filter(col("_graft_rank") <=
        col("n") - ceil(lit(threshold) * col("n") - lit(1e-9)).cast("int") + 1)
      .select(col("doc_id"), col("n"), col("_graft_h"))
    val cands = prefix.as("a").join(prefix.as("b"),
        col("a._graft_h") === col("b._graft_h")
          && col("a.doc_id") < col("b.doc_id")
          // length filter: J(a,b) >= t needs t*|b| <= |a| and t*|a| <= |b|
          && col("a.n") * lit(1000000L) >= lit(tPpm) * col("b.n")
          && col("b.n") * lit(1000000L) >= lit(tPpm) * col("a.n"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
    cands
      .join(docs.select(col("doc_id").as("id1"), col("sh").as("_graft_sh1")), "id1")
      .join(docs.select(col("doc_id").as("id2"), col("sh").as("_graft_sh2")), "id2")
      .select(col("id1"), col("id2"),
        size(array_intersect(col("_graft_sh1"), col("_graft_sh2")))
          .cast("long").as("inter"),
        (size(col("_graft_sh1")) + size(col("_graft_sh2"))).cast("long").as("_graft_ns"))
      .withColumn("_graft_union", col("_graft_ns") - col("inter"))
      .filter(col("inter") * lit(1000000L) >= lit(tPpm) * col("_graft_union"))
      .select(col("id1"), col("id2"), col("inter"),
        expr("(inter * 1000000) div _graft_union").as("jac_ppm"))
  }

  /** Exact set-containment self-join: emit (contained_id, container_id) for
    * every ordered pair with C(a→b) = |sh(a) ∩ sh(b)| / |sh(a)| ≥ t — the
    * near-subset detector (quotes, excerpts, page-of-a-book duplication)
    * that Jaccard misses whenever the container is much longer than the
    * contained document.
    *
    * Prefix filtering adapts losslessly from [[prefixFilterJaccard]]: if b
    * shares none of a's (|a| − ⌈t·|a|⌉ + 1)-gram prefix, the intersection is
    * at most ⌈t·|a|⌉ − 1 < t·|a| — true for ANY choice of prefix grams, so
    * rarest-first ordering affects only candidate volume, never recall. The
    * asymmetry vs Jaccard: only the CONTAINED side can be prefixed; the
    * container side must index its full gram set (a subset relation says
    * nothing about which of b's grams are shared), and the only size filter
    * is |b| ≥ t·|a|. Candidate volume therefore scales with the document
    * frequency of each doc's (1−t)-quantile gram — fine when per-doc rare
    * grams are globally rare (natural corpora); a corpus where most docs
    * share large gram blocks (the salted 10× ScaleBench replication shares
    * ~40% of shingles across all replicas — BENCH_sf1 documents the
    * resulting 72× slope) degrades toward the inverted-index all-pairs
    * count. `maxDf` bounds that worst case: prefix entries with document
    * frequency above the cap generate no candidates, which can only miss a
    * pair if EVERY gram of the contained doc's prefix is above-cap — the
    * operator stays exact with `maxDf = None` (the gate setting, proven by
    * the all-pairs oracle hash match).
    */
  def containmentJoin(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int, threshold: Double,
      maxDf: Option[Long] = None): DataFrame = {
    val docs = docShingles(df, idCol, textCol, shingleLen)
      .withColumn("_graft_shh", transform(col("sh"), w => xxhash64(w)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    containmentJoinFromShingles(docs, threshold, maxDf)
  }

  /** [[containmentJoin]] over a pre-shingled `(doc_id, sh)` frame the caller
    * has (ideally) persisted — lets composed audits share ONE shingle scan
    * across the join and their own signature passes. */
  def containmentJoinFromShingles(docs: DataFrame, threshold: Double,
      maxDf: Option[Long] = None): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    val tPpm = math.round(threshold * 1e6)
    // hash-keyed like prefixFilterJaccard (r17, §2.3): the container side
    // indexes its FULL gram set, so narrowing that join key from the gram
    // string to 8 bytes is the larger win here; (df, h, w) keeps the
    // prefix order total, and collision-added candidates die in the exact
    // verify below. A caller whose persisted frame already carries the
    // per-gram hash array (`_graft_shh`) pays the hashes once; a bare
    // (doc_id, sh) frame hashes at the explode.
    val words = (if (docs.columns.contains("_graft_shh"))
        docs.select(col("doc_id"), size(col("sh")).as("n"),
            explode(arrays_zip(col("sh"), col("_graft_shh"))).as("_graft_z"))
          .select(col("doc_id"), col("n"), col("_graft_z.sh").as("w"),
            col("_graft_z._graft_shh").as("_graft_h"))
      else
        docs.select(col("doc_id"), size(col("sh")).as("n"),
            explode(col("sh")).as("w"))
          .withColumn("_graft_h", xxhash64(col("w"))))
    val dfreq = words.groupBy(col("_graft_h")).agg(count(lit(1)).as("df"))
    val prefix0 = words.join(dfreq, "_graft_h")
      .withColumn("_graft_rank", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("df"), col("_graft_h"), col("w"))))
      .filter(col("_graft_rank") <=
        col("n") - ceil(lit(threshold) * col("n") - lit(1e-9)).cast("int") + 1)
    val prefix = maxDf.fold(prefix0)(cap => prefix0.filter(col("df") <= cap))
      .select(col("doc_id"), col("n"), col("_graft_h"))
    val cands = prefix.as("a").join(
        words.select(col("doc_id"), col("n"), col("_graft_h")).as("b"),
        col("a._graft_h") === col("b._graft_h")
          && col("a.doc_id") =!= col("b.doc_id")
          // C(a→b) >= t needs t*|a| <= inter <= |b|
          && col("b.n") * lit(1000000L) >= lit(tPpm) * col("a.n"))
      .select(col("a.doc_id").as("contained_id"),
        col("b.doc_id").as("container_id"))
      .distinct()
    cands
      .join(docs.select(col("doc_id").as("contained_id"),
        col("sh").as("_graft_sh1")), "contained_id")
      .join(docs.select(col("doc_id").as("container_id"),
        col("sh").as("_graft_sh2")), "container_id")
      .select(col("contained_id"), col("container_id"),
        size(array_intersect(col("_graft_sh1"), col("_graft_sh2")))
          .cast("long").as("inter"),
        size(col("_graft_sh1")).cast("long").as("_graft_n1"))
      .filter(col("inter") * lit(1000000L) >= lit(tPpm) * col("_graft_n1"))
      .select(col("contained_id"), col("container_id"), col("inter"),
        expr("(inter * 1000000) div _graft_n1").as("cont_ppm"))
  }

  /** Containment estimate-vs-exact audit — the q103 pattern for the
    * asymmetric case: MinHash signature agreement m/k estimates JACCARD,
    * and containment derives from it via
    * C = J·(|a|+|b|) / ((1+J)·|a|)  →  est = m·(n1+n2) / ((k+m)·n1),
    * exact integer ppm. The audit quantifies how far the cheap
    * signature-space estimate drifts from exact containment on the pairs
    * that matter (the exact join's own output) — the evidence for whether
    * a signature-only screening pass is safe for a given corpus. Jaccard
    * signatures systematically UNDER-estimate containment of small-into-
    * large docs (J shrinks as |b| grows); err_ppm makes that visible.
    * One persisted shingle frame feeds the exact join and the native
    * [[minhashSig]] signatures.
    */
  def containmentEstimateAudit(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, numHashes: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    val shingled = docShingles(df, idCol, textCol, shingleLen)
      .withColumn("_graft_shh", transform(col("sh"), w => xxhash64(w)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = containmentJoinFromShingles(shingled, threshold)
    val docs = shingled
      .select(col("doc_id"), size(col("sh")).cast("long").as("n"),
        minhashSig(col("sh"), numHashes).as("sig"))
    pairs
      .join(docs.select(col("doc_id").as("contained_id"),
        col("n").as("_graft_n1"), col("sig").as("_graft_sg1")), "contained_id")
      .join(docs.select(col("doc_id").as("container_id"),
        col("n").as("_graft_n2"), col("sig").as("_graft_sg2")), "container_id")
      .select(col("contained_id"), col("container_id"),
        size(filter(zip_with(col("_graft_sg1"), col("_graft_sg2"),
          (a, b) => a === b), x => x)).cast("long").as("matches"),
        col("cont_ppm"), col("_graft_n1"), col("_graft_n2"))
      .select(col("contained_id"), col("container_id"), col("matches"),
        col("cont_ppm"),
        expr(s"(matches * (_graft_n1 + _graft_n2) * 1000000) div " +
          s"(($numHashes + matches) * _graft_n1)").as("est_ppm"))
      .withColumn("err_ppm", col("est_ppm") - col("cont_ppm"))
  }

  /** Mergeable per-group MinHash sketches + gram-space similarity audit —
    * the shard-wise processing story at 100 TB: each document's signature
    * is computed once by the native [[minhashSig]] kernel, per-group
    * sketches are the ELEMENTWISE UNSIGNED MIN of member signatures (a
    * min-merge is the signature of the union of the gram sets —
    * associative, commutative, constant-size, so shards sketch
    * independently and merge in a partial-agg'd groupBy), and any two
    * groups' gram-space Jaccard is then estimated from sketch agreement
    * WITHOUT touching the corpus again.
    * The audit emits the exact gram-space Jaccard next to the estimate —
    * the evidence for how much to trust sketch-only comparisons (k=16
    * gives ±~12% absolute; scale k for tighter bounds).
    *
    * Output: (src_a, src_b, matches, est_ppm, exact_ppm, err_ppm) for all
    * unordered group pairs, including gram-disjoint ones (exact 0).
    */
  def sourceSketchSimilarity(df: DataFrame, textCol: String,
      groupCol: String, shingleLen: Int, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val base = docShingles(df, groupCol, textCol, shingleLen)
      .withColumnRenamed("doc_id", "src")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sigs = base.select(col("src"), minhashSig(col("sh"), k).as("sig"))
    val minCols = (0 until k).map(i =>
      min(element_at(col("sig"), i + 1).cast("decimal(20,0)")).as(s"_m$i"))
    val sketches = sigs.groupBy(col("src")).agg(minCols.head, minCols.tail: _*)
    val grams = base.select(col("src"), explode(col("sh")).as("w")).distinct()
    val sizes = grams.groupBy(col("src")).agg(count(lit(1)).as("n"))
    // r17 optimization (§2.3/§2.4): the exact-audit half used a gram-keyed
    // SELF-JOIN (both sides exchanged by the gram string, then a join
    // build over every distinct (src, gram) row). Equivalent with HALF the
    // exchange volume and no join: group each gram's source set once,
    // explode its ordered source pairs, count per pair. The per-gram
    // source set is bounded by the number of sources (config-scale), so
    // the pair explode is tiny; semantics identical (same src_a < src_b
    // pairs, once per shared gram).
    val inter = grams.groupBy(col("w"))
      .agg(sort_array(collect_set(col("src"))).as("_graft_ss"))
      .select(explode(flatten(transform(col("_graft_ss"), (x, i) =>
        transform(
          slice(col("_graft_ss"), i + lit(2),
            greatest(size(col("_graft_ss")) - i - 1, lit(0))),
          y => struct(x.as("src_a"), y.as("src_b")))))).as("_graft_p"))
      .groupBy(col("_graft_p.src_a").as("src_a"),
        col("_graft_p.src_b").as("src_b"))
      .agg(count(lit(1)).as("_graft_i"))
    val matches = (0 until k).map(i =>
      when(col(s"x._m$i") === col(s"y._m$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    sketches.as("x").join(sketches.as("y"), col("x.src") < col("y.src"))
      .select(col("x.src").as("src_a"), col("y.src").as("src_b"),
        matches.as("matches"))
      .join(sizes.select(col("src").as("src_a"), col("n").as("_na")), "src_a")
      .join(sizes.select(col("src").as("src_b"), col("n").as("_nb")), "src_b")
      .join(inter, Seq("src_a", "src_b"), "left")
      .withColumn("_gi", coalesce(col("_graft_i"), lit(0L)))
      .select(col("src_a"), col("src_b"), col("matches"),
        expr(s"(matches * 1000000) div $k").as("est_ppm"),
        expr("(_gi * 1000000) div (_na + _nb - _gi)").as("exact_ppm"))
      .withColumn("err_ppm", col("est_ppm") - col("exact_ppm"))
  }

  /** DuckDB twin of [[sourceSketchSimilarity]]'s sketch merge: the k
    * per-position unsigned mins over a per-row `sigCol` list (pair with
    * [[minhashSigSql]] for the per-row signatures)
    */
  def sketchMergeSql(sigCol: String, k: Int): String =
    (0 until k).map(i =>
      s"min(CAST($sigCol[${i + 1}] AS UBIGINT)) AS _m$i").mkString(",\n  ")

  /** 16-bit SimHash over the token multiset. Bit b is set when the sum of
    * ±1 votes (per-token md5 bit b) is positive. Single-pass native kernel
    * (one md5 per token); `DedupHof.simhash16Hof` (test scope) is the
    * executable spec it must match (DedupKernelSpec pins equality).
    */
  def simhash16(toks: Column): Column =
    graft.expressions.DedupExpressions.simhash16(toks)

  /** SimHash near-dup pairs: hamming distance ≤ maxHamming over 16-bit
    * simhashes, id1 < id2.
    *
    * Blocked, not all-pairs: the 16 bits are split into maxHamming+1
    * contiguous bands, and candidates come from an equi-join on
    * (band, band bits). By pigeonhole a pair with ≤ maxHamming differing
    * bits must agree on at least one band, so recall is exact; the
    * per-bucket join keeps the pair count near-linear — the same frame as
    * MinHash-LSH, but lossless. Exact hamming is verified on candidates.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 16,
      s"maxHamming must be in [0,15], got $maxHamming")
    val sh = graft.operators.Parallelism.ensure(
        df.select(col(idCol).as("doc_id"), col(textCol)))
      .select(col("doc_id"),
        simhash16(TextFunctions.tokens(col(textCol))).as("simhash"))
    val nBands = maxHamming + 1
    val bounds = (0 to nBands).map(i => i * 16 / nBands)
    val bandKeys = (0 until nBands).map { b =>
      val lo = bounds(b)
      val mask = (1 << (bounds(b + 1) - lo)) - 1
      struct(lit(b).as("band"),
        shiftright(col("simhash"), lo).bitwiseAND(lit(mask)).as("bits"))
    }
    val banded = sh.select(col("doc_id"), col("simhash"),
      explode(array(bandKeys: _*)).as("bk"))
    banded.as("a").join(banded.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        col("a.simhash").as("simhash1"), col("b.simhash").as("simhash2"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("simhash1").bitwiseXOR(col("simhash2"))))
      .filter(col("hamming") <= maxHamming)
  }
}
