package graft.similarity

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Brute-force cosine top-k is the exact baseline (one broadcast join, no
  * shuffle of the corpus). The scale path is random-hyperplane LSH: an
  * L-table bit-signature index whose buckets gate the candidate set, so the
  * per-query cost is O(bucket) instead of O(corpus). Hyperplanes are
  * deterministic (md5-derived ±1 components) so results are reproducible
  * across runs and engines.
  */
object Similarity {

  /** dot product of two double arrays (sequential fold → deterministic).
    * Native codegen'd kernel; `SimilarityHof.dotHof` (test scope) is the
    * documented pure-Column equivalent (bit-identical — VectorExprSpec
    * pins it).
    */
  def dot(a: Column, b: Column): Column =
    graft.expressions.VectorColumns.dotProduct(a, b)

  /** element-wise widening to double — a native Cast (codegen'd), identical
    * per-element semantics to `transform(v, _.cast("double"))`
    */
  def asDouble(v: Column): Column = v.cast("array<double>")

  def l2Norm(v: Column): Column = sqrt(dot(v, v))

  /** cosine similarity — one-pass native kernel, bit-identical to
    * `dot(a,b) / (l2Norm(a) * l2Norm(b))` (same fold order per accumulator).
    */
  def cosine(a: Column, b: Column): Column =
    graft.expressions.VectorColumns.cosineSim(a, b)

  /** Rank a scored candidate frame (query_id, neighbor_id, cos) down to the
    * top k per query with the bounded [[graft.operators.BoundedTopKAgg]]: map-side
    * partials keep ≤ k rows per (partition, query), so the exchange carries
    * O(|Q| × k) partial buffers — never the full scored set, which a
    * row_number window would shuffle wholesale. Ids must be integral
    * (cast to long); ranking order is (cos desc, neighbor_id asc), identical
    * to `row_number() OVER (ORDER BY cos DESC, neighbor_id)`.
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val tk = udaf(new graft.operators.BoundedTopKAgg[Scored](k, Scored.ordering))
    scored
      .select(col("query_id"), col("cos"), col("neighbor_id").cast("long").as("nid"))
      .groupBy("query_id")
      .agg(tk(col("cos"), col("nid")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("neighbor_id"), col("col.score").as("cos"))
  }

  /** Exact brute-force cosine top-k: for each row of `queries`, the k nearest
    * corpus rows (self excluded), ranked by (cosine desc, id asc).
    * The query side is broadcast — the corpus is scanned once, never
    * shuffled — and the rank is a bounded top-k aggregate, so only k rows
    * per (query, partition) reach the exchange.
    */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("cv"))
    val scored = broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("qv"), col("cv")))
    rankTopK(scored, k)
  }

  /** Hard-negative mining for contrastive training (the DPR/Contriever
    * recipe): for each query row, the k nearest corpus rows whose LABEL
    * differs from the query's — the near-misses that teach an embedding
    * model its decision boundary, where random negatives teach nothing.
    * Same scale shape as [[cosineTopK]]: queries broadcast, the corpus is
    * scanned once and never shuffled, the label filter rides the broadcast
    * join condition, and the rank is the bounded top-k aggregate.
    */
  def hardNegativesTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qv"), col(labelCol).as("_graft_qlab"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("cv"), col(labelCol).as("_graft_clab"))
    val scored = broadcast(q).join(c,
        col("query_id") =!= col("neighbor_id")
          && col("_graft_qlab") =!= col("_graft_clab"))
      .withColumn("cos", cosine(col("qv"), col("cv")))
    rankTopK(scored, k)
  }

  /** Recall@k audit: the accept-or-retune gate run before trusting an ANN
    * index at scale — per query, how many of the EXACT top-k neighbors
    * (`exact`, e.g. [[cosineTopK]] on a held-out slice) the approximate
    * path (`approx`, e.g. [[annTopK]] or [[ivfTopK]]) actually returned.
    * `recall_ppm` is exact integer ppm of k. Queries the approx side
    * missed entirely score 0 (left join), so a bucketing bug shows up as
    * a hard zero, not a silently absent row.
    *
    * Scale shape: both inputs are queries×k rows (the ground-truth side is
    * a SAMPLE of queries by construction — exact top-k over the full
    * corpus is the expensive path being audited); the join and the
    * per-query count are query-scale, never corpus-scale.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame, queryCol: String,
      neighborCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    exact.select(col(queryCol), col(neighborCol))
      .join(approx.select(col(queryCol), col(neighborCol))
          .withColumn("_graft_hit", lit(1L)),
        Seq(queryCol, neighborCol), "left")
      .groupBy(col(queryCol))
      .agg(sum(coalesce(col("_graft_hit"), lit(0L))).as("n_hit"))
      .withColumn("recall_ppm", expr(s"(n_hit * 1000000) div $k"))
  }

  /** Deterministic ±1 hyperplane components: parity of the first hex nibble
    * of md5("plane:j:i"). Same formula is reproducible in the SQL oracle.
    */
  def planeComponent(j: Int, i: Int): Double = {
    val d = MessageDigest.getInstance("MD5")
      .digest(s"plane:$j:$i".getBytes("UTF-8"))
    if (((d(0) >> 4) & 1) == 0) 1.0 else -1.0
  }

  def planes(nPlanes: Int, dim: Int): Seq[Seq[Double]] =
    (0 until nPlanes).map(j => (0 until dim).map(i => planeComponent(j, i)))

  /** Bit signature: bit j = (v · plane_j) >= 0. Returns an array of L bucket
    * strings, `bitsPerTable` bits each (multi-table LSH: candidates share at
    * least one table bucket).
    */
  def lshBuckets(vec: Column, nPlanes: Int, dim: Int, bitsPerTable: Int): Column = {
    val ps = planes(nPlanes, dim)
    val bits: Seq[Column] = ps.map { p =>
      val planeLit = array(p.map(lit): _*)
      when(dot(vec, planeLit) >= 0, lit("1")).otherwise(lit("0"))
    }
    val tables = bits.grouped(bitsPerTable).toSeq
    array(tables.zipWithIndex.map { case (tb, t) =>
      concat(lit(s"$t:"), concat(tb: _*))
    }: _*)
  }

  /** IVF-style ANN with a constant-size coarse quantizer: the centroid set is
    * the `nCentroids` corpus rows with the smallest md5(id) — a deterministic
    * pseudo-random sample whose size is independent of |corpus| (picked with
    * a TakeOrdered, i.e. per-partition top-k + driver merge, no shuffle) and
    * reproducible in the SQL oracle. The centroids are inlined as literal
    * arrays, so nearest-centroid assignment is pure per-row codegen'd
    * column work — no join, no window, no shuffle; corpus rows land in their
    * single nearest inverted list, queries probe the `nProbe` nearest lists.
    * At 100 TB the cost is O(|corpus| × nCentroids) flops on the scan plus
    * one equi-join keyed by cent_id: a query touches ~nProbe/nCentroids of
    * the corpus instead of all of it.
    */
  /** the deterministic md5-sampled seed centroid set (size independent of
    * |corpus|, reproducible in the SQL oracle)
    */
  private def sampledCentroids(corpus: DataFrame, idCol: String,
      vecCol: String, nCentroids: Int): Seq[(Any, Seq[Double])] =
    corpus
      .select(col(idCol).as("cent_id"), asDouble(col(vecCol)).as("cv"))
      .orderBy(md5(col("cent_id").cast("string").cast("binary")), col("cent_id"))
      .limit(nCentroids)
      .collect()
      .map(r => (r.get(0), r.getSeq[Double](1))).toSeq

  /** nearest `n` centroid ids of a vector, ordered (cos desc, cent_id asc):
    * score every centroid literal, sort the (−cos, cent_id) structs, slice —
    * pure per-row column work, no join, no shuffle
    */
  private def nearestOf(cents: Seq[(Any, Seq[Double])], v: Column,
      n: Int): Column = {
    val scoredCents = array(cents.map { case (cid, cv) =>
      struct((-cosine(v, array(cv.map(lit): _*))).as("neg"),
        lit(cid).as("cent_id"))
    }: _*)
    transform(slice(array_sort(scoredCents), 1, n), s => s.getField("cent_id"))
  }

  private def ivfWithCentroids(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, cents: Seq[(Any, Seq[Double])],
      nProbe: Int): DataFrame = {
    val lists = corpus
      .select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv2"))
      .withColumn("cent_id", element_at(nearestOf(cents, col("cv2"), 1), 1))
    val probes = queries
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("cent_id", explode(nearestOf(cents, col("qv"), nProbe)))
    val scored = probes.join(lists, Seq("cent_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("qv"), col("neighbor_id"), col("cv2"))
      .distinct()
      .withColumn("cos", cosine(col("qv"), col("cv2")))
    rankTopK(scored, k)
  }

  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, nCentroids: Int = 32,
      nProbe: Int = 2): DataFrame =
    ivfWithCentroids(queries, corpus, idCol, vecCol, k,
      sampledCentroids(corpus, idCol, vecCol, nCentroids), nProbe)

  final case class KMeansModel(centroids: Seq[(Any, Seq[Double])],
      inertia: Seq[Double])

  /** Spherical k-means (Lloyd) refinement of the sampled seed centroids:
    * each iteration assigns every corpus vector to its nearest centroid by
    * cosine (per-row against the centroid literals — no join) and replaces
    * each centroid with the mean of its cluster's L2-NORMALIZED members
    * (per-dimension distributed sums via posexplode; k × dim cells come
    * back to the driver). Normalizing before averaging is what makes the
    * spherical objective sum(1 − cos) non-increasing for mixed-norm inputs
    * — the raw mean is dominated by large-norm members and can move the
    * centroid AWAY from the cosine-optimal direction. Zero-norm vectors are
    * excluded from training (cosine is undefined for them); empty clusters
    * keep their previous centroid. `inertia` records sum(1 − cos) per
    * iteration — non-increasing up to float wobble, the convergence signal.
    *
    * Cost: `iters` scans of the corpus with O(k × dim) flops per row — the
    * textbook k-means cost model; each Lloyd iteration is ONE Spark job
    * (the inertia rides along in the per-(centroid, dimension) cell
    * aggregate). At 100 TB set `sampleFraction` — training quality needs a
    * sample, not the corpus; the deterministic hash sample keeps the
    * trained model reproducible across runs.
    */
  def trainCentroidsKMeans(corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, iters: Int, sampleFraction: Double = 1.0): KMeansModel = {
    val sampled =
      if (sampleFraction >= 1.0) corpus
      else graft.sampling.Sampling.hashSample(corpus, idCol, sampleFraction,
        "kmeans-train")
    // zero-norm vectors can't participate in cosine k-means: exclude them
    // from seeding too (a zero seed would be a permanently-dead NaN centroid)
    val trainable = sampled.filter(
      sqrt(dot(asDouble(col(vecCol)), asDouble(col(vecCol)))) > 0)
    var cents: Seq[(Any, Seq[Double])] =
      sampledCentroids(trainable, idCol, vecCol, nCentroids)
        .zipWithIndex.map { case ((_, cv), i) => (i: Any, cv) }
    val raw = trainable.select(asDouble(col(vecCol)).as("v0"))
    val vecs = raw
      .withColumn("_n", sqrt(dot(col("v0"), col("v0"))))
      .filter(col("_n") > 0)
      .select(transform(col("v0"), x => x / col("_n")).as("v"))
    val inertias = Seq.newBuilder[Double]
    for (_ <- 0 until iters) {
      val best = element_at(slice(array_sort(array(cents.map { case (cid, cv) =>
        struct((-cosine(col("v"), array(cv.map(lit): _*))).as("neg"),
          lit(cid).as("cent_id"))
      }: _*)), 1, 1), 1)
      val assigned = vecs.select(col("v"),
        best.getField("cent_id").as("cid"),
        (lit(1.0) + best.getField("neg")).as("dist")) // 1 - cos
      // ONE job per iteration: every (cid, d) cell aggregates the same set
      // of member rows, so sum(dist) over the d=0 cells is the inertia —
      // no separate inertia pass, no persist needed
      val cellRows = assigned
        .select(col("cid"), col("dist"), posexplode(col("v")).as(Seq("d", "x")))
        .groupBy(col("cid"), col("d"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"),
          sum(col("dist")).as("sd"))
        .collect()
      inertias += cellRows.filter(_.getInt(1) == 0).map(_.getDouble(4)).sum
      val cells = cellRows.groupBy(_.getInt(0))
      cents = cents.map { case (cid, old) =>
        cells.get(cid.asInstanceOf[Int]) match {
          case Some(rows) =>
            val mean = rows.sortBy(_.getInt(1))
              .map(r => r.getDouble(2) / r.getLong(3)).toSeq
            (cid, mean)
          case None => (cid, old) // empty cluster keeps its centroid
        }
      }
    }
    KMeansModel(cents, inertias.result())
  }

  /** IVF ANN over Lloyd-trained centroids — the quality step beyond the
    * deterministic sampled quantizer (which remains the oracle-checked
    * default, q36)
    */
  def ivfTopKTrained(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, nCentroids: Int = 32, nProbe: Int = 2,
      iters: Int = 3): DataFrame = {
    val model = trainCentroidsKMeans(corpus, idCol, vecCol, nCentroids, iters)
    ivfWithCentroids(queries, corpus, idCol, vecCol, k, model.centroids, nProbe)
  }

  /** DuckDB SQL fragment replicating [[lshBuckets]] for a DOUBLE[] column
    * named `v` — generated from the same deterministic hyperplanes so a SQL
    * oracle can reproduce the bucketing bit-for-bit.
    */
  def lshBucketsSql(nPlanes: Int, dim: Int, bitsPerTable: Int): String = {
    val bitExprs = planes(nPlanes, dim).map { p =>
      val arr = p.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ",", "]")
      s"CASE WHEN list_dot_product(v, $arr) >= 0 THEN '1' ELSE '0' END"
    }
    bitExprs.grouped(bitsPerTable).toSeq.zipWithIndex.map {
      case (tb, t) => s"'$t:' || " + tb.mkString(" || ")
    }.mkString("[", ",\n", "]")
  }

  /** Embedding near-duplicate pairs at scale: candidates come from shared
    * LSH buckets (equi-join keyed by bucket — the corpus is never
    * cross-joined), then exact cosine ≥ threshold verifies. Same frame as
    * MinHash-LSH text dedup; recall follows the LSH table parameters (the
    * all-pairs formulation stays available as the exact baseline).
    */
  def nearDupPairsLsh(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nPlanes: Int = 24, dim: Int = 64,
      bitsPerTable: Int = 6): DataFrame = {
    val b = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"),
        explode(lshBuckets(asDouble(col(vecCol)), nPlanes, dim, bitsPerTable))
          .as("bk"))
    val cand = b.as("a").join(b.as("b"),
        col("a.bk") === col("b.bk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("a.v").as("v1"),
        col("b.id").as("id2"), col("b.v").as("v2"))
    // verify BEFORE deduplicating: a pair sharing several buckets scores
    // its (cheap, native-kernel) cosine once per shared bucket, but the
    // distinct then exchanges only the surviving (id1, id2) rows — not
    // every candidate with both 64-dim vectors in tow, which is what
    // dominates the shuffle at corpus scale
    cand.withColumn("cos", cosine(col("v1"), col("v2")))
      .filter(col("cos") >= threshold)
      .select(col("id1"), col("id2"))
      .distinct()
  }

  /** ANN top-k via multi-table hyperplane LSH: candidates = corpus rows
    * sharing any bucket with the query, then exact cosine rank within
    * candidates. May return fewer than k per query (approximate recall) —
    * that's the contract of ANN; increase tables/lower bits for recall.
    */
  def annTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, nPlanes: Int = 24, dim: Int = 64,
      bitsPerTable: Int = 8): DataFrame = {
    // r17 optimization round: candidates deduplicate as bare (query_id,
    // neighbor_id) pairs — the r16 shape ran distinct() over rows carrying
    // BOTH 64-dim double vectors (~1 KB/row through the exchange, §2.3) —
    // and the vectors attach after: the corpus vector via one id equi-join
    // (the only place corpus payload moves), the bounded query side via a
    // broadcast. Same candidate set, same cosine, strictly narrower
    // exchanges at any scale.
    def withBuckets(df: DataFrame, id: String) =
      df.select(col(idCol).as(id),
          explode(lshBuckets(asDouble(col(vecCol)), nPlanes, dim,
            bitsPerTable)).as(s"bk_$id"))
    val q = withBuckets(queries, "query_id")
    val c = withBuckets(corpus, "neighbor_id")
    val candIds = broadcast(q).join(c,
        col("bk_query_id") === col("bk_neighbor_id")
          && col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
    val cand = candIds
      .join(corpus.select(col(idCol).as("neighbor_id"),
        asDouble(col(vecCol)).as("cv")), Seq("neighbor_id"))
      .join(broadcast(queries.select(col(idCol).as("query_id"),
        asDouble(col(vecCol)).as("qv"))), Seq("query_id"))
    rankTopK(cand.withColumn("cos", cosine(col("qv"), col("cv"))), k)
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): drop all but one
    * representative of every group of semantically near-identical
    * embeddings. The paper bounds the pairwise cost by k-means cells; the
    * engine's deterministic equivalent uses the same LSH cells as
    * [[nearDupPairsLsh]] (the trained-quantizer IVF cells plug in the same
    * way, but hyperplane cells are reproducible in a SQL oracle). Where the
    * paper drops greedily in scan order — order-dependent on a cluster —
    * this keeps the MINIMUM id of each connected near-dup component
    * (transitive closure over cell-local pairs): deterministic under any
    * partitioning, and reuses the engine's distributed CC (degree-1 cut +
    * size-gated union-find / pointer-doubling loop).
    *
    * Output: one row per input id, `rep_id` = the kept representative
    * (itself when nothing similar); `keep = rep_id == id` filters the
    * deduplicated corpus. Scale shape: bucket equi-join for pairs (never
    * all-pairs), one CC over only the near-dup subgraph, one left join back.
    */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nPlanes: Int = 24, dim: Int = 64,
      bitsPerTable: Int = 6): DataFrame =
    semDedupFromPairs(corpus.select(col(idCol)), idCol,
      nearDupPairsLsh(corpus, idCol, vecCol, threshold,
        nPlanes, dim, bitsPerTable))

  /** the grouping half of [[semDedup]] over any (id1, id2) similar-pair
    * source — LSH cells, trained-IVF cell joins, or the exact all-pairs
    * baseline — so the cell strategy and the dedup semantics compose
    * independently
    */
  def semDedupFromPairs(ids: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    // length-prefixed pair key: a bare "id1:id2" concat is ambiguous for
    // string ids that may themselves contain the delimiter ("a"+"b:c" vs
    // "a:b"+"c" would collide and spuriously merge unrelated components)
    val id1s = col("id1").cast("string")
    val pairKey = concat(length(id1s).cast("string"), lit(":"), id1s,
      col("id2").cast("string"))
    val edges = pairs.select(col("id1").as("id"), pairKey.as("key"))
      .union(pairs.select(col("id2").as("id"), pairKey.as("key")))
    val comps = graft.cluster.Clusterize.connectedComponents(edges)
      .withColumnRenamed("id", idCol)
    ids.select(col(idCol))
      .join(comps, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("rep_id"))
      .withColumn("keep", col("rep_id") === col(idCol))
  }
}
