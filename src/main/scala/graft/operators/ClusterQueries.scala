package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.cluster.{Clusterize, GraphStats}
import graft.dedup.Dedup
import graft.text.TextFunctions

/** The clustering operator (SURVEY.md §2.9) driven through the gate: the
  * reference's record↔match-value connected components, here applied to the
  * documents table with MinHash-LSH band hashes as the match values — the
  * same explode-probe-merge frame generalized to approximate dedup
  * (SURVEY.md §7.1 step 8).
  *
  * Oracle: DuckDB recursive-CTE min-label propagation over the identical
  * bipartite graph.
  */
object ClusterQueries {

  /** The near-duplicate components q30, q74, q95, q113 and q227 share:
    * the documents' 3-word shingles, 16 minhashes in 4 bands, connected
    * through shared band keys. Returns `(doc_id, component, extra…)`;
    * `extra` columns come from the shingle scan and may read `text`.
    */
  private def nearDupComponents(t: Tables, extra: Column*): DataFrame = {
    val docs = Dedup.docShingles(t.documents, "doc_id", "text", 3, extra: _*)
    val cc = Dedup.nearDupComponents(docs, numHashes = 16, bands = 4)
      .withColumnRenamed("id", "doc_id")
    if (extra.isEmpty) cc else cc.join(docs.drop("sh"), "doc_id")
  }

  /** DuckDB twin of [[nearDupComponents]]: `lbl(doc_id, comp)`, the
    * min-label propagation over the band-key graph (min(comp) per doc is
    * its component) */
  private val nearDupCte =
    s"""WITH RECURSIVE
       |${TextDedupQueries.shinglesCte},
       |signed AS (
       |  SELECT doc_id, ${Dedup.minhashSigSql("sh", 16)} AS sig
       |  FROM docs),
       |banded AS (SELECT doc_id, unnest(range(0, 4)) AS band, sig FROM signed),
       |bh AS (
       |  SELECT doc_id, CAST(band AS VARCHAR) || ':' ||
       |    ${TextDedupQueries.bandMd5Sql} AS key
       |  FROM banded),
       |lbl AS (
       |  SELECT doc_id, doc_id AS comp FROM (SELECT DISTINCT doc_id FROM bh)
       |  UNION
       |  SELECT b2.doc_id, l.comp
       |  FROM lbl l JOIN bh b1 ON b1.doc_id = l.doc_id JOIN bh b2 ON b2.key = b1.key)""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q30_cluster_near_dups",
      (s, d) => {
        nearDupComponents(Tables(s, d))
          .select(col("doc_id"), col("component").as("cluster_rep"))
          .orderBy(col("doc_id"))
      },
      Some(s"""$nearDupCte
             |SELECT doc_id, min(comp) AS cluster_rep FROM lbl
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      headline = true),

    // ---- leakage-safe split: every member of a near-dup component lands
    // on the same side (the split-level complement of decontamination)
    Q("q74_leakage_safe_split",
      (s, d) => {
        graft.sampling.Sampling.groupSplit(
            nearDupComponents(Tables(s, d))
              .select(col("doc_id"), col("component").as("group")),
            "group", testFraction = 0.2, salt = "split")
          .orderBy(col("doc_id"))
      },
      Some(s"""$nearDupCte,
             |grp AS (SELECT doc_id, min(comp) AS grp FROM lbl GROUP BY doc_id)
             |SELECT doc_id, grp AS "group",
             |  CASE WHEN substr(md5('split:' || CAST(grp AS VARCHAR)), 1, 8)
             |      < printf('%08x', CAST(trunc(0.2 * 4294967296.0) AS BIGINT))
             |    THEN 'test' ELSE 'train' END AS split
             |FROM grp ORDER BY doc_id""".stripMargin)),

    // ---- near-dup component SIZE histogram (dedup data-card signal): the
    // q30 components collapsed to (cluster_size, n_clusters) — catches a
    // too-lax banding collapsing the corpus into one giant component
    Q("q95_cluster_sizes",
      (s, d) => {
        Clusterize.componentSizeHistogram(
            nearDupComponents(Tables(s, d)), "component")
          .orderBy(col("cluster_size"))
      },
      Some(s"""$nearDupCte,
             |comp AS (SELECT doc_id, min(comp) AS cluster_rep FROM lbl GROUP BY doc_id),
             |sizes AS (SELECT cluster_rep, CAST(count(*) AS BIGINT) AS cluster_size
             |  FROM comp GROUP BY cluster_rep)
             |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
             |FROM sizes GROUP BY cluster_size ORDER BY cluster_size""".stripMargin)),

    // ---- best-of-cluster representative selection: instead of min-id
    // (q72's SemDeDup convention), keep each near-dup component's HIGHEST
    // QUALITY member (TTR ppm, tiebreak min doc_id) — the curation upgrade
    // that keeps the cleanest copy of every boilerplate family. One
    // partial-agg'd max(struct) per component after CC; quality is per-row.
    Q("q113_cluster_representative",
      (s, d) => {
        nearDupComponents(Tables(s, d), TextFunctions.tokens(col("text")).as("w"))
          .withColumn("q_ppm",
            expr("(CAST(size(array_distinct(w)) AS BIGINT) * 1000000) div size(w)"))
          .groupBy(col("component"))
          .agg(count(lit(1)).as("cluster_size"),
            max(struct(col("q_ppm"), (-col("doc_id")).as("_negid"))).as("_best"))
          .select(col("component"), (-col("_best._negid")).as("rep_doc_id"),
            col("_best.q_ppm").as("rep_q_ppm"), col("cluster_size"))
          .orderBy(col("component"))
      },
      Some(s"""$nearDupCte,
             |comp AS (SELECT doc_id, min(comp) AS component FROM lbl GROUP BY doc_id),
             |q AS (SELECT doc_id,
             |    (CAST(len(list_distinct(t)) AS BIGINT) * 1000000) // CAST(len(t) AS BIGINT) AS q_ppm
             |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t FROM documents))
             |SELECT component,
             |  arg_max(c.doc_id,
             |    CAST(q.q_ppm AS HUGEINT) * 8796093022208 - c.doc_id) AS rep_doc_id,
             |  CAST(max(q.q_ppm) AS BIGINT) AS rep_q_ppm,
             |  CAST(count(*) AS BIGINT) AS cluster_size
             |FROM comp c JOIN q ON q.doc_id = c.doc_id
             |GROUP BY component ORDER BY component""".stripMargin)),

    // ---- Fellegi-Sunter probabilistic linkage scoring: blocked candidate
    // pairs (nation x $1000 balance band), three compared fields with
    // integer milli log-likelihood weights, exact score histogram. The
    // scoring complement of the matchkey world's exact-key clustering —
    // quadratic cost bounded by the largest block, like every blocked
    // pairwise operator here
    Q("q143_fs_linkage",
      (s, d) => {
        val t = Tables(s, d)
        val c = t.customer.select(
          col("c_custkey").as("id"), col("c_nationkey").as("nk"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal"),
          col("c_mktsegment").as("seg"),
          (regexp_extract(col("c_name"), "[0-9]+", 0).cast("long") % 97)
            .as("code"))
          .withColumn("band", expr("bal div 100000"))
        graft.dedup.RecordLinkage.scoreHistogram(c, "id", Seq("nk", "band"),
            Seq(
              graft.dedup.RecordLinkage.FsField("seg", (a, b) => a === b,
                2170L, -3000L),
              graft.dedup.RecordLinkage.FsField("bal",
                (a, b) => abs(a - b) <= 10000L, 3000L, -2170L),
              graft.dedup.RecordLinkage.FsField("code", (a, b) => a === b,
                6129L, -1722L)))
          .orderBy(col("score_milli"))
      },
      Some("""WITH c AS (SELECT c_custkey AS id, c_nationkey AS nk,
             |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal,
             |    c_mktsegment AS seg,
             |    CAST(regexp_extract(c_name, '[0-9]+') AS BIGINT) % 97 AS code,
             |    CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS band
             |  FROM customer),
             |p AS (SELECT
             |    CASE WHEN a.seg = b.seg THEN 2170 ELSE -3000 END
             |    + CASE WHEN abs(a.bal - b.bal) <= 10000 THEN 3000 ELSE -2170 END
             |    + CASE WHEN a.code = b.code THEN 6129 ELSE -1722 END AS score_milli
             |  FROM c a JOIN c b ON a.nk = b.nk AND a.band = b.band AND a.id < b.id)
             |SELECT CAST(score_milli AS BIGINT) AS score_milli,
             |  CAST(count(*) AS BIGINT) AS n_pairs
             |FROM p GROUP BY score_milli ORDER BY score_milli""".stripMargin)),

    // ---- triangle census of the embedding near-dup graph (q38's edges):
    // wedges from one degree aggregate, triangles from the oriented
    // two-equi-join (a<b<c, each triangle once), global clustering
    // coefficient in ppm — cliquey mirror-sets vs chainy near-miss strings
    Q("q148_triangle_census",
      (s, d) => {
        val t = Tables(s, d)
        val edges = graft.similarity.Similarity.nearDupPairsLsh(
          t.embeddings, "vec_id", "embedding",
          threshold = 0.42, nPlanes = 24, dim = 64, bitsPerTable = 6)
        GraphStats.triangleCensus(edges, "id1", "id2")
      },
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              |bk AS (SELECT vec_id, v, unnest(${graft.similarity.Similarity.lshBucketsSql(24, 64, 6)}) AS bucket FROM e),
              |cand AS (SELECT DISTINCT a.vec_id AS id1, a.v AS v1, b.vec_id AS id2, b.v AS v2
              |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
              |p AS (SELECT id1 AS a, id2 AS b FROM cand
              |  WHERE list_dot_product(v1, v2)
              |    / (sqrt(list_dot_product(v1, v1)) * sqrt(list_dot_product(v2, v2))) >= 0.42),
              |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS d FROM
              |  (SELECT a AS v FROM p UNION ALL SELECT b AS v FROM p) GROUP BY v),
              |base AS (SELECT CAST(count(*) AS BIGINT) AS n_vertices,
              |    CAST(sum(d) // 2 AS BIGINT) AS n_edges,
              |    CAST(sum((d * (d - 1)) // 2) AS BIGINT) AS n_wedges FROM deg),
              |tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
              |  FROM p e1 JOIN p e2 ON e1.b = e2.a
              |    JOIN p e3 ON e1.a = e3.a AND e2.b = e3.b)
              |SELECT n_vertices, n_edges, n_wedges, n_triangles,
              |  CASE WHEN n_wedges > 0
              |    THEN (3 * n_triangles * 1000000) // n_wedges END AS gcc_ppm
              |FROM base, tri""".stripMargin)),

    // ---- fixed-iteration PageRank in exact integer micro-mass over the
    // same near-dup graph: centrality-based canonical-representative
    // ranking; one join + one aggregate per iteration, all vertex-keyed
    Q("q149_pagerank",
      (s, d) => {
        val t = Tables(s, d)
        val edges = graft.similarity.Similarity.nearDupPairsLsh(
          t.embeddings, "vec_id", "embedding",
          threshold = 0.42, nPlanes = 24, dim = 64, bitsPerTable = 6)
        GraphStats.pageRank(edges, "id1", "id2", iterations = 3)
          .orderBy(col("v"))
      },
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              |bk AS (SELECT vec_id, v, unnest(${graft.similarity.Similarity.lshBucketsSql(24, 64, 6)}) AS bucket FROM e),
              |cand AS (SELECT DISTINCT a.vec_id AS id1, a.v AS v1, b.vec_id AS id2, b.v AS v2
              |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
              |p AS (SELECT id1 AS a, id2 AS b FROM cand
              |  WHERE list_dot_product(v1, v2)
              |    / (sqrt(list_dot_product(v1, v1)) * sqrt(list_dot_product(v2, v2))) >= 0.42),
              |b AS (SELECT a AS src, b AS dst FROM p UNION ALL SELECT b, a FROM p),
              |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM b GROUP BY src),
              |i1 AS (SELECT bb.dst AS v, CAST(sum(1000000 // deg.d) AS BIGINT) AS s
              |  FROM b bb JOIN deg ON bb.src = deg.src GROUP BY bb.dst),
              |r1 AS (SELECT deg.src AS v,
              |    CAST(150000 + (850000 * coalesce(i1.s, 0)) // 1000000 AS BIGINT) AS r
              |  FROM deg LEFT JOIN i1 ON i1.v = deg.src),
              |i2 AS (SELECT bb.dst AS v, CAST(sum(r1.r // deg.d) AS BIGINT) AS s
              |  FROM b bb JOIN deg ON bb.src = deg.src
              |    JOIN r1 ON r1.v = bb.src GROUP BY bb.dst),
              |r2 AS (SELECT deg.src AS v,
              |    CAST(150000 + (850000 * coalesce(i2.s, 0)) // 1000000 AS BIGINT) AS r
              |  FROM deg LEFT JOIN i2 ON i2.v = deg.src),
              |i3 AS (SELECT bb.dst AS v, CAST(sum(r2.r // deg.d) AS BIGINT) AS s
              |  FROM b bb JOIN deg ON bb.src = deg.src
              |    JOIN r2 ON r2.v = bb.src GROUP BY bb.dst),
              |r3 AS (SELECT deg.src AS v,
              |    CAST(150000 + (850000 * coalesce(i3.s, 0)) // 1000000 AS BIGINT) AS r
              |  FROM deg LEFT JOIN i3 ON i3.v = deg.src)
              |SELECT v, r AS rank_micro FROM r3 ORDER BY v""".stripMargin)),

    // ---- Newman modularity of the connected-component partition over the
    // same near-dup graph: did banding find real structure (Q ≈ 1 for
    // clean mirror-sets) or percolated mush (Q → 0)? ALL row = global Q
    Q("q163_modularity",
      (s, d) => {
        val t = Tables(s, d)
        val edges = graft.similarity.Similarity.nearDupPairsLsh(
          t.embeddings, "vec_id", "embedding",
          threshold = 0.42, nPlanes = 24, dim = 64, bitsPerTable = 6)
        val id1s = col("id1").cast("string")
        val bip = edges.select(col("id1").as("id"),
            concat(id1s, lit(":"), col("id2").cast("string")).as("key"))
          .union(edges.select(col("id2").as("id"),
            concat(id1s, lit(":"), col("id2").cast("string")).as("key")))
        val comps = graft.cluster.Clusterize.connectedComponents(bip)
        GraphStats.modularity(edges, "id1", "id2", comps, "id", "component")
          .orderBy(col("comp"))
      },
      Some(s"""WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              |bk AS (SELECT vec_id, v, unnest(${graft.similarity.Similarity.lshBucketsSql(24, 64, 6)}) AS bucket FROM e),
              |cand AS (SELECT DISTINCT a.vec_id AS id1, a.v AS v1, b.vec_id AS id2, b.v AS v2
              |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
              |p AS (SELECT id1 AS a, id2 AS b FROM cand
              |  WHERE list_dot_product(v1, v2)
              |    / (sqrt(list_dot_product(v1, v1)) * sqrt(list_dot_product(v2, v2))) >= 0.42),
              |adj AS (SELECT a AS v, b AS w FROM p UNION ALL SELECT b, a FROM p),
              |verts AS (SELECT DISTINCT v FROM adj),
              |lbl AS (SELECT v, v AS comp FROM verts
              |  UNION
              |  SELECT adj.w AS v, lbl.comp FROM lbl
              |  JOIN adj ON adj.v = lbl.v AND lbl.comp < adj.w),
              |cmp AS (SELECT v, min(comp) AS comp FROM lbl GROUP BY v),
              |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY v),
              |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM p),
              |bc AS (SELECT cmp.comp, CAST(count(*) AS BIGINT) AS n_vertices,
              |    CAST(sum(deg.d) AS BIGINT) AS degree_sum
              |  FROM deg JOIN cmp USING (v) GROUP BY cmp.comp),
              |ie AS (SELECT ca.comp, CAST(count(*) AS BIGINT) AS intra_edges
              |  FROM p JOIN cmp ca ON ca.v = p.a JOIN cmp cb ON cb.v = p.b
              |  WHERE ca.comp = cb.comp GROUP BY ca.comp),
              |per AS (SELECT bc.comp, n_vertices,
              |    CAST(coalesce(ie.intra_edges, 0) AS BIGINT) AS intra_edges, degree_sum,
              |    4 * CAST(m.m AS HUGEINT) * coalesce(ie.intra_edges, 0)
              |      - CAST(degree_sum AS HUGEINT) * degree_sum AS num, m.m AS m
              |  FROM bc LEFT JOIN ie ON ie.comp = bc.comp, m)
              |SELECT comp, n_vertices, intra_edges, degree_sum,
              |  CAST((num * 1000000) // (4 * CAST(m AS HUGEINT) * m) AS BIGINT) AS q_ppm
              |FROM per
              |UNION ALL
              |SELECT CAST(-1 AS BIGINT), CAST(sum(n_vertices) AS BIGINT),
              |  CAST(sum(intra_edges) AS BIGINT), CAST(sum(degree_sum) AS BIGINT),
              |  CAST((sum(num) * 1000000) // (4 * CAST(max(m) AS HUGEINT) * max(m))
              |    AS BIGINT)
              |FROM per
              |ORDER BY comp""".stripMargin)),

    // ---- canonical-selection policy audit over the q30 near-dup
    // components: real pipelines keep the LONGEST member of a near-dup
    // cluster (FineWeb-style), not the smallest id — this census shows,
    // per multi-doc cluster, which document each policy keeps and how
    // many tokens the longest-copy policy saves (`swapped` = the two
    // policies disagree). Ties on length break to the smaller id, so both
    // policies (and both engines) are deterministic. Scale shape: the CC
    // label frame joins the bounded per-doc token-count projection on id
    // (no text moves), then two cluster-keyed partial aggs.
    Q("q227_canonical_policy",
      (s, d) => {
        val t = Tables(s, d)
        val cc = nearDupComponents(t)
          .select(col("doc_id"), col("component").as("cluster_rep"))
        val nTok = t.documents.select(col("doc_id"),
          size(filter(TextFunctions.tokens(col("text")),
            x => x =!= lit(""))).cast("long").as("n_tok"))
        // the labeled frame feeds THREE consumers (cluster agg, longest
        // probe, min-id token lookup), but connectedComponents already
        // CHECKPOINTS its label frame each round, so the consumers share
        // the iterative work — an extra persist here was A/B'd at 100×
        // in r14 and measured NEGATIVE (cold 11.5 → 14.2 s: one more
        // materialization barrier, nothing saved); it stays unpersisted
        val m = cc.join(nTok, "doc_id")
        val agg = m.groupBy(col("cluster_rep"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("doc_id")).as("canon_minid"),
            max(col("n_tok")).as("tokens_longest"))
          .filter(col("n_docs") >= 2)
        val longest = m.join(agg.select(col("cluster_rep"),
            col("tokens_longest")), "cluster_rep")
          .filter(col("n_tok") === col("tokens_longest"))
          .groupBy(col("cluster_rep"))
          .agg(min(col("doc_id")).as("canon_longest"))
        val minTok = m.select(col("cluster_rep"),
          col("doc_id").as("canon_minid"), col("n_tok").as("tokens_minid"))
        agg.join(longest, "cluster_rep")
          .join(minTok, Seq("cluster_rep", "canon_minid"))
          .select(col("cluster_rep"), col("n_docs"), col("canon_minid"),
            col("canon_longest"), col("tokens_minid"),
            col("tokens_longest"),
            when(col("canon_minid") =!= col("canon_longest"), 1L)
              .otherwise(0L).as("swapped"))
          .orderBy(col("cluster_rep"))
      },
      Some(s"""$nearDupCte,
              |cc AS (SELECT doc_id, min(comp) AS cluster_rep FROM lbl
              |  GROUP BY doc_id),
              |nt AS (SELECT doc_id, CAST(len(list_filter(
              |    regexp_split_to_array(text, '\\s+'), x -> x <> ''))
              |    AS BIGINT) AS n_tok FROM documents),
              |m AS (SELECT cc.doc_id, cluster_rep, n_tok
              |  FROM cc JOIN nt USING (doc_id)),
              |agg AS (SELECT cluster_rep, CAST(count(*) AS BIGINT) AS n_docs,
              |    min(doc_id) AS canon_minid,
              |    max(n_tok) AS tokens_longest
              |  FROM m GROUP BY cluster_rep HAVING count(*) >= 2),
              |lng AS (SELECT m.cluster_rep, min(m.doc_id) AS canon_longest
              |  FROM m JOIN agg USING (cluster_rep)
              |  WHERE m.n_tok = agg.tokens_longest GROUP BY m.cluster_rep)
              |SELECT agg.cluster_rep, n_docs, canon_minid, canon_longest,
              |  mi.n_tok AS tokens_minid, tokens_longest,
              |  CASE WHEN canon_minid <> canon_longest THEN CAST(1 AS BIGINT)
              |    ELSE CAST(0 AS BIGINT) END AS swapped
              |FROM agg JOIN lng USING (cluster_rep)
              |JOIN m mi ON mi.cluster_rep = agg.cluster_rep
              |  AND mi.doc_id = agg.canon_minid
              |ORDER BY agg.cluster_rep""".stripMargin))
  )
}
