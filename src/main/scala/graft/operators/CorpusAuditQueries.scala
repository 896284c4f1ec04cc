package graft.operators

import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.{Dedup, PassageDedup}
import graft.similarity.Projection
import graft.text.TextFunctions

/** Round-9 corpus-engineering operators: passage-level (sub-document)
  * dedup with reassembly, duplication-aware soft-dedup weights,
  * sequence-length bucketing / padding-waste audit, and n-gram diversity
  * (type-token ratio) profiling.
  *
  * Oracle parity: pure integer arithmetic end-to-end (counts, ppm ratios via
  * integer div, power-of-two caps via binary-string length — no libm).
  */
object CorpusAuditQueries {

  def all: Seq[Q] = Seq(

    // ---- passage-level dedup (the paragraph-dedup step of web pipelines):
    // 10-word windows, global first occurrence kept, survivors reassembled
    Q("q104_passage_dedup",
      (s, d) => {
        val t = Tables(s, d)
        PassageDedup.dedupPassages(t.documents, "doc_id", "text",
            passageWords = 10)
          .orderBy(col("doc_id"))
      },
      Some("""WITH ws AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w
             |    FROM documents),
             |p AS (SELECT doc_id, u AS idx,
             |    array_to_string(list_slice(w, u*10+1, u*10+10), ' ') AS passage
             |  FROM (SELECT doc_id, w, unnest(range(0, (len(w)+9)//10)) AS u
             |        FROM ws)),
             |k AS (SELECT md5(passage) AS h, min(doc_id*1048576 + idx) AS owner
             |  FROM p GROUP BY 1),
             |m AS (SELECT p.doc_id, p.idx, p.passage,
             |    (p.doc_id*1048576 + p.idx = k.owner) AS kept
             |  FROM p JOIN k ON md5(p.passage) = k.h)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_passages,
             |  CAST(count(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
             |  coalesce(string_agg(passage, ' ' ORDER BY idx)
             |    FILTER (WHERE kept), '') AS clean_text
             |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- soft dedup: weight duplicate-group members by 1/size instead of
    // dropping them (group+join, partial-agg'd — see PassageDedup scaladoc)
    Q("q105_softdedup_weights",
      (s, d) => {
        val t = Tables(s, d)
        PassageDedup.softDedupWeights(t.documents, "doc_id", "text")
          .orderBy(col("doc_id"))
      },
      Some("""WITH h AS (SELECT doc_id, md5(text) AS m FROM documents),
             |g AS (SELECT m, CAST(count(*) AS BIGINT) AS group_size
             |  FROM h GROUP BY m)
             |SELECT doc_id, group_size,
             |  CAST(1000000 AS BIGINT) // group_size AS weight_ppm
             |FROM h JOIN g ON h.m = g.m ORDER BY doc_id""".stripMargin)),

    // ---- sequence-length bucketing audit: next-pow2 caps (floor 16), the
    // padding a fixed-length batcher would waste per bucket. cap via
    // 1 << bitlength(n-1) — exact integers, no log2 (libm-dependent at
    // powers of two)
    Q("q110_padding_waste",
      (s, d) => {
        val t = Tables(s, d)
        t.documents
          .select(TextFunctions.tokenCount(col("text")).cast("long").as("n"))
          .select(col("n"), greatest(lit(16L),
            when(col("n") <= 1, lit(1L)).otherwise(
              expr("shiftleft(CAST(1 AS BIGINT), length(bin(n - 1)))")))
            .as("cap"))
          .groupBy(col("cap"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("sum_tokens"))
          .select(col("cap"), col("n_docs"), col("sum_tokens"),
            (col("cap") * col("n_docs") - col("sum_tokens")).as("padding_tokens"),
            expr("((cap * n_docs - sum_tokens) * 1000000) div (cap * n_docs)")
              .as("waste_ppm"))
          .orderBy(col("cap"))
      },
      Some("""WITH t AS (SELECT CAST(len(regexp_split_to_array(text, '\s+'))
             |    AS BIGINT) AS n FROM documents),
             |c AS (SELECT n, CAST(greatest(16, CASE WHEN n <= 1 THEN 1
             |    ELSE 1 << length(bin(n - 1)) END) AS BIGINT) AS cap FROM t)
             |SELECT cap, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(n) AS BIGINT) AS sum_tokens,
             |  cap * CAST(count(*) AS BIGINT) - CAST(sum(n) AS BIGINT)
             |    AS padding_tokens,
             |  ((cap * CAST(count(*) AS BIGINT) - CAST(sum(n) AS BIGINT))
             |    * 1000000) // (cap * CAST(count(*) AS BIGINT)) AS waste_ppm
             |FROM c GROUP BY cap ORDER BY cap""".stripMargin)),

    // ---- n-gram diversity (type-token ratio at n=1..3) per source: the
    // template-detection signal (low TTR = generated/boilerplate-heavy)
    Q("q111_ngram_diversity",
      (s, d) => {
        val t = Tables(s, d)
        val base = t.documents
          .select(col("source"), TextFunctions.tokens(col("text")).as("w"))
        (1 to 3).map { n =>
          base.select(col("source"), lit(n).as("n"),
            explode(TextFunctions.ngrams(col("w"), n)).as("g"))
        }.reduce(_ union _)
          .groupBy(col("source"), col("n"))
          .agg(count(lit(1)).as("total"), countDistinct(col("g")).as("types"))
          .select(col("source"), col("n"), col("total"), col("types"),
            expr("(types * 1000000) div total").as("ttr_ppm"))
          .orderBy(col("source"), col("n"))
      },
      Some("""WITH t AS (SELECT source, regexp_split_to_array(text, '\s+') AS w
             |    FROM documents),
             |g AS (
             |  SELECT source, 1 AS n, unnest(w) AS g FROM t
             |  UNION ALL
             |  SELECT source, 2 AS n, unnest(list_transform(range(1, len(w)),
             |    i -> w[i] || ' ' || w[i+1])) AS g FROM t
             |  UNION ALL
             |  SELECT source, 3 AS n, unnest(list_transform(range(1, len(w)-1),
             |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g FROM t)
             |SELECT source, n, CAST(count(*) AS BIGINT) AS total,
             |  CAST(count(DISTINCT g) AS BIGINT) AS types,
             |  (CAST(count(DISTINCT g) AS BIGINT) * 1000000)
             |    // CAST(count(*) AS BIGINT) AS ttr_ppm
             |FROM g GROUP BY source, n ORDER BY source, n""".stripMargin)),

    // ---- JL sign projection 64->16: exact integer arithmetic, per-row
    // HOFs, LCG signs reproduced verbatim in the oracle
    Q("q106_jl_projection",
      (s, d) => {
        val t = Tables(s, d)
        Projection.signProjection(t.embeddings, "vec_id", "embedding",
            outDim = 16)
          .orderBy(col("vec_id"), col("j"))
      },
      Some("""WITH v AS (SELECT vec_id, list_transform(embedding,
             |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS xq
             |  FROM embeddings),
             |u AS (SELECT vec_id, unnest(list_transform(range(0, 16),
             |    j -> {'j': j,
             |      'c': list_sum(list_transform(range(1, len(xq) + 1), i ->
             |        CASE WHEN ((1103515245 * ((i-1) * 16 + j + 1) + 12345)
             |            // 65536) % 2 = 1
             |          THEN xq[i] ELSE -xq[i] END))})) AS s
             |  FROM v)
             |SELECT vec_id, CAST(s.j AS BIGINT) AS j, CAST(s.c AS BIGINT) AS comp
             |FROM u ORDER BY vec_id, j""".stripMargin)),

    // ---- exact set-containment self-join (near-subset detection): the
    // oracle is the naive all-pairs formulation, so the hash match PROVES
    // the contained-side prefix filter lossless
    Q("q107_containment_join",
      (s, d) => {
        val t = Tables(s, d)
        Dedup.containmentJoin(t.documents, "doc_id", "text",
            shingleLen = 3, threshold = 0.8)
          .orderBy(col("contained_id"), col("container_id"))
      },
      Some(s"""WITH ${TextDedupQueries.shinglesCte},
              |w AS (SELECT doc_id, unnest(sh) AS w FROM docs),
              |sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n FROM docs),
              |i AS (SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
              |    CAST(count(*) AS BIGINT) AS inter
              |  FROM w a JOIN w b ON a.w = b.w AND a.doc_id <> b.doc_id
              |  GROUP BY 1, 2)
              |SELECT contained_id, container_id, inter,
              |  (inter * 1000000) // s1.n AS cont_ppm
              |FROM i JOIN sz s1 ON s1.doc_id = contained_id
              |WHERE inter * 1000000 >= 800000 * s1.n
              |ORDER BY contained_id, container_id""".stripMargin)),

    // ---- exact distributed quantiles by histogram refinement (no
    // per-group sort, no approx): type-1 rank semantics, integer cents
    Q("q108_exact_quantiles",
      (s, d) => {
        val t = Tables(s, d)
        Quantiles.exactQuantiles(
            t.lineitem.select(col("l_returnflag").as("g"),
              expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents")),
            "g", "cents", qsPpm = Seq(500000L, 900000L, 990000L))
          .orderBy(col("g"), col("q_ppm"))
      },
      Some("""WITH v AS (SELECT l_returnflag AS g,
             |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v
             |  FROM lineitem),
             |r AS (SELECT g, v,
             |    CAST(row_number() OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS rn,
             |    CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n FROM v),
             |q AS (SELECT CAST(unnest([500000, 900000, 990000]) AS BIGINT)
             |    AS q_ppm)
             |SELECT g, q_ppm, n, (q_ppm * n + 999999) // 1000000 AS rank,
             |  min(CASE WHEN rn >= (q_ppm * n + 999999) // 1000000
             |    THEN v END) AS value
             |FROM r, q GROUP BY g, q_ppm, n ORDER BY g, q_ppm""".stripMargin)),

    // ---- vocabulary coverage curve via the distributed prefix-sum scan
    // (rank + cumulative token mass over the frequency-sorted vocabulary,
    // no single-partition window): min rank covering 50/90/99% of tokens
    Q("q109_coverage_curve",
      (s, d) => {
        import s.implicits._
        val t = Tables(s, d)
        val vocab = t.documents
          .select(explode(TextFunctions.tokens(col("text"))).as("tk"))
          .groupBy(col("tk")).agg(count(lit(1)).as("c"))
          .withColumn("one", lit(1L))
        val ranked = PrefixSum.runningTotals(vocab,
            Seq(col("c").desc, col("tk")), Seq("c", "one"), numPartitions = 8)
          .withColumnRenamed("cum_c", "cum_tokens")
          .withColumnRenamed("cum_one", "rank")
        val total = vocab.agg(sum(col("c")).as("total"))
        val pcts = Seq(50, 90, 99).toDF("pct")
        ranked.crossJoin(broadcast(total)).crossJoin(broadcast(pcts))
          .filter(col("cum_tokens") * 100 >= col("pct") * col("total"))
          .groupBy(col("pct"))
          .agg(min(col("rank")).as("rank"),
            min_by(col("tk"), col("rank")).as("token"),
            min_by(col("cum_tokens"), col("rank")).as("cum_tokens"),
            max(col("total")).as("total_tokens"))
          .orderBy(col("pct"))
      },
      Some("""WITH tok AS (SELECT unnest(regexp_split_to_array(text, '\s+'))
             |    AS tk FROM documents),
             |v AS (SELECT tk, CAST(count(*) AS BIGINT) AS c FROM tok
             |  GROUP BY tk),
             |r AS (SELECT tk, c,
             |    CAST(sum(c) OVER (ORDER BY c DESC, tk
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
             |    CAST(row_number() OVER (ORDER BY c DESC, tk) AS BIGINT) AS rank
             |  FROM v),
             |tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM v),
             |p AS (SELECT unnest([50, 90, 99]) AS pct)
             |SELECT pct, min(rank) AS rank, arg_min(tk, rank) AS token,
             |  arg_min(cum_tokens, rank) AS cum_tokens,
             |  CAST(max(total) AS BIGINT) AS total_tokens
             |FROM r, tot, p WHERE cum_tokens * 100 >= pct * total
             |GROUP BY pct ORDER BY pct""".stripMargin)),

    // ---- PMI collocations: top-20 adjacent pairs by pointwise mutual
    // information (min count 5) — multi-word-expression / tokenizer-merge
    // candidates; the ln rounds to micro-nats, everything else integer
    Q("q112_pmi_collocations",
      (s, d) => {
        val t = Tables(s, d)
        graft.curation.CorpusStats
          .pmiCollocations(t.documents, "text", minCount = 5L, k = 20)
      },
      Some("""WITH ws AS (SELECT regexp_split_to_array(text, '\s+') AS w
             |    FROM documents),
             |bg AS (SELECT w[i] AS w1, w[i+1] AS w2
             |  FROM (SELECT w, unnest(range(1, len(w))) AS i FROM ws)),
             |b AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
             |  FROM bg GROUP BY 1, 2 HAVING count(*) >= 5),
             |u AS (SELECT t AS tok, CAST(count(*) AS BIGINT) AS c
             |  FROM (SELECT unnest(w) AS t FROM ws) GROUP BY 1),
             |nut AS (SELECT CAST(sum(c) AS BIGINT) AS nu FROM u),
             |nbt AS (SELECT CAST(sum(greatest(len(w) - 1, 0)) AS BIGINT) AS nb
             |  FROM ws)
             |SELECT w1, w2, c12,
             |  CAST(round(ln((CAST(c12 AS DOUBLE) / CAST(nb AS DOUBLE)) /
             |    ((CAST(c1.c AS DOUBLE) / CAST(nu AS DOUBLE)) *
             |     (CAST(c2.c AS DOUBLE) / CAST(nu AS DOUBLE)))) * 1000000.0)
             |    AS BIGINT) AS pmi_micro
             |FROM b JOIN u c1 ON c1.tok = b.w1 JOIN u c2 ON c2.tok = b.w2,
             |  nut, nbt
             |ORDER BY pmi_micro DESC, w1, w2 LIMIT 20""".stripMargin)),

    // ---- dedup threshold sweep: pairs + docs-removed at each candidate
    // Jaccard threshold from ONE prefix-filtered pair pass at the loosest
    // (0.5) — the tuning audit run before committing a near-dup threshold.
    // "removed" = the higher id of each qualifying pair (pair relation,
    // not transitive closure — the closure view is q95's histogram)
    Q("q114_dedup_threshold_sweep",
      (s, d) => {
        import s.implicits._
        val t = Tables(s, d)
        val pairs = Dedup.prefixFilterJaccard(t.documents, "doc_id", "text",
          shingleLen = 3, threshold = 0.5)
        val thresholds = Seq(500000L, 600000L, 700000L, 800000L, 900000L)
          .toDF("t_ppm")
        thresholds.join(pairs, lit(true), "left")
          .groupBy(col("t_ppm"))
          .agg(
            count(when(col("jac_ppm") >= col("t_ppm"), 1)).as("n_pairs"),
            countDistinct(when(col("jac_ppm") >= col("t_ppm"), col("id2")))
              .as("n_docs_removed"))
          .orderBy(col("t_ppm"))
      },
      Some(s"""WITH ${TextDedupQueries.shinglesCte},
              |w AS (SELECT doc_id, unnest(sh) AS w FROM docs),
              |sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n FROM docs),
              |i AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
              |    CAST(count(*) AS BIGINT) AS inter
              |  FROM w a JOIN w b ON a.w = b.w AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |pr AS (SELECT id1, id2,
              |    (inter * 1000000) // (s1.n + s2.n - inter) AS jac_ppm
              |  FROM i JOIN sz s1 ON s1.doc_id = id1
              |    JOIN sz s2 ON s2.doc_id = id2
              |  WHERE inter * 1000000 >= 500000 * (s1.n + s2.n - inter)),
              |t AS (SELECT CAST(unnest([500000, 600000, 700000, 800000,
              |    900000]) AS BIGINT) AS t_ppm)
              |SELECT t_ppm,
              |  CAST(count(CASE WHEN jac_ppm >= t_ppm THEN 1 END) AS BIGINT)
              |    AS n_pairs,
              |  CAST(count(DISTINCT CASE WHEN jac_ppm >= t_ppm THEN id2 END)
              |    AS BIGINT) AS n_docs_removed
              |FROM t LEFT JOIN pr ON TRUE
              |GROUP BY t_ppm ORDER BY t_ppm""".stripMargin)),

    // ---- cross-source duplication matrix: which sources copy which —
    // near-dup pairs at 0.5 collapsed to unordered source pairs (the
    // provenance data-card view; within-source rows are src_a = src_b)
    Q("q115_cross_source_dups",
      (s, d) => {
        val t = Tables(s, d)
        val pairs = Dedup.prefixFilterJaccard(t.documents, "doc_id", "text",
          shingleLen = 3, threshold = 0.5)
        val src = t.documents.select(col("doc_id"), col("source"))
        pairs
          .join(src.select(col("doc_id").as("id1"), col("source").as("_s1")), "id1")
          .join(src.select(col("doc_id").as("id2"), col("source").as("_s2")), "id2")
          .select(least(col("_s1"), col("_s2")).as("src_a"),
            greatest(col("_s1"), col("_s2")).as("src_b"))
          .groupBy(col("src_a"), col("src_b"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy(col("src_a"), col("src_b"))
      },
      Some(s"""WITH ${TextDedupQueries.shinglesCte},
              |w AS (SELECT doc_id, unnest(sh) AS w FROM docs),
              |sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n FROM docs),
              |i AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
              |    CAST(count(*) AS BIGINT) AS inter
              |  FROM w a JOIN w b ON a.w = b.w AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |pr AS (SELECT id1, id2
              |  FROM i JOIN sz s1 ON s1.doc_id = id1
              |    JOIN sz s2 ON s2.doc_id = id2
              |  WHERE inter * 1000000 >= 500000 * (s1.n + s2.n - inter))
              |SELECT least(d1.source, d2.source) AS src_a,
              |  greatest(d1.source, d2.source) AS src_b,
              |  CAST(count(*) AS BIGINT) AS n_pairs
              |FROM pr JOIN documents d1 ON d1.doc_id = pr.id1
              |  JOIN documents d2 ON d2.doc_id = pr.id2
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- join-key skew profile: the pre-join diagnostic that decides
    // broadcast / salting / AQE settings; engine-portable arg-max via the
    // zero-padded "count|key" string trick
    Q("q116_skew_profile",
      (s, d) => {
        val t = Tables(s, d)
        SkewJoin.skewProfile(t.lineitem, Seq("l_orderkey", "l_suppkey"))
          .orderBy(col("key_col"))
      },
      Some("""WITH c1 AS (SELECT CAST(l_orderkey AS VARCHAR) AS k,
             |    CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY 1),
             |c2 AS (SELECT CAST(l_suppkey AS VARCHAR) AS k,
             |    CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY 1),
             |s1 AS (SELECT 'l_orderkey' AS key_col,
             |    CAST(sum(c) AS BIGINT) AS n_rows,
             |    CAST(count(*) AS BIGINT) AS n_keys,
             |    CAST(max(c) AS BIGINT) AS max_cnt,
             |    max(printf('%020d|%s', c, k)) AS top FROM c1),
             |s2 AS (SELECT 'l_suppkey' AS key_col,
             |    CAST(sum(c) AS BIGINT) AS n_rows,
             |    CAST(count(*) AS BIGINT) AS n_keys,
             |    CAST(max(c) AS BIGINT) AS max_cnt,
             |    max(printf('%020d|%s', c, k)) AS top FROM c2)
             |SELECT key_col, n_rows, n_keys, max_cnt,
             |  substr(top, 22) AS top_key,
             |  (max_cnt * n_keys * 1000000) // n_rows AS skew_ratio_ppm
             |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
             |ORDER BY key_col""".stripMargin)),

    // ---- salted join: the oracle is the UNSALTED plain join, so the hash
    // match PROVES the salt-scatter/replicate rewrite is semantics-free
    Q("q117_salted_join",
      (s, d) => {
        val t = Tables(s, d)
        SkewJoin.saltedInnerJoin(t.lineitem, t.orders,
            "l_orderkey", "o_orderkey",
            saltBy = Seq(col("l_orderkey"), col("l_linenumber")),
            saltFactor = 8)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
              .as("rev_cents"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
             |    AS BIGINT) AS rev_cents
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- token-weighted exact quantiles: "the doc length below which
    // half the corpus TOKENS sit" — the form batching decisions need;
    // same histogram-refinement core as q108, ranking on weight
    Q("q118_weighted_quantiles",
      (s, d) => {
        val t = Tables(s, d)
        Quantiles.exactWeightedQuantiles(
            t.documents.select(col("lang").as("g"),
              col("n_chars").as("v"),
              TextFunctions.tokenCount(col("text")).cast("long").as("w")),
            "g", "v", "w", qsPpm = Seq(500000L, 900000L))
          .orderBy(col("g"), col("q_ppm"))
      },
      Some("""WITH v AS (SELECT lang AS g, CAST(n_chars AS BIGINT) AS v,
             |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS w
             |  FROM documents),
             |tot AS (SELECT g, CAST(sum(w) AS BIGINT) AS n FROM v GROUP BY g),
             |r AS (SELECT g, v,
             |    CAST(sum(w) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cum
             |  FROM v),
             |q AS (SELECT CAST(unnest([500000, 900000]) AS BIGINT) AS q_ppm)
             |SELECT t.g AS g, q_ppm, n,
             |  (q_ppm * n + 999999) // 1000000 AS rank,
             |  min(CASE WHEN cum >= (q_ppm * n + 999999) // 1000000
             |    THEN v END) AS value
             |FROM r JOIN tot t ON t.g = r.g, q
             |GROUP BY t.g, q_ppm, n ORDER BY t.g, q_ppm""".stripMargin)),

    // ---- containment estimate audit (the q103 pattern, asymmetric):
    // signature-agreement Jaccard converted to containment vs the exact
    // join's own pairs — is signature-only screening safe here?
    Q("q119_containment_estimate",
      (s, d) => {
        val t = Tables(s, d)
        Dedup.containmentEstimateAudit(t.documents, "doc_id", "text",
            shingleLen = 3, numHashes = 16, threshold = 0.8)
          .orderBy(col("contained_id"), col("container_id"))
      },
      Some(s"""WITH ${TextDedupQueries.shinglesCte},
              |${TextDedupQueries.signedCte},
              |w AS (SELECT doc_id, unnest(sh) AS w FROM docs),
              |sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n FROM docs),
              |i AS (SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
              |    CAST(count(*) AS BIGINT) AS inter
              |  FROM w a JOIN w b ON a.w = b.w AND a.doc_id <> b.doc_id
              |  GROUP BY 1, 2),
              |pr AS (SELECT contained_id, container_id,
              |    (inter * 1000000) // s1.n AS cont_ppm, s1.n AS n1, s2.n AS n2
              |  FROM i JOIN sz s1 ON s1.doc_id = contained_id
              |    JOIN sz s2 ON s2.doc_id = container_id
              |  WHERE inter * 1000000 >= 800000 * s1.n),
              |m AS (SELECT contained_id, container_id, cont_ppm, n1, n2,
              |    CAST(len(list_filter(range(1, 17),
              |      j -> d1.sig[CAST(j AS INT)] = d2.sig[CAST(j AS INT)]))
              |      AS BIGINT) AS matches
              |  FROM pr JOIN signed d1 ON d1.doc_id = contained_id
              |    JOIN signed d2 ON d2.doc_id = container_id)
              |SELECT contained_id, container_id, matches, cont_ppm,
              |  (matches * (n1 + n2) * 1000000) // ((16 + matches) * n1)
              |    AS est_ppm,
              |  (matches * (n1 + n2) * 1000000) // ((16 + matches) * n1)
              |    - cont_ppm AS err_ppm
              |FROM m ORDER BY contained_id, container_id""".stripMargin)),

    // ---- mergeable per-source MinHash sketches: doc signatures min-merge
    // into source sketches (associative — the shard-then-merge shape);
    // source-pair gram-space similarity from sketch agreement, audited
    // against the exact Jaccard
    Q("q120_source_sketches",
      (s, d) => {
        val t = Tables(s, d)
        Dedup.sourceSketchSimilarity(t.documents, "text", "source",
            shingleLen = 3, k = 16)
          .orderBy(col("src_a"), col("src_b"))
      },
      Some(s"""WITH ${TextDedupQueries.shinglesCte},
              |d2 AS (SELECT dd.source, docs.sh FROM docs
              |  JOIN documents dd ON dd.doc_id = docs.doc_id),
              |sigs AS (SELECT source, ${Dedup.minhashSigSql("sh", 16)} AS sig
              |  FROM d2),
              |merged AS (SELECT source,
              |  ${Dedup.sketchMergeSql("sig", 16)}
              |  FROM sigs GROUP BY source),
              |g AS (SELECT DISTINCT source, unnest(sh) AS w FROM d2),
              |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM g
              |  GROUP BY source),
              |i AS (SELECT a.source AS src_a, b.source AS src_b,
              |    CAST(count(*) AS BIGINT) AS inter
              |  FROM g a JOIN g b ON a.w = b.w AND a.source < b.source
              |  GROUP BY 1, 2),
              |p AS (SELECT x.source AS src_a, y.source AS src_b,
              |    CAST(${(0 until 16).map(i => s"(CASE WHEN x._m$i = y._m$i THEN 1 ELSE 0 END)").mkString(" + ")}
              |      AS BIGINT) AS matches
              |  FROM merged x JOIN merged y ON x.source < y.source)
              |SELECT p.src_a, p.src_b, matches,
              |  (matches * 1000000) // 16 AS est_ppm,
              |  (coalesce(inter, 0) * 1000000)
              |    // (sa.n + sb.n - coalesce(inter, 0)) AS exact_ppm,
              |  (matches * 1000000) // 16 - (coalesce(inter, 0) * 1000000)
              |    // (sa.n + sb.n - coalesce(inter, 0)) AS err_ppm
              |FROM p JOIN sz sa ON sa.source = p.src_a
              |  JOIN sz sb ON sb.source = p.src_b
              |  LEFT JOIN i ON i.src_a = p.src_a AND i.src_b = p.src_b
              |ORDER BY p.src_a, p.src_b""".stripMargin)),

    // ---- vocabulary saturation per source: Good-Turing unseen mass
    // (P0 = hapax/N — "probability the next token is a NEW type") and the
    // unbiased Simpson repeat probability — the crawl-scheduler gauge for
    // exhausted vs still-novel sources; one token-count exchange
    Q("q146_vocab_saturation",
      (s, d) => {
        val t = Tables(s, d)
        graft.curation.CorpusStats.vocabSaturation(t.documents, "text", "source")
          .orderBy(col("src"))
      },
      Some("""WITH tk AS (SELECT source AS src,
             |    unnest(regexp_split_to_array(text, '\s+')) AS tk FROM documents),
             |c AS (SELECT src, tk, CAST(count(*) AS BIGINT) AS c
             |  FROM tk WHERE tk <> '' GROUP BY src, tk),
             |a AS (SELECT src, CAST(sum(c) AS BIGINT) AS n_tokens,
             |    CAST(count(*) AS BIGINT) AS v_types,
             |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
             |    CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dis,
             |    CAST(sum(c * (c - 1)) AS BIGINT) AS rep
             |  FROM c GROUP BY src)
             |SELECT src, n_tokens, v_types, n_hapax, n_dis,
             |  (n_hapax * 1000000) // n_tokens AS p0_ppm,
             |  CAST((CAST(rep AS HUGEINT) * 1000000)
             |    // (CAST(n_tokens AS HUGEINT) * (n_tokens - 1)) AS BIGINT) AS simpson_ppm
             |FROM a ORDER BY src""".stripMargin)),

    // ---- SAMPLED dedup threshold sweep (q114 at any scale): the q178
    // move — deterministic hash-sample at f = 1/2, exact prefix-filtered
    // pairs on the sample, unbiased pair estimate ×4 (= 1/f²). The exact
    // arm's quadratic cost falls to ~f² of the pairs, so threshold tuning
    // runs at 100 TB where the exact q114 audit cannot
    Q("q201_sweep_sampled",
      (s, d) => {
        val t = Tables(s, d)
        val pairs = graft.dedup.SampledSweep.sampledPairs(t.documents,
          "doc_id", "text", shingleLen = 3, threshold = 0.5,
          fraction = 0.5, salt = "ts1")
        graft.dedup.SampledSweep.thresholdSweep(pairs,
          Seq(500000L, 600000L, 700000L, 800000L, 900000L),
          invFractionSq = 4L)
      },
      Some(s"""WITH docs AS (
              |  SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
              |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
              |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t
              |    FROM documents
              |    WHERE substr(md5('ts1:' || CAST(doc_id AS VARCHAR)), 1, 8)
              |      < '${graft.sampling.Sampling.fractionThreshold(0.5)}')
              |  WHERE len(t) >= 3),
              |w AS (SELECT doc_id, unnest(sh) AS w FROM docs),
              |sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n FROM docs),
              |i AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
              |    CAST(count(*) AS BIGINT) AS inter
              |  FROM w a JOIN w b ON a.w = b.w AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |pr AS (SELECT id1, id2,
              |    (inter * 1000000) // (s1.n + s2.n - inter) AS jac_ppm
              |  FROM i JOIN sz s1 ON s1.doc_id = id1
              |    JOIN sz s2 ON s2.doc_id = id2
              |  WHERE inter * 1000000 >= 500000 * (s1.n + s2.n - inter)),
              |t AS (SELECT CAST(unnest([500000, 600000, 700000, 800000,
              |    900000]) AS BIGINT) AS t_ppm)
              |SELECT t_ppm,
              |  CAST(count(CASE WHEN jac_ppm >= t_ppm THEN 1 END) AS BIGINT)
              |    AS n_pairs,
              |  CAST(count(DISTINCT CASE WHEN jac_ppm >= t_ppm THEN id2 END)
              |    AS BIGINT) AS n_docs_removed,
              |  CAST(count(CASE WHEN jac_ppm >= t_ppm THEN 1 END) AS BIGINT)
              |    * 4 AS est_pairs_full
              |FROM t LEFT JOIN pr ON TRUE
              |GROUP BY t_ppm ORDER BY t_ppm""".stripMargin)),

    // ---- SAMPLED cross-source duplication matrix (q115 at any scale):
    // the SAME sampled pair frame threaded through the provenance view —
    // one shared frame, two reports (PlanSpec pins the sharing)
    Q("q202_cross_source_sampled",
      (s, d) => {
        val t = Tables(s, d)
        val pairs = graft.dedup.SampledSweep.sampledPairs(t.documents,
          "doc_id", "text", shingleLen = 3, threshold = 0.5,
          fraction = 0.5, salt = "ts1")
        graft.dedup.SampledSweep.crossSourceMatrix(pairs, t.documents,
          "doc_id", "source", invFractionSq = 4L)
      },
      Some(s"""WITH docs AS (
              |  SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
              |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
              |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t
              |    FROM documents
              |    WHERE substr(md5('ts1:' || CAST(doc_id AS VARCHAR)), 1, 8)
              |      < '${graft.sampling.Sampling.fractionThreshold(0.5)}')
              |  WHERE len(t) >= 3),
              |w AS (SELECT doc_id, unnest(sh) AS w FROM docs),
              |sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n FROM docs),
              |i AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
              |    CAST(count(*) AS BIGINT) AS inter
              |  FROM w a JOIN w b ON a.w = b.w AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |pr AS (SELECT id1, id2
              |  FROM i JOIN sz s1 ON s1.doc_id = id1
              |    JOIN sz s2 ON s2.doc_id = id2
              |  WHERE inter * 1000000 >= 500000 * (s1.n + s2.n - inter)),
              |sp AS (SELECT least(d1.source, d2.source) AS src_a,
              |    greatest(d1.source, d2.source) AS src_b
              |  FROM pr JOIN documents d1 ON d1.doc_id = pr.id1
              |    JOIN documents d2 ON d2.doc_id = pr.id2)
              |SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs,
              |  CAST(count(*) AS BIGINT) * 4 AS est_pairs_full
              |FROM sp GROUP BY src_a, src_b
              |ORDER BY src_a, src_b""".stripMargin)),

    // ---- bootstrap CI for the sampled sweep's removal rate: docs-removed
    // has no closed-form 1/f² inflation (coupon-collector, not Bernoulli),
    // so the rate estimate carries a Poisson-bootstrap spread instead —
    // 32 content-addressed replicates over the SAME sampled pair frame as
    // q201/q202; a doc is removed in a replicate iff it and ≥1 qualifying
    // lower-id partner both survive the resample
    Q("q213_removal_bootstrap",
      (s, d) => {
        val t = Tables(s, d)
        val pairs = graft.dedup.SampledSweep.sampledPairs(t.documents,
          "doc_id", "text", shingleLen = 3, threshold = 0.5,
          fraction = 0.5, salt = "ts1")
        graft.dedup.SampledSweep.removalRateBootstrap(pairs,
          graft.sampling.Sampling.hashSample(t.documents, "doc_id", 0.5,
            "ts1"),
          "doc_id", thresholdPpm = 700000L, replicas = 32, salt = "rb")
      },
      Some(s"""WITH samp AS (SELECT doc_id FROM documents
              |  WHERE substr(md5('ts1:' || CAST(doc_id AS VARCHAR)), 1, 8)
              |    < '${graft.sampling.Sampling.fractionThreshold(0.5)}'),
              |docs AS (
              |  SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
              |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
              |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t
              |    FROM documents WHERE doc_id IN (SELECT doc_id FROM samp))
              |  WHERE len(t) >= 3),
              |w AS (SELECT doc_id, unnest(sh) AS w FROM docs),
              |sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n FROM docs),
              |i AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
              |    CAST(count(*) AS BIGINT) AS inter
              |  FROM w a JOIN w b ON a.w = b.w AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |pr AS (SELECT id1, id2,
              |    (inter * 1000000) // (s1.n + s2.n - inter) AS jac_ppm
              |  FROM i JOIN sz s1 ON s1.doc_id = id1
              |    JOIN sz s2 ON s2.doc_id = id2
              |  WHERE inter * 1000000 >= 500000 * (s1.n + s2.n - inter)),
              |r AS (SELECT unnest(range(0, 32)) AS replica),
              |ne AS (SELECT replica, CAST(sum(
              |    len(regexp_replace(substr(md5('rb' || ':'
              |      || CAST(replica AS VARCHAR) || ':'
              |      || CAST(doc_id AS VARCHAR)), 1, 8), '[^01]', '', 'g'))
              |    ) AS BIGINT) AS n_eff
              |  FROM samp CROSS JOIN r GROUP BY replica),
              |q AS (SELECT DISTINCT r.replica, pr.id2,
              |    CAST(len(regexp_replace(substr(md5('rb' || ':'
              |      || CAST(r.replica AS VARCHAR) || ':'
              |      || CAST(pr.id2 AS VARCHAR)), 1, 8), '[^01]', '', 'g'))
              |      AS BIGINT) AS wb
              |  FROM pr CROSS JOIN r
              |  WHERE pr.jac_ppm >= 700000
              |    AND len(regexp_replace(substr(md5('rb' || ':'
              |      || CAST(r.replica AS VARCHAR) || ':'
              |      || CAST(pr.id1 AS VARCHAR)), 1, 8), '[^01]', '', 'g')) > 0
              |    AND len(regexp_replace(substr(md5('rb' || ':'
              |      || CAST(r.replica AS VARCHAR) || ':'
              |      || CAST(pr.id2 AS VARCHAR)), 1, 8), '[^01]', '', 'g')) > 0),
              |rm AS (SELECT replica, CAST(sum(wb) AS BIGINT) AS n_removed_eff
              |  FROM q GROUP BY replica)
              |SELECT CAST(ne.replica AS INTEGER) AS replica, n_eff,
              |  COALESCE(n_removed_eff, 0) AS n_removed_eff,
              |  (COALESCE(n_removed_eff, 0) * 1000000) // n_eff AS removed_ppm
              |FROM ne LEFT JOIN rm ON ne.replica = rm.replica
              |WHERE n_eff > 0
              |ORDER BY replica""".stripMargin)))
}
