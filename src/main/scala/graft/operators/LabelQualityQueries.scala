package graft.operators

import org.apache.spark.sql.functions._

import graft.Tables
import graft.curation.{Agreement, Conformal, OverlapEval, QualityClassifier, RankEval, RobustStats}
import graft.similarity.LabelAudit
import graft.text.TextFunctions

/** Round-10 label-quality / robust-screening operators: kNN label-noise
  * detection, Matryoshka truncation fidelity, chance-corrected labeler
  * agreement (Cohen's κ), median/MAD outlier screening, and sliding-window
  * chunk planning.
  *
  * Oracle parity: the repo-wide integer conventions — exact counts,
  * cross-multiplied ratio compares, ppm via integral division, type-1
  * order statistics (the q108 rank convention).
  */
object LabelQualityQueries {

  /** the q200/q214 oracles' normalized exact dedup: `kept` is every
    * column of `b` for each normalized-hash group's min doc_id */
  private val canonKeptCte =
    s"""${TextDedupQueries.canonCte},
       |kept AS (SELECT b.* FROM b JOIN canon USING (grp)
       |  WHERE doc_id = cid)""".stripMargin

  def all: Seq[Q] = Seq(

    // ---- kNN label-noise screen: per-probe agreement between its own
    // label and its 10 nearest neighbors' labels; minority rows are the
    // re-annotation queue (confident-learning's cheap first pass)
    Q("q188_knn_label_noise",
      (s, d) => {
        val t = Tables(s, d)
        LabelAudit.knnLabelAgreement(
            t.embeddings.filter(col("vec_id") < 100), t.embeddings,
            "vec_id", "embedding", "label", k = 10)
          .orderBy(col("vec_id"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             |    label FROM embeddings),
             |scored AS (
             |  SELECT q.vec_id AS query_id, q.label AS qlab,
             |    c.vec_id AS neighbor_id, c.label AS nlab,
             |    list_dot_product(q.v, c.v)
             |      / (sqrt(list_dot_product(q.v, q.v))
             |         * sqrt(list_dot_product(c.v, c.v))) AS cos
             |  FROM e q JOIN e c ON q.vec_id < 100 AND q.vec_id <> c.vec_id),
             |top AS (SELECT query_id, qlab, nlab FROM (
             |  SELECT query_id, qlab, nlab, row_number() OVER (
             |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS r
             |  FROM scored) WHERE r <= 10)
             |SELECT query_id AS vec_id, qlab AS label,
             |  CAST(count(*) AS BIGINT) AS k_found,
             |  CAST(count(*) FILTER (WHERE nlab = qlab) AS BIGINT) AS n_agree,
             |  (CAST(count(*) FILTER (WHERE nlab = qlab) AS BIGINT) * 1000000)
             |    // CAST(count(*) AS BIGINT) AS agree_ppm,
             |  CAST(count(*) FILTER (WHERE nlab = qlab) AS BIGINT) * 2
             |    < CAST(count(*) AS BIGINT) AS suspect
             |FROM top GROUP BY query_id, qlab
             |ORDER BY vec_id""".stripMargin)),

    // ---- Matryoshka cut fidelity: top-10 overlap between full-64-dim and
    // leading-16-dim neighbor lists per probe — recall@k of the cheap space
    Q("q189_mrl_fidelity",
      (s, d) => {
        val t = Tables(s, d)
        LabelAudit.truncationFidelity(
            t.embeddings.filter(col("vec_id") < 100), t.embeddings,
            "vec_id", "embedding", dims = 16, k = 10)
          .orderBy(col("vec_id"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |  FROM embeddings),
             |et AS (SELECT vec_id, v[1:16] AS v FROM e),
             |sf AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |    list_dot_product(q.v, c.v)
             |      / (sqrt(list_dot_product(q.v, q.v))
             |         * sqrt(list_dot_product(c.v, c.v))) AS cos
             |  FROM e q JOIN e c ON q.vec_id < 100 AND q.vec_id <> c.vec_id),
             |st AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |    list_dot_product(q.v, c.v)
             |      / (sqrt(list_dot_product(q.v, q.v))
             |         * sqrt(list_dot_product(c.v, c.v))) AS cos
             |  FROM et q JOIN et c ON q.vec_id < 100 AND q.vec_id <> c.vec_id),
             |f AS (SELECT query_id, list(neighbor_id) AS fl FROM (
             |  SELECT query_id, neighbor_id, row_number() OVER (
             |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS r
             |  FROM sf) WHERE r <= 10 GROUP BY query_id),
             |t AS (SELECT query_id, list(neighbor_id) AS tl FROM (
             |  SELECT query_id, neighbor_id, row_number() OVER (
             |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS r
             |  FROM st) WHERE r <= 10 GROUP BY query_id)
             |SELECT query_id AS vec_id, CAST(len(fl) AS BIGINT) AS k_full,
             |  CAST(len(list_intersect(fl, tl)) AS BIGINT) AS overlap,
             |  (CAST(len(list_intersect(fl, tl)) AS BIGINT) * 1000000)
             |    // CAST(len(fl) AS BIGINT) AS overlap_ppm
             |FROM f JOIN t USING (query_id)
             |ORDER BY vec_id""".stripMargin)),

    // ---- Cohen's kappa per source between declared lang and the langid
    // heuristic (q167's confusion matrix collapsed to its chance-corrected
    // scalar): the per-slice "is the metadata trustworthy" number
    Q("q190_lang_kappa",
      (s, d) => {
        val t = Tables(s, d)
        val pred = t.documents.select(col("source"), col("lang"),
          graft.text.TextFunctions.langId(col("text")).as("lang_pred"))
        Agreement.cohenKappa(pred, "source", "lang", "lang_pred")
          .orderBy(col("g"))
      },
      Some(s"""WITH p AS (${TextDedupQueries.langIdPredSql}),
              |j AS (SELECT d.source AS g, p.lang AS a, p.lang_pred AS b
              |  FROM p JOIN documents d ON p.doc_id = d.doc_id),
              |cells AS (SELECT g, a, b, CAST(count(*) AS BIGINT) AS c
              |  FROM j GROUP BY g, a, b),
              |tot AS (SELECT g, CAST(sum(c) AS BIGINT) AS n,
              |    CAST(sum(c) FILTER (WHERE a = b) AS BIGINT) AS agree
              |  FROM cells GROUP BY g),
              |ra AS (SELECT g, a, CAST(sum(c) AS BIGINT) AS ra
              |  FROM cells GROUP BY g, a),
              |rb AS (SELECT g, b, CAST(sum(c) AS BIGINT) AS rb
              |  FROM cells GROUP BY g, b),
              |ch AS (SELECT ra.g AS g, sum(CAST(ra.ra AS HUGEINT) * rb.rb)
              |    AS chance
              |  FROM ra JOIN rb ON ra.g = rb.g AND ra.a = rb.b GROUP BY ra.g)
              |SELECT t.g, n, agree, CAST(COALESCE(chance, 0) AS BIGINT)
              |    AS chance,
              |  CAST(((CAST(n AS HUGEINT) * agree - COALESCE(chance, 0))
              |      * 1000000)
              |    // (CAST(n AS HUGEINT) * n - COALESCE(chance, 0))
              |    AS BIGINT) AS kappa_micro
              |FROM tot t LEFT JOIN ch ON t.g = ch.g
              |WHERE CAST(n AS HUGEINT) * n > COALESCE(chance, 0)
              |ORDER BY t.g""".stripMargin)),

    // ---- robust per-source length outliers: median/MAD (both type-1
    // order statistics via the scalable histogram-refinement search),
    // cross-multiplied 3.5-MAD cut — no division in either engine
    Q("q191_mad_outliers",
      (s, d) => {
        val t = Tables(s, d)
        RobustStats.madOutliers(t.documents, "source", "n_chars",
            kTenths = 35)
          .orderBy(col("g"))
      },
      Some("""WITH v AS (SELECT source AS g, CAST(n_chars AS BIGINT) AS v
             |  FROM documents),
             |r AS (SELECT g, v,
             |    CAST(row_number() OVER (PARTITION BY g ORDER BY v) AS BIGINT)
             |      AS rn,
             |    CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n FROM v),
             |med AS (SELECT g, min(CASE WHEN rn >= (n + 1) // 2 THEN v END)
             |    AS med FROM r GROUP BY g),
             |dd AS (SELECT v.g, v.v, med, abs(v.v - med) AS dv
             |  FROM v JOIN med USING (g)),
             |r2 AS (SELECT g, dv,
             |    CAST(row_number() OVER (PARTITION BY g ORDER BY dv) AS BIGINT)
             |      AS rn,
             |    CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n FROM dd),
             |mad AS (SELECT g, min(CASE WHEN rn >= (n + 1) // 2 THEN dv END)
             |    AS mad FROM r2 GROUP BY g)
             |SELECT dd.g, CAST(count(*) AS BIGINT) AS n, max(dd.med) AS med,
             |  max(mad) AS mad,
             |  CAST(count(*) FILTER (WHERE dv * 10 > 35 * mad) AS BIGINT)
             |    AS n_outliers,
             |  (CAST(count(*) FILTER (WHERE dv * 10 > 35 * mad) AS BIGINT)
             |    * 1000000) // CAST(count(*) AS BIGINT) AS outlier_ppm
             |FROM dd JOIN mad USING (g) GROUP BY dd.g
             |ORDER BY g""".stripMargin)),

    // ---- sliding-window chunk plan: per-doc chunk count + padded-token
    // bill for window=128 / overlap=32 — the RAG chunking config priced by
    // one scan, before anything is materialized
    Q("q192_chunk_plan",
      (s, d) => {
        val t = Tables(s, d)
        CapacityPlan.chunkPlan(t.documents, "doc_id", "text",
            window = 128, overlap = 32)
          .orderBy(col("doc_id"))
      },
      Some("""WITH tok AS (SELECT doc_id,
             |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT)
             |      AS n_tokens FROM documents),
             |c AS (SELECT doc_id, n_tokens,
             |    CASE WHEN n_tokens = 0 THEN 0
             |    ELSE 1 + (greatest(n_tokens - 128, 0) + 95) // 96 END
             |      AS n_chunks FROM tok)
             |SELECT doc_id, n_tokens, n_chunks,
             |  n_chunks * 128 AS padded_tokens,
             |  CASE WHEN n_chunks = 0 THEN 0
             |  ELSE ((n_chunks * 128 - n_tokens) * 1000000)
             |    // (n_chunks * 128) END AS waste_ppm
             |FROM c ORDER BY doc_id""".stripMargin)),

    // ---- precision/recall operating points of the q71/q127 distilled
    // classifier at score-decile thresholds — the threshold-selection
    // table AUC's single scalar can't give
    Q("q193_pr_curve",
      (s, d) => {
        val t = Tables(s, d)
        val tok = t.documents
          .select(col("doc_id"), (col("lang") === "en").as("lab"),
            explode(TextFunctions.tokens(col("text"))).as("token"))
          .filter(col("token") =!= "")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val scored = QualityClassifier.scoreTokens(tok, "doc_id", "token",
          QualityClassifier.trainTokens(tok, "token", "lab"))
        RankEval.prCurve(
            scored.join(t.documents.select(col("doc_id"),
              (col("lang") === "en").as("lab")), "doc_id"),
            "score_micro", "lab")
          .orderBy(col("q_ppm"))
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, (lang = 'en') AS lab, token FROM (
             |    SELECT doc_id, lang, unnest(regexp_split_to_array(text, '\s+')) AS token
             |    FROM documents) WHERE token <> ''),
             |c AS (SELECT token,
             |    count(*) FILTER (WHERE lab) AS c_pos,
             |    count(*) FILTER (WHERE NOT lab) AS c_neg
             |  FROM tok GROUP BY token),
             |tot AS (SELECT sum(c_pos) AS t_pos, sum(c_neg) AS t_neg,
             |    count(*) AS v FROM c),
             |wt AS (SELECT token,
             |    CAST(round(ln(CAST(c_pos + 1 AS DOUBLE) / CAST(t_pos + v AS DOUBLE)) * 1e6) AS BIGINT)
             |  - CAST(round(ln(CAST(c_neg + 1 AS DOUBLE) / CAST(t_neg + v AS DOUBLE)) * 1e6) AS BIGINT)
             |      AS weight_micro
             |  FROM c, tot),
             |sc AS (SELECT doc_id, CAST(sum(weight_micro) AS BIGINT) AS s
             |  FROM tok JOIN wt USING (token) GROUP BY doc_id),
             |lbl AS (SELECT sc.s, (d.lang = 'en') AS lab
             |  FROM sc JOIN documents d USING (doc_id)),
             |r AS (SELECT s, CAST(row_number() OVER (ORDER BY s) AS BIGINT)
             |    AS rn, CAST(count(*) OVER () AS BIGINT) AS n FROM lbl),
             |q AS (SELECT CAST(unnest([100000, 200000, 300000, 400000,
             |    500000, 600000, 700000, 800000, 900000]) AS BIGINT)
             |    AS q_ppm),
             |thr AS (SELECT q_ppm, min(CASE WHEN
             |    rn >= (q_ppm * n + 999999) // 1000000 THEN s END)
             |    AS threshold FROM r, q GROUP BY q_ppm),
             |tpos AS (SELECT CAST(count(*) FILTER (WHERE lab) AS BIGINT)
             |    AS n_pos FROM lbl)
             |SELECT q_ppm, threshold, CAST(count(*) AS BIGINT) AS n_pred,
             |  CAST(count(*) FILTER (WHERE lab) AS BIGINT) AS tp,
             |  (CAST(count(*) FILTER (WHERE lab) AS BIGINT) * 1000000)
             |    // CAST(count(*) AS BIGINT) AS precision_ppm,
             |  (CAST(count(*) FILTER (WHERE lab) AS BIGINT) * 1000000)
             |    // n_pos AS recall_ppm
             |FROM lbl JOIN thr ON lbl.s >= thr.threshold CROSS JOIN tpos
             |WHERE n_pos > 0
             |GROUP BY q_ppm, threshold, n_pos
             |ORDER BY q_ppm""".stripMargin)),

    // ---- token-frequency spectrum (count-of-counts): how many vocabulary
    // types occur exactly f times — the Good-Turing smoothing input and
    // the crawl-health fingerprint (a template flood bulges the high-f
    // tail; an OCR disaster bulges f = 1). One (token) partial agg, then
    // a spectrum-sized second agg.
    Q("q196_freq_spectrum",
      (s, d) => {
        val t = Tables(s, d)
        t.documents
          .select(explode(TextFunctions.tokens(col("text"))).as("w"))
          .filter(col("w") =!= "")
          .groupBy(col("w")).agg(count(lit(1)).as("f"))
          .groupBy(col("f")).agg(count(lit(1)).as("n_types"))
          .select(col("f"), col("n_types"),
            (col("f") * col("n_types")).as("token_mass"))
          .orderBy(col("f"))
      },
      Some("""WITH tok AS (SELECT unnest(regexp_split_to_array(text, '\s+'))
             |    AS w FROM documents),
             |tc AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM tok
             |  WHERE w <> '' GROUP BY w)
             |SELECT f, CAST(count(*) AS BIGINT) AS n_types,
             |  f * CAST(count(*) AS BIGINT) AS token_mass
             |FROM tc GROUP BY f ORDER BY f""".stripMargin)),

    // ---- duplicate-group size x source-diversity crosstab (NORMALIZED
    // hashing, the q121 convention — raw hashing finds nothing here): are
    // duplicates intra-source (a re-crawl) or cross-source (syndication)?
    // The number that decides whether dedup keys should include the
    // source. One content-hash partial agg; the crosstab is tiny.
    Q("q197_dup_crosstab",
      (s, d) => {
        val t = Tables(s, d)
        t.documents
          .select(graft.dedup.Normalize.contentHash(col("text")).as("h"),
            col("source"))
          .groupBy(col("h"))
          .agg(count(lit(1)).as("group_size"),
            countDistinct(col("source")).as("n_sources"))
          .groupBy(col("group_size"), col("n_sources"))
          .agg(count(lit(1)).as("n_groups"))
          .select(col("group_size"), col("n_sources"), col("n_groups"),
            (col("group_size") * col("n_groups")).as("n_docs"))
          .orderBy(col("group_size"), col("n_sources"))
      },
      Some(s"""WITH g AS (SELECT md5(${graft.dedup.Normalize.normalizeSql("text")}) AS h,
              |    CAST(count(*) AS BIGINT) AS group_size,
              |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources
              |  FROM documents GROUP BY h)
              |SELECT group_size, n_sources, CAST(count(*) AS BIGINT)
              |    AS n_groups,
              |  group_size * CAST(count(*) AS BIGINT) AS n_docs
              |FROM g GROUP BY group_size, n_sources
              |ORDER BY group_size, n_sources""".stripMargin)),

    // ---- Bloom-filter sizing plan for the q93 decontamination screen:
    // measured distinct 3-gram count x target-FPR menu -> optimal bits /
    // bytes / hash count; irrational constants quantized ONCE and shared
    // with the oracle (the q139 discount-literal pattern)
    Q("q198_bloom_plan",
      (s, d) => {
        val t = Tables(s, d)
        graft.dedup.BloomPlanner.plan(t.documents, "text", shingleLen = 3,
            fprsPpm = Seq(10000L, 1000L, 100L))
          .orderBy(col("fpr_ppm").desc)
      },
      Some {
        val lits = Seq(10000L, 1000L, 100L)
          .map(p => s"($p, ${graft.dedup.BloomPlanner.lnFprMicro(p)})")
          .mkString(", ")
        val ln2 = graft.dedup.BloomPlanner.ln2Micro
        val ln2sq = graft.dedup.BloomPlanner.ln2SqMicro
        s"""WITH tok AS (SELECT regexp_split_to_array(text, '\\s+') AS t
           |  FROM documents),
           |g AS (SELECT DISTINCT unnest(list_transform(range(1, len(t)-1),
           |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
           |  FROM tok WHERE len(t) >= 3),
           |n AS (SELECT CAST(count(*) AS BIGINT) AS n_items FROM g
           |  HAVING count(*) > 0),
           |f AS (SELECT * FROM (VALUES $lits) v(fpr_ppm, lnp)),
           |m AS (SELECT CAST(fpr_ppm AS BIGINT) AS fpr_ppm, n_items,
           |    CAST((CAST(n_items AS HUGEINT) * lnp + ${ln2sq - 1})
           |      // $ln2sq AS BIGINT) AS m_bits
           |  FROM n, f)
           |SELECT fpr_ppm, n_items, m_bits,
           |  (m_bits + 7) // 8 AS filter_bytes,
           |  greatest(1, CAST((2 * CAST(m_bits AS HUGEINT) * $ln2
           |    + CAST(n_items AS HUGEINT) * 1000000)
           |    // (2 * CAST(n_items AS HUGEINT) * 1000000) AS BIGINT))
           |    AS k_hashes
           |FROM m ORDER BY fpr_ppm DESC""".stripMargin
      }),

    // ---- leakage-safe 5-fold CV assignment: fold is a pure function of
    // the NORMALIZED content hash (every member of a dup group shares a
    // fold), cut at the q39 hash-sample thresholds; the gate pins the
    // per-(fold, source) census + label balance
    Q("q199_cv_folds",
      (s, d) => {
        val t = Tables(s, d)
        val keyed = t.documents.select(col("doc_id"), col("lang"),
          col("source"),
          graft.dedup.Normalize.contentHash(col("text")).as("grp"))
        graft.sampling.Sampling.cvFoldAssign(keyed, col("grp"), 5, "cv")
          .groupBy(col("fold"), col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))
          .select(col("fold"), col("source"), col("n_docs"), col("n_en"),
            expr("(n_en * 1000000) div n_docs").as("en_ppm"))
          .orderBy(col("fold"), col("source"))
      },
      Some {
        val thr = (1 until 5).map(f =>
          graft.sampling.Sampling.fractionThreshold(f / 5.0))
        val foldExpr = thr.map(t =>
          s"CASE WHEN draw >= '$t' THEN 1 ELSE 0 END").mkString(" + ")
        s"""WITH b AS (SELECT doc_id, lang, source,
           |    md5(${graft.dedup.Normalize.normalizeSql("text")}) AS grp
           |  FROM documents),
           |dr AS (SELECT lang, source,
           |    substr(md5('cv:' || grp), 1, 8) AS draw FROM b),
           |fd AS (SELECT lang, source,
           |    CAST($foldExpr AS INTEGER) AS fold FROM dr)
           |SELECT fold, source, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS n_en,
           |  (CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) * 1000000)
           |    // CAST(count(*) AS BIGINT) AS en_ppm
           |FROM fd GROUP BY fold, source
           |ORDER BY fold, source""".stripMargin
      }),

    // ---- capstone composition, ONE lazy plan: normalized-canonical
    // dedup (keep min-id per normalized hash) -> robust MAD length screen
    // per source -> leakage-safe fold census; the q48 pattern built from
    // this round's operators
    Q("q200_curation_v2",
      (s, d) => {
        val t = Tables(s, d)
        // kept persisted: madKeep reads its input twice
        val kept = graft.dedup.Normalize.canonicalDocs(t.documents,
            "doc_id", "text", Seq("lang", "source", "n_chars"), Some("grp"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val screened = graft.curation.RobustStats.madKeep(
          kept, "source", "n_chars", kTenths = 35)
        graft.sampling.Sampling.cvFoldAssign(screened, col("grp"), 5, "cv")
          .groupBy(col("fold"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
            sum(col("n_chars")).as("n_chars"))
          .orderBy(col("fold"))
      },
      Some {
        val thr = (1 until 5).map(f =>
          graft.sampling.Sampling.fractionThreshold(f / 5.0))
        val foldExpr = thr.map(t =>
          s"CASE WHEN draw >= '$t' THEN 1 ELSE 0 END").mkString(" + ")
        s"""WITH b AS (SELECT doc_id, lang, source, n_chars,
           |    md5(${graft.dedup.Normalize.normalizeSql("text")}) AS grp
           |  FROM documents),
           |$canonKeptCte,
           |r AS (SELECT source, n_chars,
           |    CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars)
           |      AS BIGINT) AS rn,
           |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
           |  FROM kept),
           |med AS (SELECT source, min(CASE WHEN rn >= (n + 1) // 2
           |    THEN n_chars END) AS med FROM r GROUP BY source),
           |dd AS (SELECT r2.source, abs(r2.n_chars - med) AS dv,
           |    CAST(row_number() OVER (PARTITION BY r2.source
           |      ORDER BY abs(r2.n_chars - med)) AS BIGINT) AS rn,
           |    CAST(count(*) OVER (PARTITION BY r2.source) AS BIGINT) AS n
           |  FROM (SELECT source, n_chars FROM kept) r2
           |  JOIN med USING (source)),
           |mad AS (SELECT source, min(CASE WHEN rn >= (n + 1) // 2
           |    THEN dv END) AS mad FROM dd GROUP BY source),
           |scr AS (SELECT kept.* FROM kept
           |  JOIN med USING (source) JOIN mad USING (source)
           |  WHERE abs(n_chars - med) * 10 <= 35 * mad),
           |fd AS (SELECT lang, n_chars,
           |    CAST($foldExpr AS INTEGER) AS fold FROM (
           |  SELECT lang, n_chars,
           |      substr(md5('cv:' || grp), 1, 8) AS draw FROM scr))
           |SELECT fold, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS n_en,
           |  CAST(sum(n_chars) AS BIGINT) AS n_chars
           |FROM fd GROUP BY fold ORDER BY fold""".stripMargin
      }),

    // ---- Krippendorff's α (nominal, two raters) per source: the
    // POOLED-marginal, (n−1)-corrected reliability complement of q190's
    // Cohen's κ — same (g, a, b) cell-count exchange, different chance
    // model; α is what annotation reliability reports conventionally quote
    Q("q206_krippendorff",
      (s, d) => {
        val t = Tables(s, d)
        val pred = t.documents.select(col("source"), col("lang"),
          TextFunctions.langId(col("text")).as("lang_pred"))
        Agreement.krippendorffAlpha(pred, "source", "lang", "lang_pred")
          .orderBy(col("g"))
      },
      Some(s"""WITH p AS (${TextDedupQueries.langIdPredSql}),
              |j AS (SELECT d.source AS g, p.lang AS a, p.lang_pred AS b
              |  FROM p JOIN documents d ON p.doc_id = d.doc_id),
              |cells AS (SELECT g, a, b, CAST(count(*) AS BIGINT) AS c
              |  FROM j GROUP BY g, a, b),
              |tot AS (SELECT g, CAST(sum(c) AS BIGINT) AS n_units,
              |    CAST(sum(c) FILTER (WHERE a = b) AS BIGINT) AS agree
              |  FROM cells GROUP BY g),
              |pool AS (SELECT g, v, CAST(sum(m) AS BIGINT) AS nv FROM (
              |    SELECT g, a AS v, CAST(sum(c) AS BIGINT) AS m
              |      FROM cells GROUP BY g, a
              |    UNION ALL
              |    SELECT g, b AS v, CAST(sum(c) AS BIGINT) AS m
              |      FROM cells GROUP BY g, b)
              |  GROUP BY g, v),
              |s2 AS (SELECT g, sum(CAST(nv AS HUGEINT) * nv) AS sum_nv2
              |  FROM pool GROUP BY g),
              |d2 AS (SELECT t.g, n_units, agree,
              |    CAST(n_units AS HUGEINT) * n_units * 4 - sum_nv2 AS de
              |  FROM tot t JOIN s2 ON t.g = s2.g)
              |SELECT g, n_units, agree, CAST(de AS BIGINT) AS de,
              |  CAST(((de - (CAST(n_units AS HUGEINT) * 2 - 1)
              |           * (n_units - agree) * 2) * 1000000)
              |    // de AS BIGINT) AS alpha_micro
              |FROM d2 WHERE de > 0 ORDER BY g""".stripMargin)),

    // ---- split-conformal screening calibration: thresholds with a
    // finite-sample coverage guarantee over the stopword-density quality
    // score (integer ppm), held-out empirical coverage beside each; the
    // md5 hash split is the q39 draw, the rank a type-1 order statistic
    Q("q207_conformal_screen",
      (s, d) => {
        val t = Tables(s, d)
        val toks = TextFunctions.tokens(lower(col("text")))
        val stops = TextFunctions.DefaultStopwords
        val frame = t.documents.select(col("doc_id"),
          (col("lang") === "en").as("lab"),
          TextFunctions.integralDiv(
            size(filter(toks, x => x.isin(stops.map(v => v: Any): _*)))
              .cast("long") * 1000000L,
            greatest(size(toks).cast("long"), lit(1L))).as("score"))
        Conformal.conformalScreen(frame, "doc_id", col("score"),
            col("lab"), calFraction = 0.3, salt = "conf",
            alphasPpm = Seq(50000L, 100000L, 200000L, 500000L))
          .orderBy(col("alpha_ppm"))
      },
      Some {
        val thr = graft.sampling.Sampling.fractionThreshold(0.3)
        val stops = TextFunctions.DefaultStopwords
          .map(s => s"'$s'").mkString("[", ", ", "]")
        s"""WITH b AS (SELECT doc_id, (lang = 'en') AS lab,
           |    (CAST(len(list_filter(regexp_split_to_array(lower(text),
           |        '\\s+'), x -> list_contains($stops, x))) AS BIGINT)
           |      * 1000000)
           |      // greatest(CAST(len(regexp_split_to_array(lower(text),
           |        '\\s+')) AS BIGINT), 1) AS s,
           |    substr(md5('conf:' || CAST(doc_id AS VARCHAR)), 1, 8)
           |      < '$thr' AS cal
           |  FROM documents),
           |hist AS (SELECT s, CAST(count(*) AS BIGINT) AS c FROM b
           |  WHERE cal AND lab GROUP BY s),
           |cum AS (SELECT s, sum(c) OVER (ORDER BY s) AS cum FROM hist),
           |ncal AS (SELECT COALESCE(CAST(sum(c) AS BIGINT), 0) AS n_cal
           |  FROM hist),
           |al AS (SELECT unnest([50000, 100000, 200000, 500000])
           |    AS alpha_ppm),
           |rk AS (SELECT alpha_ppm, n_cal,
           |    (CAST(alpha_ppm AS BIGINT) * (n_cal + 1)) // 1000000
           |      AS k_rank
           |  FROM al, ncal),
           |thr AS (SELECT rk.alpha_ppm, rk.n_cal, rk.k_rank,
           |    min(cum.s) AS thr_score
           |  FROM rk LEFT JOIN cum
           |    ON cum.cum >= rk.k_rank AND rk.k_rank >= 1
           |  GROUP BY rk.alpha_ppm, rk.n_cal, rk.k_rank),
           |ev AS (SELECT * FROM b WHERE NOT cal)
           |SELECT alpha_ppm, n_cal, k_rank, thr_score,
           |  CAST(count(*) FILTER (WHERE lab) AS BIGINT) AS n_eval_pos,
           |  CAST(count(*) FILTER (WHERE lab AND (thr_score IS NULL
           |      OR s >= thr_score)) AS BIGINT) AS n_eval_pos_kept,
           |  CASE WHEN count(*) FILTER (WHERE lab) > 0 THEN
           |    (CAST(count(*) FILTER (WHERE lab AND (thr_score IS NULL
           |        OR s >= thr_score)) AS BIGINT) * 1000000)
           |      // CAST(count(*) FILTER (WHERE lab) AS BIGINT)
           |    END AS coverage_ppm,
           |  CAST(count(*) AS BIGINT) AS n_eval,
           |  CAST(count(*) FILTER (WHERE thr_score IS NULL
           |      OR s >= thr_score) AS BIGINT) AS n_eval_kept,
           |  (CAST(count(*) FILTER (WHERE thr_score IS NULL
           |      OR s >= thr_score) AS BIGINT) * 1000000)
           |    // CAST(count(*) AS BIGINT) AS accept_ppm
           |FROM ev CROSS JOIN thr
           |GROUP BY alpha_ppm, n_cal, k_rank, thr_score
           |ORDER BY alpha_ppm""".stripMargin
      }),

    // ---- clipped n-gram precision profile (BLEU components, n = 1..4)
    // between adjacent-id same-source doc pairs — the exact-integer
    // overlap scorer for rewrites/translations/near-dup candidates; the
    // geometric mean + exp brevity penalty are left to the consumer
    // (transcendental; fully determined by these columns)
    Q("q208_bleu_overlap",
      (s, d) => {
        val t = Tables(s, d)
        // gate pairing: each doc vs its successor within the source (a
        // per-source lead window — fine for a demonstration pairing; the
        // operator contract takes ANY caller-built pairs frame)
        val pairs = t.documents
          .select(col("doc_id").as("cand_id"), col("source").as("g"),
            lead(col("doc_id"), 1).over(
              org.apache.spark.sql.expressions.Window
                .partitionBy(col("source")).orderBy(col("doc_id")))
              .as("ref_id"))
          .filter(col("ref_id").isNotNull)
        OverlapEval.ngramPrecisionProfile(t.documents, "doc_id", "text",
            pairs, "cand_id", "ref_id", "g", maxN = 4)
          .orderBy(col("g"), col("n"))
      },
      Some("""WITH d AS (SELECT doc_id, source,
             |    regexp_split_to_array(text, '\s+') AS w FROM documents),
             |pr AS (SELECT doc_id AS cid, source AS g,
             |    lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id)
             |      AS rid FROM documents),
             |p AS (SELECT pr.cid, pr.rid, pr.g, a.w AS cw, b.w AS rw
             |  FROM pr JOIN d a ON pr.cid = a.doc_id
             |    JOIN d b ON pr.rid = b.doc_id
             |  WHERE pr.rid IS NOT NULL),
             |cg AS (SELECT cid, rid, g, n, gram,
             |    CAST(count(*) AS BIGINT) AS cc FROM (
             |  SELECT cid, rid, g, 1 AS n, unnest(cw) AS gram FROM p
             |  UNION ALL SELECT cid, rid, g, 2,
             |    unnest(list_transform(range(1, len(cw)),
             |      i -> cw[i] || ' ' || cw[i+1])) FROM p
             |  UNION ALL SELECT cid, rid, g, 3,
             |    unnest(list_transform(range(1, len(cw)-1),
             |      i -> cw[i] || ' ' || cw[i+1] || ' ' || cw[i+2])) FROM p
             |  UNION ALL SELECT cid, rid, g, 4,
             |    unnest(list_transform(range(1, len(cw)-2),
             |      i -> cw[i] || ' ' || cw[i+1] || ' ' || cw[i+2] || ' '
             |        || cw[i+3])) FROM p)
             |  GROUP BY cid, rid, g, n, gram),
             |rg AS (SELECT cid, rid, g, n, gram,
             |    CAST(count(*) AS BIGINT) AS rc FROM (
             |  SELECT cid, rid, g, 1 AS n, unnest(rw) AS gram FROM p
             |  UNION ALL SELECT cid, rid, g, 2,
             |    unnest(list_transform(range(1, len(rw)),
             |      i -> rw[i] || ' ' || rw[i+1])) FROM p
             |  UNION ALL SELECT cid, rid, g, 3,
             |    unnest(list_transform(range(1, len(rw)-1),
             |      i -> rw[i] || ' ' || rw[i+1] || ' ' || rw[i+2])) FROM p
             |  UNION ALL SELECT cid, rid, g, 4,
             |    unnest(list_transform(range(1, len(rw)-2),
             |      i -> rw[i] || ' ' || rw[i+1] || ' ' || rw[i+2] || ' '
             |        || rw[i+3])) FROM p)
             |  GROUP BY cid, rid, g, n, gram),
             |cl AS (SELECT cg.g, cg.n,
             |    CAST(sum(least(cg.cc, COALESCE(rg.rc, 0))) AS BIGINT)
             |      AS clipped,
             |    CAST(sum(cg.cc) AS BIGINT) AS cand_grams
             |  FROM cg LEFT JOIN rg ON cg.cid = rg.cid AND cg.rid = rg.rid
             |    AND cg.n = rg.n AND cg.gram = rg.gram
             |  GROUP BY cg.g, cg.n),
             |lens AS (SELECT g, CAST(count(*) AS BIGINT) AS n_pairs,
             |    CAST(sum(len(cw)) AS BIGINT) AS cand_tokens,
             |    CAST(sum(len(rw)) AS BIGINT) AS ref_tokens
             |  FROM p GROUP BY g)
             |SELECT cl.g, cl.n, n_pairs, clipped, cand_grams,
             |  (clipped * 1000000) // cand_grams AS p_ppm,
             |  cand_tokens, ref_tokens
             |FROM cl JOIN lens ON cl.g = lens.g
             |ORDER BY cl.g, cl.n""".stripMargin)),

    // ---- concat-and-chunk packing fragmentation audit: the GPT-style
    // packer's doc-splitting bill per source at a 256-token context —
    // windows used, straddle rate, fragments, tail padding; prices the
    // contextLen choice against boundary-respecting packing (q185/q192)
    Q("q209_pack_fragmentation",
      (s, d) => {
        val t = Tables(s, d)
        CapacityPlan.packFragmentation(t.documents, "source", "doc_id",
            "text", contextLen = 256)
          .orderBy(col("g"))
      },
      Some("""WITH d AS (SELECT source AS g, doc_id,
             |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT)
             |      AS n FROM documents),
             |c AS (SELECT g, n,
             |    sum(n) OVER (PARTITION BY g ORDER BY doc_id) AS cum
             |  FROM d),
             |f AS (SELECT g, n, CASE WHEN n = 0 THEN 0
             |    ELSE (cum - 1) // 256 - (cum - n) // 256 + 1 END AS frag
             |  FROM c)
             |SELECT g, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(n) AS BIGINT) AS total_tokens,
             |  (CAST(sum(n) AS BIGINT) + 255) // 256 AS windows_used,
             |  CAST(sum(frag) AS BIGINT) AS fragments,
             |  CAST(count(*) FILTER (WHERE frag > 1) AS BIGINT)
             |    AS n_straddle,
             |  (CAST(count(*) FILTER (WHERE frag > 1) AS BIGINT) * 1000000)
             |    // CAST(count(*) AS BIGINT) AS straddle_ppm,
             |  ((CAST(sum(n) AS BIGINT) + 255) // 256) * 256
             |    - CAST(sum(n) AS BIGINT) AS tail_pad
             |FROM f GROUP BY g ORDER BY g""".stripMargin)),

    // ---- token-budgeted mixture assembly capstone: waterfill a 200k
    // global token budget across sources, fill each allocation greedily
    // with the highest stopword-density (q207 score) docs — the census a
    // mixture decision actually reads (supply, alloc, selected, fill)
    Q("q210_mixture_assembly",
      (s, d) => {
        val t = Tables(s, d)
        val toks = TextFunctions.tokens(lower(col("text")))
        val stops = TextFunctions.DefaultStopwords
        val frame = t.documents.select(col("source"), col("doc_id"),
          TextFunctions.integralDiv(
            size(filter(toks, x => x.isin(stops.map(v => v: Any): _*)))
              .cast("long") * 1000000L,
            greatest(size(toks).cast("long"), lit(1L))).as("score"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"))
        CapacityPlan.budgetedSelect(frame, "source", "doc_id",
            col("score"), col("n_tokens"), budget = 200000L)
          .orderBy(col("g"))
      },
      Some {
        val stops = TextFunctions.DefaultStopwords
          .map(s => s"'$s'").mkString("[", ", ", "]")
        s"""WITH base AS (SELECT source AS g, doc_id,
           |    (CAST(len(list_filter(regexp_split_to_array(lower(text),
           |        '\\s+'), x -> list_contains($stops, x))) AS BIGINT)
           |      * 1000000)
           |      // greatest(CAST(len(regexp_split_to_array(lower(text),
           |        '\\s+')) AS BIGINT), 1) AS s,
           |    CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT)
           |      AS tk
           |  FROM documents),
           |caps AS (SELECT g AS grp, CAST(sum(tk) AS BIGINT) AS cap
           |  FROM base GROUP BY g),
           |r AS (SELECT grp, cap,
           |    CAST(row_number() OVER (ORDER BY cap, grp) AS BIGINT) AS i,
           |    CAST(sum(cap) OVER (ORDER BY cap, grp) AS BIGINT) AS p,
           |    CAST(count(*) OVER () AS BIGINT) AS n
           |  FROM caps),
           |f AS (SELECT grp, cap, i, p, n,
           |    cap * (n - i + 1) + (p - cap) <= 200000 AS funded FROM r),
           |lv AS (SELECT CASE
           |    WHEN max(CASE WHEN funded THEN i END) IS NULL
           |      THEN 200000 // max(n)
           |    WHEN max(CASE WHEN funded THEN i END) = max(n) THEN NULL
           |    ELSE (200000 - max(CASE WHEN funded THEN p END))
           |      // (max(n) - max(CASE WHEN funded THEN i END)) END
           |    AS lambda
           |  FROM f),
           |al AS (SELECT grp, cap, funded, CASE
           |    WHEN funded OR lambda IS NULL THEN cap
           |    ELSE lambda END AS alloc FROM f, lv),
           |sel AS (SELECT g, tk, sum(tk) OVER (PARTITION BY g
           |    ORDER BY s DESC, doc_id) AS cum FROM base),
           |kept AS (SELECT sel.g, tk FROM sel
           |  JOIN al ON sel.g = al.grp WHERE cum <= alloc),
           |census AS (SELECT g, CAST(count(*) AS BIGINT) AS n_selected,
           |    CAST(sum(tk) AS BIGINT) AS tokens_selected
           |  FROM kept GROUP BY g)
           |SELECT grp AS g, cap, alloc, funded,
           |  COALESCE(n_selected, 0) AS n_selected,
           |  COALESCE(tokens_selected, 0) AS tokens_selected,
           |  CASE WHEN alloc > 0 THEN
           |    (COALESCE(tokens_selected, 0) * 1000000) // alloc
           |    END AS fill_ppm
           |FROM al LEFT JOIN census ON al.grp = census.g
           |ORDER BY g""".stripMargin
      }),

    // ---- conformal-calibrated curation capstone: q200's pipeline with the
    // q207 coverage-guaranteed cut in place of the bare MAD multiple —
    // normalized exact dedup -> conformal threshold (alpha = 10%,
    // calibrated on the stopword-density score against the lang = 'en'
    // label) -> keep score >= thr -> leakage-safe fold census
    Q("q214_curation_conformal",
      (s, d) => {
        val t = Tables(s, d)
        val toksL = TextFunctions.tokens(lower(col("text")))
        val stops = TextFunctions.DefaultStopwords
        val base = t.documents.select(col("doc_id"), col("lang"),
          col("n_chars"), col("text"),
          TextFunctions.integralDiv(
            size(filter(toksL, x => x.isin(stops.map(v => v: Any): _*)))
              .cast("long") * 1000000L,
            greatest(size(toksL).cast("long"), lit(1L))).as("score"))
        // normalize+md5+tokenize run exactly once per row inside the
        // canonical aggregate; kept stays persisted: calibratedKeep reads
        // its input twice (threshold derivation + the final filter)
        val kept = graft.dedup.Normalize.canonicalDocs(base, "doc_id",
            "text", Seq("lang", "n_chars", "score"), Some("grp"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val screened = Conformal.calibratedKeep(kept, "doc_id",
          col("score"), col("lang") === "en", calFraction = 0.3,
          salt = "conf", alphaPpm = 100000L)
        graft.sampling.Sampling.cvFoldAssign(screened, col("grp"), 5, "cv")
          .groupBy(col("fold"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
            sum(col("n_chars")).as("n_chars"),
            max(col("thr_score")).as("thr_score"))
          .orderBy(col("fold"))
      },
      Some {
        val calThr = graft.sampling.Sampling.fractionThreshold(0.3)
        val foldThr = (1 until 5).map(f =>
          graft.sampling.Sampling.fractionThreshold(f / 5.0))
        val foldExpr = foldThr.map(t =>
          s"CASE WHEN draw >= '$t' THEN 1 ELSE 0 END").mkString(" + ")
        val stops = TextFunctions.DefaultStopwords
          .map(s => s"'$s'").mkString("[", ", ", "]")
        s"""WITH b AS (SELECT doc_id, lang, n_chars,
           |    md5(${graft.dedup.Normalize.normalizeSql("text")}) AS grp,
           |    (CAST(len(list_filter(regexp_split_to_array(lower(text),
           |        '\\s+'), x -> list_contains($stops, x))) AS BIGINT)
           |      * 1000000)
           |      // greatest(CAST(len(regexp_split_to_array(lower(text),
           |        '\\s+')) AS BIGINT), 1) AS s
           |  FROM documents),
           |$canonKeptCte,
           |cb AS (SELECT *, (lang = 'en') AS lab,
           |    substr(md5('conf:' || CAST(doc_id AS VARCHAR)), 1, 8)
           |      < '$calThr' AS cal
           |  FROM kept),
           |hist AS (SELECT s, CAST(count(*) AS BIGINT) AS c FROM cb
           |  WHERE cal AND lab GROUP BY s),
           |cum AS (SELECT s, sum(c) OVER (ORDER BY s) AS cum FROM hist),
           |ncal AS (SELECT COALESCE(CAST(sum(c) AS BIGINT), 0) AS n_cal
           |  FROM hist),
           |rk AS (SELECT n_cal, (100000 * (n_cal + 1)) // 1000000
           |    AS k_rank FROM ncal),
           |thr AS (SELECT rk.k_rank, CAST(min(cum.s) AS BIGINT)
           |    AS thr_score
           |  FROM rk LEFT JOIN cum
           |    ON cum.cum >= rk.k_rank AND rk.k_rank >= 1
           |  GROUP BY rk.k_rank),
           |scr AS (SELECT cb.lang, cb.n_chars, cb.grp, thr_score
           |  FROM cb CROSS JOIN thr
           |  WHERE thr_score IS NULL OR s >= thr_score),
           |fd AS (SELECT lang, n_chars, thr_score,
           |    CAST($foldExpr AS INTEGER) AS fold FROM (
           |  SELECT lang, n_chars, thr_score,
           |      substr(md5('cv:' || grp), 1, 8) AS draw FROM scr))
           |SELECT fold, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS n_en,
           |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
           |  max(thr_score) AS thr_score
           |FROM fd GROUP BY fold ORDER BY fold""".stripMargin
      }),

    // ---- budget -> select -> pack composition: ONE query answers "what
    // does this mixture cost to pack at a 256-token context" — q210's
    // water-filled greedy selection priced by q209's concat-and-chunk
    // fragmentation audit, streamed in selection order (the selection
    // window's running total IS the packer's prefix sum: no extra shuffle)
    Q("q215_mixture_pack_audit",
      (s, d) => {
        val t = Tables(s, d)
        val toks = TextFunctions.tokens(lower(col("text")))
        val stops = TextFunctions.DefaultStopwords
        val frame = t.documents.select(col("source"), col("doc_id"),
          TextFunctions.integralDiv(
            size(filter(toks, x => x.isin(stops.map(v => v: Any): _*)))
              .cast("long") * 1000000L,
            greatest(size(toks).cast("long"), lit(1L))).as("score"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"))
        CapacityPlan.budgetedPackAudit(frame, "source", "doc_id",
            col("score"), col("n_tokens"), budget = 200000L,
            contextLen = 256)
          .orderBy(col("g"))
      },
      Some {
        val stops = TextFunctions.DefaultStopwords
          .map(s => s"'$s'").mkString("[", ", ", "]")
        s"""WITH base AS (SELECT source AS g, doc_id,
           |    (CAST(len(list_filter(regexp_split_to_array(lower(text),
           |        '\\s+'), x -> list_contains($stops, x))) AS BIGINT)
           |      * 1000000)
           |      // greatest(CAST(len(regexp_split_to_array(lower(text),
           |        '\\s+')) AS BIGINT), 1) AS s,
           |    CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT)
           |      AS tk
           |  FROM documents),
           |caps AS (SELECT g AS grp, CAST(sum(tk) AS BIGINT) AS cap
           |  FROM base GROUP BY g),
           |r AS (SELECT grp, cap,
           |    CAST(row_number() OVER (ORDER BY cap, grp) AS BIGINT) AS i,
           |    CAST(sum(cap) OVER (ORDER BY cap, grp) AS BIGINT) AS p,
           |    CAST(count(*) OVER () AS BIGINT) AS n
           |  FROM caps),
           |f AS (SELECT grp, cap, i, p, n,
           |    cap * (n - i + 1) + (p - cap) <= 200000 AS funded FROM r),
           |lv AS (SELECT CASE
           |    WHEN max(CASE WHEN funded THEN i END) IS NULL
           |      THEN 200000 // max(n)
           |    WHEN max(CASE WHEN funded THEN i END) = max(n) THEN NULL
           |    ELSE (200000 - max(CASE WHEN funded THEN p END))
           |      // (max(n) - max(CASE WHEN funded THEN i END)) END
           |    AS lambda
           |  FROM f),
           |al AS (SELECT grp, cap, funded, CASE
           |    WHEN funded OR lambda IS NULL THEN cap
           |    ELSE lambda END AS alloc FROM f, lv),
           |sel AS (SELECT g, tk, sum(tk) OVER (PARTITION BY g
           |    ORDER BY s DESC, doc_id) AS cum FROM base),
           |kept AS (SELECT sel.g, tk, cum FROM sel
           |  JOIN al ON sel.g = al.grp WHERE cum <= alloc),
           |fr AS (SELECT g, tk, CASE WHEN tk = 0 THEN 0
           |    ELSE (cum - 1) // 256 - (cum - tk) // 256 + 1 END AS frag
           |  FROM kept),
           |census AS (SELECT g, CAST(count(*) AS BIGINT) AS n_selected,
           |    CAST(sum(tk) AS BIGINT) AS tokens_selected,
           |    CAST(sum(frag) AS BIGINT) AS fragments,
           |    CAST(count(*) FILTER (WHERE frag > 1) AS BIGINT)
           |      AS n_straddle
           |  FROM fr GROUP BY g)
           |SELECT grp AS g, cap, alloc, funded,
           |  COALESCE(n_selected, 0) AS n_selected,
           |  COALESCE(tokens_selected, 0) AS tokens_selected,
           |  CASE WHEN alloc > 0 THEN
           |    (COALESCE(tokens_selected, 0) * 1000000) // alloc
           |    END AS fill_ppm,
           |  (COALESCE(tokens_selected, 0) + 255) // 256 AS windows_used,
           |  COALESCE(fragments, 0) AS fragments,
           |  COALESCE(n_straddle, 0) AS n_straddle,
           |  CASE WHEN COALESCE(n_selected, 0) > 0 THEN
           |    (COALESCE(n_straddle, 0) * 1000000)
           |      // COALESCE(n_selected, 1) END AS straddle_ppm,
           |  ((COALESCE(tokens_selected, 0) + 255) // 256) * 256
           |    - COALESCE(tokens_selected, 0) AS tail_pad
           |FROM al LEFT JOIN census ON al.grp = census.g
           |ORDER BY g""".stripMargin
      }))
}
