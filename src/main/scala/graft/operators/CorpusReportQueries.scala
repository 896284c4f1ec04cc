package graft.operators

import org.apache.spark.sql.functions._

import graft.Tables
import org.apache.spark.sql.expressions.Window

import graft.curation.{CorpusStats, QualityClassifier, QualitySignals, RankEval, RankFusion, SnapshotDiff, TfIdf}
import graft.dedup.{LshPlanner, Normalize, SortedNeighborhood, Stitch}
import graft.sampling.Sampling
import graft.similarity.EmbeddingStats
import graft.text.TextFunctions

/** Round-10 corpus reporting / evaluation operators: normalization-aware
  * dedup, incremental-novelty attribution, weighted all-pairs similarity,
  * filter-rule attribution, time-grid imputation, per-slice keyness, and
  * exact AUC ranking evaluation.
  *
  * Oracle parity: the repo-wide integer conventions — counts, cross-
  * multiplied ratio compares, micro/milli-nat quantized lns, integral
  * decimal division for the one squared-cosine ratio.
  */
object CorpusReportQueries {

  private val stops = TextFunctions.DefaultStopwords
  private val stopsSql = stops.map(s => s"'$s'").mkString("[", ", ", "]")

  def all: Seq[Q] = Seq(

    // ---- normalization-aware exact dedup: hash the casefolded/punct-
    // stripped/ws-collapsed text and compare group sizes against raw hashing
    Q("q121_normalized_dedup",
      (s, d) => {
        val t = Tables(s, d)
        Normalize.normalizedDedupAudit(t.documents, "doc_id", "text")
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH b AS (SELECT doc_id, md5(text) AS rh,
              |    md5(${Normalize.normalizeSql("text")}) AS nh
              |  FROM documents),
              |r AS (SELECT rh, CAST(count(*) AS BIGINT) AS raw_group_size
              |  FROM b GROUP BY rh),
              |n AS (SELECT nh, CAST(count(*) AS BIGINT) AS norm_group_size,
              |    min(doc_id) AS canon
              |  FROM b GROUP BY nh)
              |SELECT doc_id, raw_group_size, norm_group_size,
              |  doc_id = canon AS is_canonical,
              |  norm_group_size > raw_group_size AS revealed
              |FROM b JOIN r USING (rh) JOIN n USING (nh)
              |ORDER BY doc_id""".stripMargin)),

    // ---- per-document gram novelty under doc_id processing order: every
    // distinct gram attributed to its first document; novelty = introduced
    // share — the "is this crawl still adding content" curve
    Q("q122_gram_novelty",
      (s, d) => {
        val t = Tables(s, d)
        CorpusStats.gramNovelty(t.documents, "text", "doc_id", n = 2)
          .orderBy(col("doc_id"))
      },
      Some("""WITH tok AS (SELECT doc_id,
             |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
             |  FROM documents),
             |g AS (SELECT DISTINCT doc_id, gram FROM (
             |  SELECT doc_id, unnest(CASE WHEN len(t) >= 2
             |      THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
             |      ELSE []::VARCHAR[] END) AS gram
             |  FROM tok)),
             |o AS (SELECT gram, min(doc_id) AS first FROM g GROUP BY gram)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             |  CAST(count(*) FILTER (WHERE doc_id = first) AS BIGINT) AS n_novel,
             |  (CAST(count(*) FILTER (WHERE doc_id = first) AS BIGINT) * 1000000)
             |    // CAST(count(*) AS BIGINT) AS novel_ppm
             |FROM g JOIN o USING (gram)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- APSS with the ABSOLUTE df cap — the production scale path: a
    // RELATIVE (corpus-fraction) cap under-protects a corpus that is a
    // union of disjoint slices (a per-language stopword sits below a
    // global 20% cap, so that language's docs pair all-vs-all — the q123
    // 195x wordsalt-ScaleBench find); an absolute cap bounds candidate
    // volume at maxDf² per token REGARDLESS of corpus composition
    Q("q187_cosine_pairs_capped",
      (s, d) => {
        val t = Tables(s, d)
        TfIdf.cosinePairs(t.documents, "doc_id", "text",
            t2Ppm = 250000L, maxDf = Some(100L))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
             |  FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS token
             |        FROM documents)
             |  WHERE token <> '' GROUP BY doc_id, token),
             |nd AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
             |dfs AS (SELECT token, df FROM
             |  (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf
             |   GROUP BY token)
             |  WHERE df <= 100),
             |w AS (SELECT doc_id, token,
             |    tf * CAST(round(ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE)) * 1e3)
             |      AS BIGINT) AS w
             |  FROM tf JOIN dfs USING (token), nd),
             |w2 AS (SELECT * FROM w WHERE w > 0),
             |norms AS (SELECT doc_id, CAST(sum(w*w) AS BIGINT) AS ss FROM w2
             |  GROUP BY doc_id),
             |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |    CAST(sum(a.w*b.w) AS BIGINT) AS num
             |  FROM w2 a JOIN w2 b ON a.token = b.token AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |sc AS (SELECT id_a, id_b, num,
             |    CAST((CAST(num AS HUGEINT) * num * 1000000)
             |      // (CAST(sa.ss AS HUGEINT) * sb.ss) AS BIGINT) AS cos2_ppm
             |  FROM p JOIN norms sa ON sa.doc_id = id_a
             |  JOIN norms sb ON sb.doc_id = id_b)
             |SELECT id_a, id_b, num, cos2_ppm FROM sc
             |WHERE cos2_ppm >= 250000
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- all-pairs TF-IDF cosine (APSS): weighted topical similarity from
    // the shared-term inverted index; maxDf caps the boilerplate tail (the
    // oracle applies the SAME cap, so the gate pins the capped path exactly)
    Q("q123_cosine_pairs",
      (s, d) => {
        val t = Tables(s, d)
        TfIdf.cosinePairs(t.documents, "doc_id", "text",
            t2Ppm = 250000L, maxDfPpm = Some(200000L))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
             |  FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS token
             |        FROM documents)
             |  WHERE token <> '' GROUP BY doc_id, token),
             |nd AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
             |dfs AS (SELECT token, df FROM
             |  (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf
             |   GROUP BY token), nd
             |  WHERE df * 5 <= n),
             |w AS (SELECT doc_id, token,
             |    tf * CAST(round(ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE)) * 1e3)
             |      AS BIGINT) AS w
             |  FROM tf JOIN dfs USING (token), nd),
             |w2 AS (SELECT * FROM w WHERE w > 0),
             |norms AS (SELECT doc_id, CAST(sum(w*w) AS BIGINT) AS ss FROM w2
             |  GROUP BY doc_id),
             |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |    CAST(sum(a.w*b.w) AS BIGINT) AS num
             |  FROM w2 a JOIN w2 b ON a.token = b.token AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |sc AS (SELECT id_a, id_b, num,
             |    CAST((CAST(num AS HUGEINT) * num * 1000000)
             |      // (CAST(sa.ss AS HUGEINT) * sb.ss) AS BIGINT) AS cos2_ppm
             |  FROM p JOIN norms sa ON sa.doc_id = id_a
             |    JOIN norms sb ON sb.doc_id = id_b)
             |SELECT id_a, id_b, num, cos2_ppm FROM sc
             |WHERE cos2_ppm >= 250000
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- Gopher-style rule attribution per source: which filter rule
    // kills what, before committing a 100 TB filtering run
    Q("q124_rule_attribution",
      (s, d) => {
        val t = Tables(s, d)
        QualitySignals.ruleAttribution(t.documents, "text", "source")
          .orderBy(col("source"))
      },
      Some(s"""WITH b AS (SELECT source, text,
              |    regexp_split_to_array(text, '\\s+') AS t
              |  FROM documents),
              |m AS (SELECT source,
              |    CAST(len(t) AS BIGINT) AS nt,
              |    CAST(coalesce(list_sum(list_transform(t, x -> len(x))), 0)
              |      AS BIGINT) AS sumlen,
              |    CAST(len(regexp_replace(text, '[A-Za-z0-9 \\t\\n\\r\\f]', '', 'g'))
              |      AS BIGINT) AS sym,
              |    CAST(len(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS dig,
              |    CAST(len(text) AS BIGINT) AS len_t,
              |    CAST(len(list_intersect(list_distinct(t), $stopsSql))
              |      AS BIGINT) AS nstop,
              |    CAST(coalesce(list_max(list_transform(list_distinct(t),
              |      x -> len(list_filter(t, y -> y = x)))), 0) AS BIGINT) AS top
              |  FROM b),
              |f AS (SELECT source,
              |    nt < 50 AS r_short, nt > 100000 AS r_long,
              |    (sumlen < 3*nt OR sumlen > 10*nt) AS r_mean,
              |    sym*10 > len_t AS r_sym, dig*5 > len_t AS r_dig,
              |    nstop < 2 AS r_stop, top*5 > nt AS r_rep
              |  FROM m)
              |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(count(*) FILTER (WHERE r_short) AS BIGINT) AS f_short,
              |  CAST(count(*) FILTER (WHERE r_long) AS BIGINT) AS f_long,
              |  CAST(count(*) FILTER (WHERE r_mean) AS BIGINT) AS f_mean_len,
              |  CAST(count(*) FILTER (WHERE r_sym) AS BIGINT) AS f_symbol,
              |  CAST(count(*) FILTER (WHERE r_dig) AS BIGINT) AS f_digit,
              |  CAST(count(*) FILTER (WHERE r_stop) AS BIGINT) AS f_stopword,
              |  CAST(count(*) FILTER (WHERE r_rep) AS BIGINT) AS f_repeat,
              |  CAST(count(*) FILTER (WHERE NOT (r_short OR r_long OR r_mean
              |    OR r_sym OR r_dig OR r_stop OR r_rep)) AS BIGINT) AS n_pass
              |FROM f GROUP BY source ORDER BY source""".stripMargin)),

    // ---- LOCF time-grid imputation: per-user 6h grid over each user's
    // span, last observation carried forward (gaps-and-islands fill)
    Q("q125_locf_grid",
      (s, d) => {
        val t = Tables(s, d)
        TimeFill.locfGrid(t.events, "user_id", "ts", "value",
            stepSeconds = 21600L)
          .orderBy(col("user_id"), col("slot_start"))
      },
      Some("""WITH o AS (SELECT user_id AS k, epoch_us(ts) AS us,
             |    CAST(round(value*100) AS BIGINT) AS cents,
             |    epoch_us(ts) // 21600000000 AS slot
             |  FROM events),
             |last AS (SELECT k, slot, max(us) AS lastus FROM o GROUP BY k, slot),
             |sv AS (SELECT o.k, o.slot, max(o.cents) AS v
             |  FROM o JOIN last ON o.k = last.k AND o.slot = last.slot
             |    AND o.us = last.lastus
             |  GROUP BY o.k, o.slot),
             |spans AS (SELECT k, min(slot) AS lo, max(slot) AS hi FROM o GROUP BY k),
             |grid AS (SELECT k, unnest(range(lo, hi + 1)) AS slot FROM spans),
             |j AS (SELECT g.k, g.slot, sv.v,
             |    count(sv.v) OVER (PARTITION BY g.k ORDER BY g.slot) AS isl
             |  FROM grid g LEFT JOIN sv ON sv.k = g.k AND sv.slot = g.slot)
             |SELECT k AS user_id, make_timestamp(slot * 21600000000) AS slot_start,
             |  max(v) OVER (PARTITION BY k, isl) AS value_cents,
             |  v IS NULL AS filled
             |FROM j ORDER BY user_id, slot_start""".stripMargin)),

    // ---- per-source keyness (Dunning G²): which terms are over-represented
    // in each slice vs the rest — vocabulary drift / domain labeling
    Q("q126_keyness",
      (s, d) => {
        val t = Tables(s, d)
        CorpusStats.keynessTopK(t.documents, "text", "source",
            minCount = 5L, k = 10)
          .orderBy(col("source"), col("rank"))
      },
      Some("""WITH tok AS (SELECT source AS g,
             |    unnest(regexp_split_to_array(text, '\s+')) AS w
             |  FROM documents),
             |c AS (SELECT g, w, CAST(count(*) AS BIGINT) AS a FROM tok
             |  WHERE w <> '' GROUP BY g, w),
             |ct AS (SELECT w, CAST(sum(a) AS BIGINT) AS cw FROM c GROUP BY w),
             |gt AS (SELECT g, CAST(sum(a) AS BIGINT) AS na FROM c GROUP BY g),
             |tot AS (SELECT CAST(sum(na) AS BIGINT) AS n FROM gt),
             |s AS (SELECT c.g, c.w, c.a, ct.cw - c.a AS b, gt.na,
             |    tot.n - gt.na AS nb, tot.n AS n
             |  FROM c JOIN ct USING (w) JOIN gt USING (g), tot
             |  WHERE ct.cw >= 5),
             |sc AS (SELECT g, w, a, b,
             |    2 * (a * CAST(round(ln(CAST(a * n AS DOUBLE)
             |          / CAST(na * (a + b) AS DOUBLE)) * 1e6) AS BIGINT)
             |       + b * (CASE WHEN b = 0 THEN 0
             |          ELSE CAST(round(ln(CAST(b * n AS DOUBLE)
             |            / CAST(nb * (a + b) AS DOUBLE)) * 1e6) AS BIGINT) END))
             |      AS g2,
             |    a * nb > b * na AS enriched
             |  FROM s),
             |r AS (SELECT g, w, a, b, g2, enriched,
             |    row_number() OVER (PARTITION BY g ORDER BY g2 DESC, w) AS rank
             |  FROM sc)
             |SELECT g AS source, CAST(rank AS INT) AS rank, w AS term, a, b,
             |  enriched, g2 AS g2_micro
             |FROM r WHERE rank <= 10 ORDER BY source, rank""".stripMargin)),

    // ---- exact AUC of the q71 distilled classifier against its own
    // training labels (Mann-Whitney midrank identity, pure integers) — the
    // overfit/separability audit run before trusting a score for filtering
    Q("q127_classifier_auc",
      (s, d) => {
        val t = Tables(s, d)
        val tok = t.documents
          .select(col("doc_id"), (col("lang") === "en").as("lab"),
            explode(TextFunctions.tokens(col("text"))).as("token"))
          .filter(col("token") =!= "")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val scored = QualityClassifier.scoreTokens(tok, "doc_id", "token",
          QualityClassifier.trainTokens(tok, "token", "lab"))
        RankEval.aucExact(
          scored.join(t.documents.select(col("doc_id"),
            (col("lang") === "en").as("lab")), "doc_id"),
          "score_micro", "lab")
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
             |grp AS (SELECT s, CAST(count(*) AS BIGINT) AS g,
             |    CAST(count(*) FILTER (WHERE lab) AS BIGINT) AS g1
             |  FROM lbl GROUP BY s),
             |cm AS (SELECT s, g, g1,
             |    CAST(sum(g) OVER (ORDER BY s) AS BIGINT) AS cum FROM grp)
             |SELECT CAST(sum(g1) AS BIGINT) AS n_pos,
             |  CAST(sum(g - g1) AS BIGINT) AS n_neg,
             |  CAST((sum(g1 * (2*cum - g + 1)) - sum(g1) * (sum(g1) + 1))
             |    * 1000000 // (2 * sum(g1) * sum(g - g1)) AS BIGINT) AS auc_ppm
             |FROM cm""".stripMargin)),

    // ---- LSH S-curve planner: P(candidate | jaccard) per (bands, rows)
    // layout, exact integer-ppm power folds (the table that tunes q25)
    Q("q128_lsh_plan",
      (s, _) =>
        LshPlanner.sCurve(s, Seq((2, 8), (4, 4), (8, 2), (16, 1)))
          .orderBy(col("bands"), col("rows"), col("s_ppm")),
      Some("""WITH RECURSIVE
             |conf(bands, rows_) AS (SELECT * FROM (VALUES (2, 8), (4, 4),
             |  (8, 2), (16, 1)) t(b, r)),
             |grid(s_ppm) AS (SELECT CAST(k * 50000 AS BIGINT)
             |  FROM range(1, 20) t(k)),
             |pb(bands, rows_, s_ppm, k, x) AS (
             |  SELECT bands, rows_, s_ppm, 0, CAST(1000000 AS BIGINT)
             |  FROM conf, grid
             |  UNION ALL
             |  SELECT bands, rows_, s_ppm, k + 1, (x * s_ppm) // 1000000
             |  FROM pb WHERE k < rows_),
             |pband AS (SELECT bands, rows_, s_ppm, x AS p_band FROM pb
             |  WHERE k = rows_),
             |pc(bands, rows_, s_ppm, p_band, j, y) AS (
             |  SELECT bands, rows_, s_ppm, p_band, 0, CAST(1000000 AS BIGINT)
             |  FROM pband
             |  UNION ALL
             |  SELECT bands, rows_, s_ppm, p_band, j + 1,
             |    (y * (1000000 - p_band)) // 1000000
             |  FROM pc WHERE j < bands)
             |SELECT bands, rows_ AS "rows", s_ppm, p_band AS p_band_ppm,
             |  1000000 - y AS p_cand_ppm
             |FROM pc WHERE j = bands
             |ORDER BY bands, "rows", s_ppm""".stripMargin)),

    // ---- sorted-neighborhood dedup: global-order window candidates via
    // the PrefixSum scan + bucket equi-join; exact Jaccard verify
    Q("q129_sorted_neighborhood",
      (s, d) => {
        val t = Tables(s, d)
        SortedNeighborhood.neighborPairs(t.documents, "doc_id", "text",
            w = 3, keyLen = 16)
          .orderBy(col("pos_a"), col("pos_b"))
      },
      Some(s"""WITH ${TextDedupQueries.shinglesCte},
              |norm AS (SELECT doc_id,
              |    substr(${Normalize.normalizeSql("text")}, 1, 16) AS key
              |  FROM documents),
              |pos AS (SELECT doc_id,
              |    CAST(row_number() OVER (ORDER BY key, doc_id) AS BIGINT) AS pos
              |  FROM norm),
              |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |    a.pos AS pos_a, b.pos AS pos_b
              |  FROM pos a JOIN pos b
              |    ON b.pos > a.pos AND b.pos - a.pos <= 3),
              |j AS (SELECT id_a, id_b, pos_a, pos_b,
              |    CAST(coalesce(len(list_intersect(da.sh, db.sh)), 0)
              |      AS BIGINT) AS i,
              |    CAST(coalesce(len(da.sh), 0) + coalesce(len(db.sh), 0)
              |      AS BIGINT) AS ns
              |  FROM p LEFT JOIN docs da ON da.doc_id = id_a
              |    LEFT JOIN docs db ON db.doc_id = id_b)
              |SELECT id_a, id_b, pos_a, pos_b,
              |  CASE WHEN ns - i = 0 THEN 0
              |    ELSE (i * 1000000) // (ns - i) END AS jac_ppm
              |FROM j ORDER BY pos_a, pos_b""".stripMargin)),

    // ---- embedding norm health: zero vectors + norm blow-ups per label —
    // the encoder-regression alarm run before ANN indexing
    Q("q130_embedding_health",
      (s, d) => {
        val t = Tables(s, d)
        EmbeddingStats.normHealth(t.embeddings, "embedding", "label")
          .orderBy(col("label"))
      },
      Some("""WITH m AS (SELECT label, list_transform(embedding,
             |    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS mv
             |  FROM embeddings),
             |sq AS (SELECT label, CAST(coalesce(list_sum(
             |    list_transform(mv, v -> v * v)), 0) AS BIGINT) AS sq FROM m),
             |t AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
             |    CAST(sum(sq) AS BIGINT) AS tot,
             |    CAST(count(*) FILTER (WHERE sq = 0) AS BIGINT) AS n_zero
             |  FROM sq GROUP BY label)
             |SELECT t.label AS label, n_vecs, tot // n_vecs AS mean_sq_milli2,
             |  n_zero,
             |  CAST(count(*) FILTER (WHERE sq.sq * n_vecs > 4 * tot)
             |    AS BIGINT) AS n_outliers
             |FROM sq JOIN t USING (label)
             |GROUP BY t.label, n_vecs, tot, n_zero
             |ORDER BY t.label""".stripMargin)),

    // ---- corpus snapshot diff: added/removed/changed/unchanged per source
    // between two deterministic snapshot simulations of the same id space
    Q("q131_snapshot_diff",
      (s, d) => {
        val t = Tables(s, d)
        val prev = Sampling.hashSample(t.documents, "doc_id", 0.9, "snapA")
        val next = Sampling.hashSample(t.documents, "doc_id", 0.9, "snapB")
          .withColumn("text",
            when(Sampling.hashDraw(col("doc_id"), "mod") <
                lit(Sampling.fractionThreshold(0.1)),
              concat(col("text"), lit(" [v2]"))).otherwise(col("text")))
        SnapshotDiff.diffCounts(prev, next, "doc_id", "text", "source")
          .orderBy(col("source"))
      },
      Some(s"""WITH o AS (SELECT doc_id, source, md5(text) AS h FROM documents
              |  WHERE substr(md5('snapA:' || CAST(doc_id AS VARCHAR)), 1, 8)
              |    < '${Sampling.fractionThreshold(0.9)}'),
              |n AS (SELECT doc_id, source,
              |    md5(CASE WHEN substr(md5('mod:' || CAST(doc_id AS VARCHAR)), 1, 8)
              |        < '${Sampling.fractionThreshold(0.1)}'
              |      THEN text || ' [v2]' ELSE text END) AS h
              |  FROM documents
              |  WHERE substr(md5('snapB:' || CAST(doc_id AS VARCHAR)), 1, 8)
              |    < '${Sampling.fractionThreshold(0.9)}'),
              |j AS (SELECT coalesce(n.source, o.source) AS source,
              |    CASE WHEN o.h IS NULL THEN 'added'
              |         WHEN n.h IS NULL THEN 'removed'
              |         WHEN o.h <> n.h THEN 'changed'
              |         ELSE 'unchanged' END AS st
              |  FROM o FULL OUTER JOIN n USING (doc_id))
              |SELECT source,
              |  CAST(count(*) FILTER (WHERE st = 'added') AS BIGINT) AS n_added,
              |  CAST(count(*) FILTER (WHERE st = 'removed') AS BIGINT) AS n_removed,
              |  CAST(count(*) FILTER (WHERE st = 'changed') AS BIGINT) AS n_changed,
              |  CAST(count(*) FILTER (WHERE st = 'unchanged') AS BIGINT) AS n_unchanged
              |FROM j GROUP BY source ORDER BY source""".stripMargin)),

    // ---- suffix/prefix stitch candidates: crawl-truncation pairs whose
    // k-token boundary strings match (md5 equi-join, string-verified)
    Q("q132_stitch_pairs",
      (s, d) => {
        val t = Tables(s, d)
        Stitch.stitchPairs(t.documents, "doc_id", "text", k = 3)
          .orderBy(col("head_id"), col("tail_id"))
      },
      Some("""WITH tok AS (SELECT doc_id,
             |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
             |  FROM documents),
             |h AS (SELECT doc_id AS head_id,
             |    array_to_string(list_slice(t, len(t) - 2, len(t)), ' ') AS sfx
             |  FROM tok WHERE len(t) >= 3),
             |p AS (SELECT doc_id AS tail_id,
             |    array_to_string(list_slice(t, 1, 3), ' ') AS pfx
             |  FROM tok WHERE len(t) >= 3)
             |SELECT head_id, tail_id, sfx AS overlap
             |FROM h JOIN p ON sfx = pfx AND head_id <> tail_id
             |ORDER BY head_id, tail_id""".stripMargin)),

    // ---- downsample-only mixture rebalance: per-source rates to reach a
    // uniform token distribution, bottleneck-constrained, exact integers
    Q("q133_rebalance_rates",
      (s, d) => {
        val t = Tables(s, d)
        Sampling.rebalanceRates(t.documents, "text", "source")
          .orderBy(col("source"))
      },
      Some("""WITH c AS (SELECT source,
             |    CAST(sum(len(regexp_split_to_array(text, '\s+'))) AS BIGINT)
             |      AS n_tokens
             |  FROM documents GROUP BY source),
             |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot,
             |    CAST(count(*) AS BIGINT) AS ns FROM c),
             |w AS (SELECT source, n_tokens, 1000000 // ns AS target_ppm,
             |    (n_tokens * 1000000) // (1000000 // ns) AS cap, tot
             |  FROM c, t),
             |b AS (SELECT min(cap) AS tp FROM w)
             |SELECT source, n_tokens,
             |  (n_tokens * 1000000) // tot AS cur_ppm, target_ppm,
             |  (((target_ppm * tp) // 1000000) * 1000000) // n_tokens AS rate_ppm,
             |  (target_ppm * tp) // 1000000 AS kept_tokens
             |FROM w, b ORDER BY source""".stripMargin)),

    // ---- weighted vs set Jaccard on the q25 LSH candidates: does token
    // repetition change the dedup verdict on this corpus?
    Q("q134_weighted_jaccard",
      (s, d) => {
        val t = Tables(s, d)
        graft.dedup.Dedup.weightedJaccardAudit(t.documents, "doc_id", "text",
            shingleLen = 3, numHashes = 16, bands = 4)
          .orderBy(col("id1"), col("id2"))
      },
      Some(s"""WITH ${TextDedupQueries.shinglesCte},
              |${TextDedupQueries.signedCte},
              |${TextDedupQueries.lshCandCte("signed")},
              |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
              |  FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS token
              |        FROM documents)
              |  WHERE token <> '' GROUP BY doc_id, token),
              |tot AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS s FROM tf
              |  GROUP BY doc_id),
              |sh2 AS (SELECT id1, id2,
              |    CAST(sum(least(a.tf, b.tf)) AS BIGINT) AS m
              |  FROM cand JOIN tf a ON a.doc_id = id1
              |    JOIN tf b ON b.doc_id = id2 AND b.token = a.token
              |  GROUP BY id1, id2)
              |SELECT id1, id2,
              |  (CAST(len(list_intersect(d1.sh, d2.sh)) AS BIGINT) * 1000000)
              |    // (len(d1.sh) + len(d2.sh) - len(list_intersect(d1.sh, d2.sh)))
              |    AS jac_ppm,
              |  (coalesce(m, 0) * 1000000) // (t1.s + t2.s - coalesce(m, 0))
              |    AS wjac_ppm,
              |  (coalesce(m, 0) * 1000000) // (t1.s + t2.s - coalesce(m, 0))
              |    - (CAST(len(list_intersect(d1.sh, d2.sh)) AS BIGINT) * 1000000)
              |      // (len(d1.sh) + len(d2.sh) - len(list_intersect(d1.sh, d2.sh)))
              |    AS diff_ppm
              |FROM cand JOIN docs d1 ON d1.doc_id = id1
              |  JOIN docs d2 ON d2.doc_id = id2
              |  LEFT JOIN sh2 USING (id1, id2)
              |  JOIN tot t1 ON t1.doc_id = id1 JOIN tot t2 ON t2.doc_id = id2
              |ORDER BY id1, id2""".stripMargin)),

    // ---- 1-bit minwise audit (Li & König): 64x-compressed sketch estimate
    // 2m/k - 1 vs exact Jaccard on the LSH candidates
    Q("q135_bbit_minhash",
      (s, d) => {
        val t = Tables(s, d)
        graft.dedup.Dedup.bbitMinhashAudit(t.documents, "doc_id", "text",
            shingleLen = 3, numHashes = 16, bands = 4)
          .orderBy(col("id1"), col("id2"))
      },
      Some(s"""WITH ${TextDedupQueries.shinglesCte},
              |${TextDedupQueries.signedCte},
              |wb AS (SELECT doc_id, sh,
              |    list_transform(sig, s -> CAST(CAST(s AS UBIGINT) % 2 AS INT)) AS bits,
              |    sig
              |  FROM signed),
              |${TextDedupQueries.lshCandCte("wb")},
              |m AS (SELECT id1, id2,
              |    CAST(len(list_filter(range(1, 17),
              |      j -> d1.bits[CAST(j AS INT)] = d2.bits[CAST(j AS INT)]))
              |      AS BIGINT) AS bit_matches,
              |    CAST(len(list_intersect(d1.sh, d2.sh)) AS BIGINT) AS i,
              |    CAST(len(d1.sh) + len(d2.sh) AS BIGINT) AS ns
              |  FROM cand JOIN wb d1 ON d1.doc_id = id1
              |    JOIN wb d2 ON d2.doc_id = id2)
              |SELECT id1, id2, bit_matches,
              |  (2 * bit_matches * 1000000) // 16 - 1000000 AS est1_ppm,
              |  (i * 1000000) // (ns - i) AS jac_ppm,
              |  (2 * bit_matches * 1000000) // 16 - 1000000
              |    - (i * 1000000) // (ns - i) AS err1_ppm
              |FROM m ORDER BY id1, id2""".stripMargin)),

    // ---- Flesch-Kincaid readability in exact integer milli-grades: words,
    // terminal-punctuation sentences, vowel-group syllable proxy — the
    // whole formula cross-multiplied so no float appears; pure per-row
    // codegen'd regexp counting
    Q("q142_readability",
      (s, d) => {
        val t = Tables(s, d)
        t.documents.select(col("doc_id"),
            greatest(TextFunctions.tokenCount(col("text")), lit(1))
              .cast("long").as("n_words"),
            TextFunctions.sentenceCount(col("text")).cast("long")
              .as("n_sentences"),
            TextFunctions.syllableProxyCount(col("text")).cast("long")
              .as("n_syllables"),
            TextFunctions.fleschKincaidMilli(col("text")).as("fk_milli"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH m AS (SELECT doc_id,
             |    CAST(greatest(len(regexp_split_to_array(text, '\s+')), 1) AS BIGINT) AS w,
             |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS s,
             |    CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS BIGINT) AS y
             |  FROM documents)
             |SELECT doc_id, w AS n_words, s AS n_sentences, y AS n_syllables,
             |  (390 * w * w + 11800 * y * s - 15590 * s * w) // (s * w) AS fk_milli
             |FROM m ORDER BY doc_id""".stripMargin)),

    // ---- calibration (reliability-diagram) audit of the q127 classifier:
    // per-row quantized sigmoid -> ten fixed probability bands (pure
    // per-row, no quantile pass), observed positive rate vs mean claimed
    // confidence per band, n-weighted ECE repeated on every row
    Q("q144_calibration",
      (s, d) => {
        val t = Tables(s, d)
        val tok = t.documents
          .select(col("doc_id"), (col("lang") === "en").as("lab"),
            explode(TextFunctions.tokens(col("text"))).as("token"))
          .filter(col("token") =!= "")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val scored = QualityClassifier.scoreTokens(tok, "doc_id", "token",
          QualityClassifier.trainTokens(tok, "token", "lab"))
        RankEval.calibrationAudit(
            scored.join(t.documents.select(col("doc_id"),
              (col("lang") === "en").as("lab")), "doc_id"),
            "score_micro", "lab")
          .orderBy(col("bucket"))
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
             |pm AS (SELECT CAST(round(1000000.0
             |    / (1.0 + exp(-CAST(s AS DOUBLE) / 1000000.0))) AS BIGINT) AS p_micro,
             |    lab FROM lbl),
             |bk AS (SELECT least(p_micro // 100000, 9) AS bucket, p_micro, lab FROM pm),
             |per AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n,
             |    CAST(count(*) FILTER (WHERE lab) AS BIGINT) AS n_pos,
             |    CAST(sum(p_micro) AS BIGINT) AS sp FROM bk GROUP BY bucket),
             |per2 AS (SELECT bucket, n, n_pos, (n_pos * 1000000) // n AS rate_ppm,
             |    sp // n AS conf_ppm FROM per),
             |e AS (SELECT CAST(sum(n * abs(rate_ppm - conf_ppm)) // sum(n) AS BIGINT)
             |    AS ece_ppm FROM per2)
             |SELECT bucket, n, n_pos, rate_ppm, conf_ppm, ece_ppm
             |FROM per2, e ORDER BY bucket""".stripMargin)),

    // ---- exact Kendall tau-a between two bounded top-100 rankings (char
    // length vs whitespace token count): concordant/discordant pair counts
    // over the common items — the rank-agreement audit next to AUC (q127)
    // and NDCG (q139); quadratic only in the bounded list size
    Q("q145_kendall_tau",
      (s, d) => {
        val t = Tables(s, d)
        val byChars = graft.curation.RankFusion.topRanked(
          t.documents.select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", 100)
        val byTokens = graft.curation.RankFusion.topRanked(
          t.documents.select(col("doc_id"),
            TextFunctions.tokenCount(col("text")).cast("long").as("n_tok")),
          "doc_id", "n_tok", 100)
        RankEval.kendallTau(byChars, byTokens, "doc_id", "rank")
      },
      Some("""WITH r1 AS (SELECT doc_id, CAST(row_number() OVER
             |    (ORDER BY n_chars DESC, doc_id) AS BIGINT) AS r
             |  FROM documents QUALIFY r <= 100),
             |r2 AS (SELECT doc_id, CAST(row_number() OVER
             |    (ORDER BY len(regexp_split_to_array(text, '\s+')) DESC, doc_id) AS BIGINT) AS r
             |  FROM documents QUALIFY r <= 100),
             |j AS (SELECT doc_id, r1.r AS ra, r2.r AS rb FROM r1 JOIN r2 USING (doc_id)),
             |p AS (SELECT (a.ra - b.ra) * (a.rb - b.rb) AS prod
             |  FROM j a JOIN j b ON a.doc_id < b.doc_id),
             |agg AS (SELECT
             |    CAST(coalesce(sum(CASE WHEN prod > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS concordant,
             |    CAST(coalesce(sum(CASE WHEN prod < 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS discordant,
             |    CAST(count(*) AS BIGINT) AS n_pairs FROM p),
             |cc AS (SELECT CAST(count(*) AS BIGINT) AS n_common FROM j)
             |SELECT cc.n_common, agg.n_pairs, agg.concordant, agg.discordant,
             |  CASE WHEN agg.n_pairs > 0 THEN
             |    ((agg.concordant - agg.discordant) * 1000000) // agg.n_pairs
             |  END AS tau_ppm
             |FROM agg, cc""".stripMargin)),

    // ---- MMR diversified reranking over a bounded top-20 retrieval cut:
    // greedy lambda*rel - (1-lambda)*maxSim in exact integers (rel rank-
    // ppm, token-Jaccard sim ppm); the oracle unrolls the same ten greedy
    // steps as generated CTEs. Corpus-scale work is the TakeOrdered
    // retrieval; the rerank is list-scale by contract
    Q("q150_mmr_rerank", {
      (s, d) => {
        val t = Tables(s, d)
        val terms = Seq("spark", "join", "merge", "window")
        val toks = TextFunctions.tokens(col("text"))
        val base = t.documents.select(col("doc_id"),
          array_distinct(toks).as("tk"),
          terms.map(w => size(filter(toks, x => x === lit(w))).cast("long"))
            .reduce(_ + _).as("rel_raw"))
        val top = base.orderBy(col("rel_raw").desc, col("doc_id")).limit(20)
          .withColumn("rank", row_number().over(
            Window.orderBy(col("rel_raw").desc, col("doc_id"))))
          .select(col("doc_id"), col("tk"),
            ((lit(21) - col("rank")) * lit(50000L)).cast("long").as("rel_ppm"))
          .persist()
        val sims = top.as("a").join(top.as("b"),
            col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("x"), col("b.doc_id").as("y"),
            size(array_intersect(col("a.tk"), col("b.tk"))).cast("long").as("i"),
            (size(col("a.tk")) + size(col("b.tk"))).cast("long").as("ns"))
          .select(col("x"), col("y"),
            expr("(i * 1000000) div (ns - i)").as("sim_ppm"))
        RankFusion.mmrRerank(top, "doc_id", "rel_ppm", sims,
          "x", "y", "sim_ppm", k = 10, lambdaMilli = 700L)
      }
    },
      Some({
        val termFilters = Seq("spark", "join", "merge", "window")
          .map(w => s"len(list_filter(t, x -> x = '$w'))").mkString(" + ")
        val steps = (1 to 10).map { k =>
          s"""m$k AS MATERIALIZED (SELECT s.x2 AS doc_id, max(s.sim_ppm) AS ms
             |  FROM sims2 s JOIN c${k - 1} ch ON s.y2 = ch.doc_id GROUP BY s.x2),
             |p$k AS MATERIALIZED (SELECT doc_id, sc FROM (
             |    SELECT c.doc_id, 700 * c.rel_ppm - 300 * coalesce(m.ms, 0) AS sc
             |    FROM cand c LEFT JOIN m$k m USING (doc_id)
             |    WHERE c.doc_id NOT IN (SELECT doc_id FROM c${k - 1}))
             |  ORDER BY sc DESC, doc_id LIMIT 1),
             |c$k AS MATERIALIZED (SELECT doc_id, step, sc FROM c${k - 1}
             |  UNION ALL SELECT doc_id, $k AS step, sc FROM p$k)""".stripMargin
        }.mkString(",\n")
        s"""WITH tok AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t FROM documents),
           |rel AS (SELECT doc_id, list_distinct(t) AS tk,
           |    CAST($termFilters AS BIGINT) AS rel_raw FROM tok),
           |cand AS MATERIALIZED (SELECT doc_id, tk, CAST((21 - rn) * 50000 AS BIGINT) AS rel_ppm FROM (
           |    SELECT doc_id, tk, rel_raw,
           |      row_number() OVER (ORDER BY rel_raw DESC, doc_id) AS rn FROM rel)
           |  WHERE rn <= 20),
           |sims AS MATERIALIZED (SELECT a.doc_id AS x, b.doc_id AS y,
           |    (CAST(len(list_intersect(a.tk, b.tk)) AS BIGINT) * 1000000)
           |      // CAST(len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk)) AS BIGINT) AS sim_ppm
           |  FROM cand a JOIN cand b ON a.doc_id < b.doc_id),
           |sims2 AS MATERIALIZED (SELECT x AS x2, y AS y2, sim_ppm FROM sims
           |  UNION ALL SELECT y, x, sim_ppm FROM sims),
           |c0 AS (SELECT CAST(0 AS BIGINT) AS doc_id, CAST(0 AS INTEGER) AS step,
           |    CAST(0 AS BIGINT) AS sc WHERE 1 = 0),
           |$steps
           |SELECT CAST(step AS INTEGER) AS rank, doc_id, sc AS mmr_score
           |FROM c10 ORDER BY step""".stripMargin
      })),

    // ---- per-source vocabulary distinctiveness: MI(source; word)
    // decomposition in integer micro-nats (per-term ln quantized before
    // the sum, the q64/q112 convention)
    Q("q164_slice_word_mi",
      (s, d) => {
        val t = Tables(s, d)
        CorpusStats.sliceWordMI(t.documents, "text", "source")
          .orderBy(col("src"))
      },
      Some("""WITH toks AS (SELECT source AS src,
             |    unnest(regexp_split_to_array(text, '[ \t\n\r\f]+')) AS w
             |  FROM documents),
             |t2 AS (SELECT src, w FROM toks WHERE w <> ''),
             |csw AS (SELECT src, w, CAST(count(*) AS BIGINT) AS c
             |  FROM t2 GROUP BY src, w),
             |cs AS (SELECT src, CAST(sum(c) AS BIGINT) AS cs FROM csw GROUP BY src),
             |cw AS (SELECT w, CAST(sum(c) AS BIGINT) AS cw FROM csw GROUP BY w),
             |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM csw),
             |t3 AS (SELECT csw.src, cs.cs,
             |    csw.c * CAST(round(ln((CAST(csw.c AS DOUBLE) * CAST(n.n AS DOUBLE))
             |      / (CAST(cs.cs AS DOUBLE) * CAST(cw.cw AS DOUBLE))) * 1000000.0)
             |      AS BIGINT) AS t
             |  FROM csw JOIN cs USING (src) JOIN cw USING (w), n)
             |SELECT src, max(cs) AS n_tokens,
             |  CAST(sum(t) AS BIGINT) // max(cs) AS mi_micro
             |FROM t3 GROUP BY src
             |ORDER BY src""".stripMargin)),

    // ---- Simpson concentration per source: exact-rational diversity
    // collapse alarm from the same (slice, word) counts
    Q("q165_simpson_index",
      (s, d) => {
        val t = Tables(s, d)
        CorpusStats.simpsonConcentration(t.documents, "text", "source")
          .orderBy(col("src"))
      },
      Some("""WITH toks AS (SELECT source AS src,
             |    unnest(regexp_split_to_array(text, '[ \t\n\r\f]+')) AS w
             |  FROM documents),
             |t2 AS (SELECT src, w FROM toks WHERE w <> ''),
             |c AS (SELECT src, w, CAST(count(*) AS BIGINT) AS c
             |  FROM t2 GROUP BY src, w),
             |a AS (SELECT src, CAST(sum(c) AS BIGINT) AS n_tokens,
             |    CAST(sum(CAST(c AS HUGEINT) * (c - 1)) AS HUGEINT) AS ss
             |  FROM c GROUP BY src)
             |SELECT src, n_tokens,
             |  CAST((ss * 1000000) // (CAST(n_tokens AS HUGEINT) * (n_tokens - 1))
             |    AS BIGINT) AS simpson_ppm
             |FROM a WHERE n_tokens >= 2
             |ORDER BY src""".stripMargin)),

    // ---- pairwise Jensen-Shannon divergence between source vocabularies:
    // symmetric, always-finite corpus comparison (KL explodes on disjoint
    // support); shared-support join only, A∖B mass folds to c·ln2; the
    // pair universe is ALL src_a < src_b pairs (disjoint vocabularies
    // emit js_micro = ln2, never a silent absence)
    Q("q177_js_divergence",
      (s, d) => {
        val t = Tables(s, d)
        CorpusStats.jsDivergencePairs(t.documents, "text", "source")
          .orderBy(col("src_a"), col("src_b"))
      },
      Some("""WITH toks AS (SELECT source AS src,
             |    unnest(regexp_split_to_array(text, '[ \t\n\r\f]+')) AS w
             |  FROM documents),
             |t2 AS (SELECT src, w FROM toks WHERE w <> ''),
             |counts AS (SELECT src, w, CAST(count(*) AS BIGINT) AS c
             |  FROM t2 GROUP BY src, w),
             |tot AS (SELECT src, CAST(sum(c) AS BIGINT) AS n FROM counts GROUP BY src),
             |inter AS (SELECT a.src AS src_a, b.src AS src_b,
             |    ta.n AS n_a, tb.n AS n_b, a.c AS ca, b.c AS cb,
             |    a.c * CAST(round(ln((2.0 * a.c * tb.n) /
             |      (CAST(a.c AS DOUBLE) * tb.n + CAST(b.c AS DOUBLE) * ta.n))
             |      * 1000000.0) AS BIGINT) AS tta,
             |    b.c * CAST(round(ln((2.0 * b.c * ta.n) /
             |      (CAST(a.c AS DOUBLE) * tb.n + CAST(b.c AS DOUBLE) * ta.n))
             |      * 1000000.0) AS BIGINT) AS ttb
             |  FROM counts a JOIN counts b ON a.w = b.w AND a.src < b.src
             |  JOIN tot ta ON ta.src = a.src JOIN tot tb ON tb.src = b.src),
             |agg AS (SELECT src_a, src_b,
             |    CAST(sum(ca) AS BIGINT) AS sca, CAST(sum(cb) AS BIGINT) AS scb,
             |    CAST(sum(tta) AS BIGINT) AS sta, CAST(sum(ttb) AS BIGINT) AS stb
             |  FROM inter GROUP BY src_a, src_b),
             |univ AS (SELECT ta.src AS src_a, tb.src AS src_b,
             |    ta.n AS n_a, tb.n AS n_b
             |  FROM tot ta JOIN tot tb ON ta.src < tb.src)
             |SELECT u.src_a, u.src_b, u.n_a, u.n_b,
             |  (((coalesce(sta, 0) + (u.n_a - coalesce(sca, 0)) * 693147) // u.n_a)
             |    + ((coalesce(stb, 0) + (u.n_b - coalesce(scb, 0)) * 693147) // u.n_b))
             |    // 2 AS js_micro
             |FROM univ u LEFT JOIN agg a
             |  ON a.src_a = u.src_a AND a.src_b = u.src_b
             |ORDER BY 1, 2""".stripMargin)),

    // ---- Kish effective sample size per source under exact-dup
    // soft-weights (w = 1e6 div group size): how much data REALLY remains
    Q("q166_weight_ess",
      (s, d) => {
        val t = Tables(s, d)
        val docs = t.documents.select(col("source"), md5(col("text")).as("_h"))
        val sizes = docs.groupBy(col("_h")).agg(count(lit(1)).as("_gs"))
        val weighted = docs.join(sizes, "_h")
          .select(col("source"), expr("1000000 div _gs").as("_w"))
        graft.sampling.Sampling.effectiveSampleSize(weighted, "source", col("_w"))
          .orderBy(col("grp"))
      },
      Some("""WITH b AS (SELECT source, md5(text) AS h FROM documents),
             |s AS (SELECT h, CAST(count(*) AS BIGINT) AS gs FROM b GROUP BY h),
             |w AS (SELECT source AS grp, 1000000 // gs AS w FROM b JOIN s USING (h)),
             |a AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_rows,
             |    CAST(sum(w) AS BIGINT) AS sum_w,
             |    CAST(sum(CAST(w AS HUGEINT) * w) AS HUGEINT) AS sw2
             |  FROM w GROUP BY grp)
             |SELECT grp, n_rows, sum_w,
             |  CAST((CAST(sum_w AS HUGEINT) * sum_w * 1000000)
             |    // (CAST(n_rows AS HUGEINT) * sw2) AS BIGINT) AS ess_ppm
             |FROM a ORDER BY grp""".stripMargin)),

    // ---- Chao1 + Good–Turing vocabulary richness per source: the
    // closed-form "how much vocabulary is still unseen" census
    // (bias-corrected Chao1 asymptote, GT unseen probability mass, hapax
    // share) — complements q146's saturation CURVE with an estimator.
    // One (source, token) partial-agg'd exchange; estimators on the
    // bounded per-source frame, all exact integers.
    Q("q218_vocab_richness",
      (s, d) => {
        val t = Tables(s, d)
        CorpusStats.vocabRichness(t.documents, "text", "source")
          .orderBy(col("g"))
      },
      Some("""WITH tk AS (SELECT source AS g,
             |    unnest(list_filter(regexp_split_to_array(text, '\s+'),
             |      x -> x <> '')) AS tok
             |  FROM documents),
             |c AS (SELECT g, tok, CAST(count(*) AS BIGINT) AS c
             |  FROM tk GROUP BY g, tok),
             |a AS (SELECT g, CAST(count(*) AS BIGINT) AS vocab,
             |    CAST(sum(c) AS BIGINT) AS n_tokens,
             |    CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS f1,
             |    CAST(count(*) FILTER (WHERE c = 2) AS BIGINT) AS f2
             |  FROM c GROUP BY g)
             |SELECT g, vocab, n_tokens, f1, f2,
             |  vocab * 1000 + CAST((CAST(f1 AS HUGEINT) * (f1 - 1) * 1000)
             |    // ((f2 + 1) * 2) AS BIGINT) AS chao1_milli,
             |  (f1 * 1000000) // n_tokens AS gt_unseen_ppm,
             |  (f1 * 1000000) // vocab AS hapax_ppm
             |FROM a ORDER BY g""".stripMargin)))
}
