package graft.operators

import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.Dedup
import graft.similarity.Similarity
import graft.text.TextFunctions

/** LLM-data-pipeline operators over the `documents` / `embeddings` tables:
  * exact + MinHash-LSH + SimHash + n-gram-Jaccard dedup, language ID,
  * quality scoring, token stats, fingerprinting, brute-force and LSH-bucketed
  * cosine similarity search, and binary (multimodal) column plumbing.
  *
  * Oracle parity notes: every function used here was chosen to have an exact
  * DuckDB equivalent (md5, list/array ops, integer-exact double divisions);
  * cosine ranks are stable because adjacent-rank gaps (≥2e-5 on this data)
  * dwarf float-summation noise (~1e-15).
  */
object TextDedupQueries {

  private val stops = TextFunctions.DefaultStopwords
  private val stopsSql = stops.map(s => s"'$s'").mkString("[", ", ", "]")

  /** DuckDB: distinct 3-word shingles per document (mirrors
    * TextFunctions.shingles).
    */
  /** shared CTE chain for the q203/q204/q211/q212 substring-dedup oracles,
    * parametrized on the (doc_id, text) source relation: hashed 50-gram
    * index with a distinct-doc floor → coverage islands → span frame `tx`
    * (doc_id, span_start, span_end, span_words, span_hash)
    */
  private val substringSpansTail =
    """g AS (SELECT doc_id, unnest(list_transform(range(0, len(toks) - 49),
      |      i -> {'pos': i, 'gram': md5(array_to_string(
      |        toks[CAST(i+1 AS INT):CAST(i+50 AS INT)], ' '))})) AS u
      |  FROM t WHERE len(toks) >= 50),
      |p AS (SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.gram AS gram_h
      |  FROM g),
      |dup AS (SELECT gram_h FROM p GROUP BY gram_h
      |  HAVING count(DISTINCT doc_id) >= 2),
      |offs AS (SELECT unnest(range(0, 50)) AS j),
      |w AS (SELECT DISTINCT doc_id, pos + j AS wpos
      |  FROM p JOIN dup USING (gram_h) CROSS JOIN offs),
      |isl AS (SELECT doc_id, wpos,
      |    wpos - row_number() OVER (PARTITION BY doc_id ORDER BY wpos) AS grp
      |  FROM w),
      |sp AS (SELECT doc_id, min(wpos) AS span_start, max(wpos) AS span_end,
      |    CAST(count(*) AS BIGINT) AS span_words
      |  FROM isl GROUP BY doc_id, grp),
      |tx AS (SELECT sp.doc_id, span_start, span_end, span_words,
      |    md5(array_to_string(t.toks[CAST(span_start+1 AS INT):
      |      CAST(span_end+1 AS INT)], ' ')) AS span_hash
      |  FROM sp JOIN t USING (doc_id))""".stripMargin

  private[operators] def substringSpansCteOn(srcRel: String): String =
    s"""t AS (SELECT doc_id,
      |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
      |  FROM $srcRel),""".stripMargin + "\n" + substringSpansTail

  private[operators] val substringSpansCte = substringSpansCteOn("documents")

  /** keep-one strip tail for the q211/q212 oracles, appended after
    * [[substringSpansCteOn]]: non-canonical spans (rn > 1 per span_hash) →
    * removed word positions → token re-slice; emits `stripped`
    * (doc_id, n_tokens_before, n_tokens_after, n_spans_removed, text_md5)
    * with one row per `t` document (fully-removed docs hash md5(''))
    */
  private[operators] val keepOneStripCtes =
    """rnv AS (SELECT doc_id, span_start, span_end,
      |    row_number() OVER (PARTITION BY span_hash
      |      ORDER BY doc_id, span_start) AS rn FROM tx),
      |rm AS (SELECT doc_id, span_start, span_end FROM rnv WHERE rn > 1),
      |nrm AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans_removed
      |  FROM rm GROUP BY doc_id),
      |tp AS (SELECT doc_id, CAST(u.p AS BIGINT) AS p, u.tok AS tok FROM (
      |  SELECT doc_id, unnest(list_transform(range(0, len(toks)),
      |    i -> {'p': i, 'tok': toks[CAST(i+1 AS INT)]})) AS u FROM t)),
      |keptt AS (SELECT tp.doc_id, tok, p FROM tp LEFT JOIN rm
      |  ON tp.doc_id = rm.doc_id
      |    AND tp.p BETWEEN rm.span_start AND rm.span_end
      |  WHERE rm.doc_id IS NULL),
      |ka AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens_after,
      |    md5(string_agg(tok, ' ' ORDER BY p)) AS text_md5
      |  FROM keptt GROUP BY doc_id),
      |stripped AS (SELECT t.doc_id,
      |    CAST(len(toks) AS BIGINT) AS n_tokens_before,
      |    COALESCE(n_tokens_after, 0) AS n_tokens_after,
      |    COALESCE(n_spans_removed, 0) AS n_spans_removed,
      |    COALESCE(text_md5, md5('')) AS text_md5
      |  FROM t LEFT JOIN ka USING (doc_id) LEFT JOIN nrm USING (doc_id))"""
      .stripMargin

  /** DuckDB twin of [[graft.dedup.Normalize.canonicalDocs]]: `canon`
    * holds each normalized-hash group's min doc_id, over a preceding `b`
    * (one row per document, its [[graft.dedup.Normalize.contentHash]] twin
    * as `grp`)
    */
  private[operators] val canonCte =
    "canon AS (SELECT grp, min(doc_id) AS cid FROM b GROUP BY grp)"

  /** the q212-family oracle prefix: normalized exact dedup of `documents`
    * (`keptd`: doc_id, source, text of each canonical document), then the
    * keep-one strip over the kept documents ([[keepOneStripCtes]]). The
    * span and strip fragments are appended unmargined, so the caller's
    * `stripMargin` treats them exactly as when they were spliced inline.
    */
  private val keptStripCtes =
    s"""b AS (SELECT doc_id, source, text,
       |    md5(${graft.dedup.Normalize.normalizeSql("text")}) AS grp
       |  FROM documents),
       |$canonCte,
       |keptd AS (SELECT b.doc_id, b.source, b.text FROM b
       |  JOIN canon USING (grp) WHERE doc_id = cid),
       |""".stripMargin + substringSpansCteOn("keptd") + ",\n" +
      keepOneStripCtes

  private[operators] val shinglesCte =
    """docs AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      |  FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS t FROM documents)
      |  WHERE len(t) >= 3)""".stripMargin

  /** each doc's 16-element signature over [[shinglesCte]], shingles kept */
  private[operators] val signedCte =
    s"""signed AS (
       |  SELECT doc_id, sh, ${Dedup.minhashSigSql("sh", 16)} AS sig
       |  FROM docs)""".stripMargin

  /** the md5 of band `band`'s 4 rows of `sig` — the DuckDB twin of
    * [[Dedup.bandHashesOf]] without the band prefix */
  private[operators] val bandMd5Sql =
    "md5(array_to_string(list_slice(sig, CAST(band*4+1 AS INT), CAST(band*4+4 AS INT)), ','))"

  /** the band-bucket candidate pairs `cand(id1, id2)` over the `sig`
    * column of CTE `from` — the DuckDB twin of [[Dedup.candidatePairs]] */
  private[operators] def lshCandCte(from: String): String =
    s"""banded AS (
       |  SELECT doc_id, unnest(range(0, 4)) AS band, sig FROM $from),
       |bh AS (
       |  SELECT doc_id, band,
       |    $bandMd5Sql AS bhash
       |  FROM banded),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM bh a JOIN bh b ON a.band = b.band AND a.bhash = b.bhash
       |    AND a.doc_id < b.doc_id)""".stripMargin

  /** q169/q178's recall curve over a `docs(doc_id, sh)` CTE: the exact
    * shared-shingle pairs, the band-bucket candidates, and recall per
    * Jaccard decile — the DuckDB twin of
    * [[graft.dedup.LshPlanner.empiricalRecallCurve]] */
  private val lshRecallSql =
    s"""w AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS w FROM docs),
       |ex AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
       |    CAST(count(*) AS BIGINT) AS inter,
       |    max(a.n) AS n1, max(b.n) AS n2
       |  FROM w a JOIN w b ON a.w = b.w AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |j AS (SELECT id1, id2,
       |    (inter * 1000000) // (n1 + n2 - inter) AS jac_ppm
       |  FROM ex
       |  WHERE (inter * 1000000) // (n1 + n2 - inter) >= 50000),
       |signed AS (SELECT doc_id, ${Dedup.minhashSigSql("sh", 16)} AS sig
       |  FROM docs),
       |banded AS (SELECT doc_id, unnest(range(0, 4)) AS band, sig FROM signed),
       |bh AS (SELECT doc_id, CAST(band AS VARCHAR) || ':' ||
       |    md5(array_to_string(list_slice(sig, CAST(band*4+1 AS INT),
       |      CAST(band*4+4 AS INT)), ',')) AS key
       |  FROM banded),
       |cand AS (SELECT DISTINCT b1.doc_id AS id1, b2.doc_id AS id2
       |  FROM bh b1 JOIN bh b2 ON b1.key = b2.key AND b1.doc_id < b2.doc_id),
       |f AS (SELECT j.jac_ppm,
       |    CASE WHEN cand.id1 IS NULL THEN 0 ELSE 1 END AS caught
       |  FROM j LEFT JOIN cand USING (id1, id2))
       |SELECT jac_ppm // 100000 AS bucket, CAST(count(*) AS BIGINT) AS n_exact,
       |  CAST(sum(caught) AS BIGINT) AS n_caught,
       |  (CAST(sum(caught) AS BIGINT) * 1000000) // count(*) AS recall_ppm
       |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  /** DuckDB replica of Similarity.annTopK's bucket computation, generated
    * from the same deterministic hyperplanes.
    */
  private def annOracleSql(nPlanes: Int, dim: Int, bitsPerTable: Int, k: Int): String = {
    val ps = Similarity.planes(nPlanes, dim)
    val bitExprs = ps.map { p =>
      val arr = p.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ",", "]")
      s"CASE WHEN list_dot_product(v, $arr) >= 0 THEN '1' ELSE '0' END"
    }
    val tables = bitExprs.grouped(bitsPerTable).toSeq.zipWithIndex.map {
      case (tb, t) => s"'$t:' || " + tb.mkString(" || ")
    }
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |bk AS (SELECT vec_id, v, unnest([${tables.mkString(",\n")}]) AS bucket FROM e),
       |cand AS (SELECT DISTINCT q.vec_id AS query_id, q.v AS qv,
       |    c.vec_id AS neighbor_id, c.v AS cv
       |  FROM bk q JOIN bk c ON q.bucket = c.bucket
       |    AND q.vec_id < 10 AND q.vec_id <> c.vec_id),
       |scored AS (SELECT query_id, neighbor_id,
       |  list_dot_product(qv,cv)/(sqrt(list_dot_product(qv,qv))*sqrt(list_dot_product(cv,cv))) AS cos
       |  FROM cand)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored) WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB replica of TextFunctions.langId, generated from the same
    * LangProfiles so the two can't drift: the desc sort by
    * (hits, profile priority) becomes a CASE chain where profile i wins when
    * its hits are >= every later profile's (earlier profile wins ties).
    */
  private[operators] val langIdPredSql: String = {
    val profiles = TextFunctions.LangProfiles
    val hitCols = profiles.zipWithIndex.map { case ((_, sw), i) =>
      val arr = sw.map(s => s"'$s'").mkString("[", ", ", "]")
      s"len(list_filter(toks, x -> list_contains($arr, x))) AS h$i"
    }.mkString(",\n    ")
    val cases = profiles.zipWithIndex.dropRight(1).map { case ((lang, _), i) =>
      val conds = ((i + 1) until profiles.size).map(j => s"h$i >= h$j").mkString(" AND ")
      s"WHEN $conds THEN '$lang'"
    }.mkString("\n       ")
    s"""SELECT doc_id, lang,
       |  CASE WHEN cjk * 3 > n THEN 'zh'
       |       $cases
       |       ELSE '${profiles.last._1}' END AS lang_pred
       |FROM (
       |  SELECT doc_id, lang, len(text) AS n,
       |    len(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS cjk,
       |    $hitCols
       |  FROM (SELECT doc_id, lang, text,
       |        regexp_split_to_array(lower(text), '\\s+') AS toks FROM documents))""".stripMargin
  }

  private val langIdOracleSql: String =
    langIdPredSql + "\nORDER BY doc_id"

  val all: Seq[Q] = Seq(
    // ---- exact dedup: hash-group + duplicate count + canonical keep flag
    Q("q19_dedup_exact",
      (s, d) => {
        val t = Tables(s, d)
        Dedup.exactDuplicates(t.documents, col("text"), col("doc_id"))
          .select(col("doc_id"), col("text_md5"), col("dup_count"), col("keep"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, md5(text) AS text_md5,
             |  count(*) OVER (PARTITION BY md5(text)) AS dup_count,
             |  row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1 AS keep
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- token counting + lexical stats
    Q("q20_token_stats",
      (s, d) => {
        val t = Tables(s, d)
        val toks = TextFunctions.tokens(col("text"))
        t.documents.select(
            col("doc_id"),
            size(toks).cast("long").as("n_tokens"),
            size(array_distinct(toks)).cast("long").as("n_types"),
            TextFunctions.avgTokenLen(toks).as("avg_len"),
            TextFunctions.typeTokenRatio(toks).as("ttr"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_types,
             |  CAST(list_sum(list_transform(t, x -> len(x))) AS DOUBLE)/len(t) AS avg_len,
             |  CAST(len(list_distinct(t)) AS DOUBLE)/len(t) AS ttr
             |FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS t FROM documents)
             |ORDER BY doc_id""".stripMargin)),

    // ---- whitespace + BPE-ish token counting (LLM token-budget proxy)
    Q("q65_bpe_token_count",
      (s, d) => {
        val t = Tables(s, d)
        t.documents.select(col("doc_id"),
            TextFunctions.tokenCount(col("text")).cast("long").as("ws_tokens"),
            TextFunctions.bpeishTokenCount(col("text")).cast("long").as("bpe_tokens"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS ws_tokens,
             |  CAST(len(regexp_extract_all(text,
             |    '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\r\f]+')) AS BIGINT) AS bpe_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- quality scoring (length/diversity/stopword heuristic)
    Q("q21_quality_score",
      (s, d) => {
        val t = Tables(s, d)
        val toks = TextFunctions.tokens(col("text"))
        t.documents.select(
            col("doc_id"),
            TextFunctions.stopwordRatio(toks, stops).as("stop_ratio"),
            TextFunctions.punctRatio(col("text")).as("punct_ratio"),
            TextFunctions.qualityScore(col("text")).as("quality"))
          .orderBy(col("doc_id"))
      },
      Some(s"""SELECT doc_id,
              |  CAST(len(list_filter(t, x -> list_contains($stopsSql, x))) AS DOUBLE)/len(t) AS stop_ratio,
              |  CAST(len(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE)/len(text) AS punct_ratio,
              |  ((least(CAST(len(t) AS DOUBLE)/100.0, 1.0) * 0.4)
              |   + ((CAST(len(list_distinct(t)) AS DOUBLE)/len(t)) * 0.4))
              |   + (least((CAST(len(list_filter(t, x -> list_contains($stopsSql, x))) AS DOUBLE)/len(t)) * 5.0, 1.0) * 0.2) AS quality
              |FROM (SELECT doc_id, text, regexp_split_to_array(text, '\\s+') AS t FROM documents)
              |ORDER BY doc_id""".stripMargin)),

    // ---- canonical token-set fingerprint
    Q("q22_fingerprint",
      (s, d) => {
        val t = Tables(s, d)
        t.documents.select(col("doc_id"),
            TextFunctions.fingerprint(col("text")).as("fp"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(text, '\s+'))), ' ')) AS fp
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- language ID heuristic (stopword vote + CJK ratio)
    Q("q23_langid",
      (s, d) => {
        val t = Tables(s, d)
        t.documents.select(col("doc_id"), col("lang"),
            TextFunctions.langId(col("text")).as("lang_pred"))
          .orderBy(col("doc_id"))
      },
      Some(langIdOracleSql)),

    // ---- winnowing fingerprints (MOSS): windowed-min k-gram hashes that
    // localize shared PASSAGES (guarantee: any shared substring of length
    // >= k+w-1 shares a fingerprint)
    Q("q66_winnowing",
      (s, d) => {
        val t = Tables(s, d)
        graft.dedup.Winnowing.fingerprints(t.documents, "doc_id", "text",
            k = 5, w = 4)
          .orderBy(col("doc_id"), col("fingerprint"))
      },
      Some("""WITH h AS (
             |  SELECT doc_id,
             |    list_transform(range(0, len(text)-4), i ->
             |      substr(md5(substr(text, CAST(i+1 AS INT), 5)), 1, 16)) AS hs
             |  FROM documents WHERE len(text) >= 8),
             |m AS (
             |  SELECT doc_id,
             |    list_transform(range(0, len(hs)-3), j ->
             |      list_min(hs[CAST(j+1 AS INT):CAST(j+4 AS INT)])) AS mins
             |  FROM h)
             |SELECT DISTINCT doc_id, fingerprint FROM (
             |  SELECT doc_id, unnest(mins) AS fingerprint FROM m)
             |ORDER BY doc_id, fingerprint""".stripMargin),
      // promoted round 8 (NOTES round-7 pickup): passage-dedup visibility
      // in the driver bench, affordable since the native kernel
      headline = true),

    // ---- all-pairs n-gram Jaccard (exact; LSH is the scale path)
    Q("q24_jaccard_pairs",
      (s, d) => {
        val t = Tables(s, d)
        Dedup.allPairsJaccard(t.documents, "doc_id", "text", 3, 0.1)
          .orderBy(col("id1"), col("id2"))
      },
      Some(s"""WITH $shinglesCte,
              |w AS (SELECT doc_id, unnest(sh) AS w FROM docs),
              |sz AS (SELECT doc_id, len(sh) AS n FROM docs),
              |i AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
              |      FROM w a JOIN w b ON a.w = b.w AND a.doc_id < b.doc_id
              |      GROUP BY 1, 2)
              |SELECT id1, id2, inter,
              |  CAST(inter AS DOUBLE)/(s1.n + s2.n - inter) AS jaccard
              |FROM i JOIN sz s1 ON s1.doc_id = id1 JOIN sz s2 ON s2.doc_id = id2
              |WHERE CAST(inter AS DOUBLE)/(s1.n + s2.n - inter) >= 0.1
              |ORDER BY id1, id2""".stripMargin)),

    // ---- MinHash + LSH near-dup pipeline (shingle -> sign -> band -> verify)
    Q("q25_minhash_lsh",
      (s, d) => {
        val t = Tables(s, d)
        Dedup.nearDuplicatesMinhashLsh(t.documents, "doc_id", "text",
            shingleLen = 3, numHashes = 16, bands = 4, threshold = 0.5)
          .orderBy(col("id1"), col("id2"))
      },
      Some(s"""WITH $shinglesCte,
              |$signedCte,
              |${lshCandCte("signed")},
              |v AS (
              |  SELECT id1, id2,
              |    CAST(len(list_intersect(d1.sh, d2.sh)) AS DOUBLE)
              |      / (len(d1.sh) + len(d2.sh) - len(list_intersect(d1.sh, d2.sh))) AS jaccard
              |  FROM cand JOIN docs d1 ON d1.doc_id = id1 JOIN docs d2 ON d2.doc_id = id2)
              |SELECT id1, id2, jaccard FROM v WHERE jaccard >= 0.5
              |ORDER BY id1, id2""".stripMargin),
      headline = true),

    // ---- SimHash per document (16-bit, ±1 votes over token md5 bits)
    Q("q26_simhash",
      (s, d) => {
        val t = Tables(s, d)
        t.documents.select(col("doc_id"),
            Dedup.simhash16(TextFunctions.tokens(col("text"))).as("simhash"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, CAST(list_sum(list_transform(range(0,16), b ->
             |  CASE WHEN list_sum(list_transform(t, w ->
             |    CASE WHEN ((strpos('0123456789abcdef', substr(md5(w), CAST(b//4 AS INT)+1, 1))-1)
             |               // ([8,4,2,1])[CAST(b%4 AS INT)+1]) % 2 = 1
             |    THEN 1 ELSE -1 END)) > 0 THEN 2**b ELSE 0 END)) AS INTEGER) AS simhash
             |FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS t FROM documents)
             |ORDER BY doc_id""".stripMargin)),

    // ---- banded SimHash near-dup pairs (pigeonhole blocking, exact recall)
    Q("q37_simhash_pairs",
      (s, d) => {
        val t = Tables(s, d)
        Dedup.simhashPairs(t.documents, "doc_id", "text", maxHamming = 3)
          .orderBy(col("id1"), col("id2"))
      },
      Some("""WITH sh AS (
             |  SELECT doc_id, CAST(list_sum(list_transform(range(0,16), b ->
             |    CASE WHEN list_sum(list_transform(t, w ->
             |      CASE WHEN ((strpos('0123456789abcdef', substr(md5(w), CAST(b//4 AS INT)+1, 1))-1)
             |                 // ([8,4,2,1])[CAST(b%4 AS INT)+1]) % 2 = 1
             |      THEN 1 ELSE -1 END)) > 0 THEN 2**b ELSE 0 END)) AS INTEGER) AS simhash
             |  FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS t FROM documents))
             |SELECT a.doc_id AS id1, b.doc_id AS id2,
             |  a.simhash AS simhash1, b.simhash AS simhash2,
             |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
             |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
             |ORDER BY id1, id2""".stripMargin)),

    // ---- brute-force cosine top-k (exact ANN baseline)
    Q("q27_cosine_topk",
      (s, d) => {
        val t = Tables(s, d)
        Similarity.cosineTopK(
            t.embeddings.filter(col("vec_id") < 10), t.embeddings, "vec_id", "embedding", 5)
          .select(col("query_id"), col("rank"), col("neighbor_id"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |scored AS (
             |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |    list_dot_product(q.v, c.v)
             |      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
             |  FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
             |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id FROM (
             |  SELECT query_id, neighbor_id,
             |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
             |  FROM scored) WHERE rank <= 5
             |ORDER BY query_id, rank""".stripMargin),
      headline = true),

    // ---- LSH-bucketed approximate nearest neighbors (the 100 TB scale path)
    Q("q28_ann_lsh",
      (s, d) => {
        val t = Tables(s, d)
        Similarity.annTopK(
            t.embeddings.filter(col("vec_id") < 10), t.embeddings,
            "vec_id", "embedding", 5, nPlanes = 24, dim = 64, bitsPerTable = 8)
          .select(col("query_id"), col("rank"), col("neighbor_id"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some(annOracleSql(24, 64, 8, 5))),

    // ---- multimodal plumbing: opaque binary column + typed metadata
    Q("q29_binary_meta",
      (s, d) => {
        val t = Tables(s, d)
        val bin = encode(col("text"), "UTF-8")
        t.documents.select(
            col("doc_id"),
            length(bin).cast("long").as("n_bytes"),
            md5(bin).as("content_md5"),
            hex(encode(substring(col("text"), 1, 8), "UTF-8")).as("head_hex"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, octet_length(encode(text)) AS n_bytes,
             |  md5(text) AS content_md5,
             |  hex(encode(substr(text, 1, 8))) AS head_hex
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- REAL video-container round trip: a y4m stream is synthesized per
    // document (dims / frame count / pixel bytes are pure functions of
    // doc_id), then PROBED and FRAME-DECODED back through the pure-JVM
    // container parser — DuckDB reproduces the expected numbers
    // arithmetically, so a hash match proves byte-level container framing
    // AND pixel-payload recovery, not just schema plumbing
    Q("q67_video_probe",
      (s, d) => {
        val t = Tables(s, d)
        import s.implicits._
        val mk = udf((id: Long) => {
          val w = 16 + 2 * (id % 8).toInt
          val h = 10 + 2 * (id % 5).toInt
          val n = 1 + (id % 4).toInt
          graft.multimodal.VideoCodecs.encodeY4m(w, h, (0 until n).map(f =>
            Array.tabulate(w * h)(i => ((id + f + i) % 251).toByte)))
        })
        val media = t.documents
          .select(col("doc_id").cast("long").as("doc_id"))
          .withColumn("content", mk(col("doc_id")))
        val meta = graft.multimodal.Multimodal.withVideoMeta(media, "content")
          .select(col("doc_id"), col("vid_width"), col("vid_height"),
            col("vid_frames"))
        val lumaSum = graft.multimodal.Multimodal
          .sampleVideoFrames(media, "doc_id", "content")
          .map(f => (f.mediaId, f.luma.foldLeft(0L)((a, b) => a + (b & 0xff))))
          .toDF("doc_id", "s")
          .groupBy(col("doc_id")).agg(sum(col("s")).as("luma_sum"))
        meta.join(lumaSum, "doc_id").orderBy(col("doc_id"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, 16 + 2 * (doc_id % 8) AS w,
             |    10 + 2 * (doc_id % 5) AS h, 1 + (doc_id % 4) AS n
             |  FROM documents),
             |f AS (SELECT doc_id, w, h, n, unnest(range(0, n)) AS fr FROM d),
             |p AS (SELECT doc_id, w, h, n, fr, unnest(range(0, w * h)) AS i FROM f)
             |SELECT doc_id, CAST(w AS INTEGER) AS vid_width,
             |  CAST(h AS INTEGER) AS vid_height, CAST(n AS INTEGER) AS vid_frames,
             |  CAST(sum((doc_id + fr + i) % 251) AS BIGINT) AS luma_sum
             |FROM p GROUP BY doc_id, w, h, n
             |ORDER BY doc_id""".stripMargin)),

    // ---- ISO-BMFF (MP4/MOV) container probe: a structurally-valid box
    // tree is synthesized per document (brand/codec/dims/duration/samples
    // are pure functions of doc_id), then walked back through the public
    // 14496-12 framing — the q67 pattern's BMFF twin; a hash match proves
    // byte-level box walking (ftyp/moov/trak/mdia/mdhd/hdlr/stsd/stsz),
    // not just schema plumbing
    Q("q180_bmff_probe",
      (s, d) => {
        val t = Tables(s, d)
        val mk = udf((id: Long) => {
          val codec = (id % 3) match {
            case 0 => "avc1"; case 1 => "hev1"; case _ => "vp09"
          }
          graft.multimodal.Bmff.encode(graft.multimodal.Bmff.Info("isom", 512L,
            Seq(graft.multimodal.Bmff.Track("vide", codec,
              (320 + 16 * (id % 8)).toInt, (240 + 16 * (id % 5)).toInt,
              600L, 600L * (1 + id % 10), 24L + id % 100))))
        })
        val probe = udf((b: Array[Byte]) =>
          graft.multimodal.Bmff.probe(b).flatMap(info =>
            info.tracks.headOption.map(tr => (info.brand, tr.codec,
              tr.width, tr.height, tr.duration * 1000L / tr.timescale,
              tr.nSamples))))
        t.documents.select(col("doc_id").cast("long").as("doc_id"))
          .withColumn("p", probe(mk(col("doc_id"))))
          .select(col("doc_id"), col("p._1").as("brand"), col("p._2").as("codec"),
            col("p._3").as("width"), col("p._4").as("height"),
            col("p._5").as("duration_ms"), col("p._6").as("n_samples"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, 'isom' AS brand,
             |  CASE doc_id % 3 WHEN 0 THEN 'avc1' WHEN 1 THEN 'hev1'
             |    ELSE 'vp09' END AS codec,
             |  CAST(320 + 16 * (doc_id % 8) AS INTEGER) AS width,
             |  CAST(240 + 16 * (doc_id % 5) AS INTEGER) AS height,
             |  (600 * (1 + doc_id % 10) * 1000) // 600 AS duration_ms,
             |  CAST(24 + doc_id % 100 AS BIGINT) AS n_samples
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- edit-distance-bounded join over short keys (FastSS deletion
    // neighborhoods): lossless candidate equi-join on <=1-deletion
    // variants + one exact levenshtein verify per candidate — the typo
    // matcher shingle-jaccard misses on short strings
    Q("q181_edit_join",
      (s, d) => {
        val t = Tables(s, d)
        val keyed = t.documents.filter(col("text").isNotNull &&
            length(col("text")) > 0)
          .select(col("doc_id"), lower(substring(col("text"), 1, 12)).as("k"))
        graft.dedup.EditDistance.deletionNeighborhoodJoin(keyed, "doc_id",
            "k", maxDist = 1)
          .orderBy(col("id1"), col("id2"))
      },
      Some("""WITH b AS (SELECT doc_id AS id, lower(substr(text, 1, 12)) AS s
             |  FROM documents WHERE text IS NOT NULL AND length(text) > 0),
             |v AS (SELECT id, s, unnest(list_distinct(list_concat([s],
             |    list_transform(range(1, len(s) + 1),
             |      i -> substr(s, 1, CAST(i - 1 AS INT))
             |        || substr(s, CAST(i + 1 AS INT)))))) AS v
             |  FROM b),
             |p AS (SELECT DISTINCT a.id AS id1, b.id AS id2, a.s AS s1, b.s AS s2
             |  FROM v a JOIN v b ON a.v = b.v AND a.id < b.id)
             |SELECT id1, id2, s1, s2, CAST(levenshtein(s1, s2) AS INTEGER) AS dist
             |FROM p WHERE levenshtein(s1, s2) <= 1
             |ORDER BY id1, id2""".stripMargin)),

    // ---- the CAPPED edit join (the q187 move for q181): an absolute
    // per-variant df cap bounds the equi-join at maxDf² per variant AND
    // keeps the variant index bounded — the scale path where the exact
    // q181 contract's corpus-sized neighborhood index pressures one box
    // (BENCH_sf10 measured 1.2× above linear uncapped). Recall loss only
    // when EVERY shared variant of a true pair is above-cap
    Q("q205_edit_join_capped",
      (s, d) => {
        val t = Tables(s, d)
        val keyed = t.documents.filter(col("text").isNotNull &&
            length(col("text")) > 0)
          .select(col("doc_id"), lower(substring(col("text"), 1, 12)).as("k"))
        graft.dedup.EditDistance.deletionNeighborhoodJoin(keyed, "doc_id",
            "k", maxDist = 1, maxDf = Some(50L))
          .orderBy(col("id1"), col("id2"))
      },
      Some("""WITH b AS (SELECT doc_id AS id, lower(substr(text, 1, 12)) AS s
             |  FROM documents WHERE text IS NOT NULL AND length(text) > 0),
             |va AS (SELECT id, s, unnest(list_distinct(list_concat([s],
             |    list_transform(range(1, len(s) + 1),
             |      i -> substr(s, 1, CAST(i - 1 AS INT))
             |        || substr(s, CAST(i + 1 AS INT)))))) AS vv
             |  FROM b),
             |f AS (SELECT vv FROM va GROUP BY vv HAVING count(*) <= 50),
             |vc AS (SELECT va.id, va.s, va.vv FROM va JOIN f USING (vv)),
             |p AS (SELECT DISTINCT a.id AS id1, b.id AS id2, a.s AS s1, b.s AS s2
             |  FROM vc a JOIN vc b ON a.vv = b.vv AND a.id < b.id)
             |SELECT id1, id2, s1, s2, CAST(levenshtein(s1, s2) AS INTEGER) AS dist
             |FROM p WHERE levenshtein(s1, s2) <= 1
             |ORDER BY id1, id2""".stripMargin)),

    // ---- B-cubed precision/recall of the normalized-hash clustering
    // scored against raw-hash gold: the standard extrinsic cluster-eval
    // number over the same two groupings q121/q174 compare setwise
    Q("q182_bcubed",
      (s, d) => {
        val t = Tables(s, d)
        graft.dedup.MethodAgreement.bcubed(
            t.documents.select(
              graft.dedup.Normalize.contentHash(col("text")).as("p"),
              md5(col("text")).as("g")),
            col("p"), col("g"))
          .orderBy(col("n_items"))
      },
      Some(s"""WITH b AS (SELECT md5(${graft.dedup.Normalize.normalizeSql("text")}) AS p,
              |    md5(text) AS g FROM documents),
              |cells AS (SELECT p, g, CAST(count(*) AS BIGINT) AS c
              |  FROM b GROUP BY 1, 2),
              |sp AS (SELECT p, CAST(sum(c) AS BIGINT) AS sp FROM cells GROUP BY p),
              |sg AS (SELECT g, CAST(sum(c) AS BIGINT) AS sg FROM cells GROUP BY g),
              |a AS (SELECT CAST(sum(c) AS BIGINT) AS n_items,
              |    CAST(sum(c * (c * 1000000 // sp.sp)) AS BIGINT) AS tp,
              |    CAST(sum(c * (c * 1000000 // sg.sg)) AS BIGINT) AS tr
              |  FROM cells JOIN sp USING (p) JOIN sg USING (g))
              |SELECT n_items, tp // n_items AS b3p_ppm, tr // n_items AS b3r_ppm,
              |  CASE WHEN (tp // n_items) + (tr // n_items) > 0 THEN
              |    (2 * (tp // n_items) * (tr // n_items))
              |      // ((tp // n_items) + (tr // n_items)) END AS b3f_ppm
              |FROM a ORDER BY n_items""".stripMargin)),

    // ---- exact duplicated spans (suffix-array dedup, re-expressed as the
    //      word-n-gram inverted index + gaps-and-islands)
    Q("q70_dup_spans",
      (s, d) => {
        val t = Tables(s, d)
        // persisted gram frame → the text is scanned and gram-assembled
        // exactly once under both consumers (the q62 persisted-tokens
        // pattern; CacheManager dedupes re-registration across runs)
        val grams = graft.dedup.DupSpans
          .gramStarts(t.documents, "doc_id", "text", n = 8)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        graft.dedup.DupSpans.duplicatedSpansFromGrams(grams, "doc_id",
            n = 8, minCount = 2)
          .orderBy(col("doc_id"), col("span_start"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, unnest(list_transform(range(0, len(toks) - 7),
             |      i -> {'pos': i,
             |            'gram': array_to_string(toks[CAST(i+1 AS INT):CAST(i+8 AS INT)], ' ')})) AS u
             |  FROM t WHERE len(toks) >= 8),
             |p AS (SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.gram AS gram FROM g),
             |dup AS (SELECT gram FROM p GROUP BY gram HAVING count(*) >= 2),
             |offs AS (SELECT unnest(range(0, 8)) AS j),
             |w AS (SELECT DISTINCT doc_id, pos + j AS wpos
             |  FROM p JOIN dup USING (gram) CROSS JOIN offs),
             |isl AS (SELECT doc_id, wpos,
             |    wpos - row_number() OVER (PARTITION BY doc_id ORDER BY wpos) AS grp
             |  FROM w)
             |SELECT doc_id, min(wpos) AS span_start, max(wpos) AS span_end,
             |  CAST(count(*) AS BIGINT) AS span_words
             |FROM isl GROUP BY doc_id, grp
             |ORDER BY doc_id, span_start""".stripMargin)),

    // ---- cross-document exact-substring dedup at 50-token granularity
    // (Lee et al. 2022 keep-one policy): hashed 50-gram inverted index
    // with a DISTINCT-doc floor -> maximal spans -> content clusters with
    // canonical first occurrence. ONE persisted token frame under gram
    // build and span re-slice
    Q("q203_substring_clusters",
      (s, d) => {
        val t = Tables(s, d)
        val toks = graft.dedup.SubstringDedup
          .tokenFrame(t.documents, "doc_id", "text")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val spans = graft.dedup.SubstringDedup.crossDocSpans(toks,
          "doc_id", minWords = 50, minDocs = 2)
        graft.dedup.SubstringDedup.substringClusters(spans, "doc_id")
          .orderBy(col("span_hash"))
      },
      Some(s"""WITH ${substringSpansCte},
              |r AS (SELECT span_hash, span_words, doc_id, span_start,
              |    row_number() OVER (PARTITION BY span_hash
              |      ORDER BY doc_id, span_start) AS rn FROM tx),
              |c AS (SELECT span_hash, doc_id AS first_doc_id,
              |    span_start AS first_start FROM r WHERE rn = 1),
              |a AS (SELECT span_hash, max(span_words) AS span_words,
              |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
              |    CAST(count(*) AS BIGINT) AS n_spans
              |  FROM tx GROUP BY span_hash)
              |SELECT a.span_hash, a.span_words, n_docs, n_spans,
              |  first_doc_id, first_start
              |FROM a JOIN c USING (span_hash)
              |ORDER BY span_hash""".stripMargin)),

    // ---- the keep-one verdicts over the same span frame: a span is kept
    // iff it IS its content cluster's canonical (min (doc, start))
    // occurrence — removal strips kept = false spans, leaving one copy
    Q("q204_substring_dedup",
      (s, d) => {
        val t = Tables(s, d)
        val toks = graft.dedup.SubstringDedup
          .tokenFrame(t.documents, "doc_id", "text")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        graft.dedup.SubstringDedup.keepOneVerdicts(toks, "doc_id")
          .orderBy(col("doc_id"), col("span_start"))
      },
      Some(s"""WITH ${substringSpansCte}
              |SELECT doc_id, span_start, span_end, span_words, span_hash,
              |  (row_number() OVER (PARTITION BY span_hash
              |    ORDER BY doc_id, span_start)) = 1 AS kept
              |FROM tx
              |ORDER BY doc_id, span_start""".stripMargin)),

    // ---- MATERIALIZE the keep-one policy (the q204 verdicts applied):
    // every document re-sliced with its non-canonical duplicated spans
    // stripped — the step that actually emits Lee-et-al-deduplicated
    // training data. One row per input doc; removal audit + content hash
    Q("q211_substring_strip",
      (s, d) => {
        val t = Tables(s, d)
        val toks = graft.dedup.SubstringDedup
          .tokenFrame(t.documents, "doc_id", "text")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val verdicts = graft.dedup.SubstringDedup.keepOneVerdicts(toks,
          "doc_id")
        graft.dedup.SubstringDedup.applyKeepOne(toks, verdicts, "doc_id")
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH ${substringSpansCte},
              |$keepOneStripCtes
              |SELECT doc_id, n_tokens_before, n_tokens_after,
              |  n_spans_removed, text_md5
              |FROM stripped ORDER BY doc_id""".stripMargin)),

    // ---- curation pipeline v3 capstone, ONE lazy plan: normalized exact
    // dedup (keep min-id per normalized hash) -> cross-document substring
    // keep-one STRIP (q211) -> per-source MAD length screen on the
    // POST-strip token count -> per-source training-data census
    Q("q212_curation_v3",
      (s, d) => {
        val t = Tables(s, d)
        // Caching discipline (the r14 composition finding): Spark never
        // dedupes common subplans, so every reference to the strip output
        // would re-run the whole span chain. Persist the kept-id projection
        // and the per-doc strip audit, and rebuild the kept TEXT via an id
        // semi-join (no re-normalization). Cold 10× dropped ~54 s → ~stage
        // sum.
        val keptIds = graft.dedup.Normalize.canonicalDocs(t.documents,
            "doc_id", "text", Seq("source"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val kept = t.documents.select(col("doc_id"), col("text"))
          .join(keptIds.select(col("doc_id")), "doc_id")
        val toks = graft.dedup.SubstringDedup
          .tokenFrame(kept, "doc_id", "text")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val verdicts = graft.dedup.SubstringDedup.keepOneVerdicts(toks,
          "doc_id")
        val stripped = graft.dedup.SubstringDedup
          .applyKeepOne(toks, verdicts, "doc_id")
          .join(keptIds, "doc_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val screened = graft.curation.RobustStats.madKeep(
          stripped, "source", "n_tokens_after", kTenths = 35)
        screened.groupBy(col("source").as("g"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens_before")).as("tokens_before"),
            sum(col("n_tokens_after")).as("tokens_after"),
            sum(col("n_spans_removed")).as("spans_removed"))
          .select(col("g"), col("n_docs"), col("tokens_before"),
            col("tokens_after"), col("spans_removed"),
            // tokens_before = 0 (a source whose surviving docs are all
            // empty): Spark's non-ANSI div yields NULL but DuckDB's //
            // raises — guard both engines the fill_ppm way
            expr("CASE WHEN tokens_before > 0 THEN" +
              " ((tokens_before - tokens_after) * 1000000)" +
              " div tokens_before END").as("removed_ppm"))
          .orderBy(col("g"))
      },
      Some {
        s"""WITH $keptStripCtes,
           |j AS (SELECT st.*, k.source FROM stripped st
           |  JOIN keptd k USING (doc_id)),
           |r AS (SELECT source, n_tokens_after,
           |    CAST(row_number() OVER (PARTITION BY source
           |      ORDER BY n_tokens_after) AS BIGINT) AS rn,
           |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
           |  FROM j),
           |med AS (SELECT source, min(CASE WHEN rn >= (n + 1) // 2
           |    THEN n_tokens_after END) AS med FROM r GROUP BY source),
           |dd AS (SELECT r2.source, abs(r2.n_tokens_after - med) AS dv,
           |    CAST(row_number() OVER (PARTITION BY r2.source
           |      ORDER BY abs(r2.n_tokens_after - med)) AS BIGINT) AS rn,
           |    CAST(count(*) OVER (PARTITION BY r2.source) AS BIGINT) AS n
           |  FROM (SELECT source, n_tokens_after FROM j) r2
           |  JOIN med USING (source)),
           |mad AS (SELECT source, min(CASE WHEN rn >= (n + 1) // 2
           |    THEN dv END) AS mad FROM dd GROUP BY source),
           |scr AS (SELECT j.* FROM j
           |  JOIN med USING (source) JOIN mad USING (source)
           |  WHERE abs(n_tokens_after - med) * 10 <= 35 * mad)
           |SELECT source AS g, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(n_tokens_before) AS BIGINT) AS tokens_before,
           |  CAST(sum(n_tokens_after) AS BIGINT) AS tokens_after,
           |  CAST(sum(n_spans_removed) AS BIGINT) AS spans_removed,
           |  CASE WHEN CAST(sum(n_tokens_before) AS BIGINT) > 0 THEN
           |    ((CAST(sum(n_tokens_before) AS BIGINT)
           |        - CAST(sum(n_tokens_after) AS BIGINT)) * 1000000)
           |      // CAST(sum(n_tokens_before) AS BIGINT) END AS removed_ppm
           |FROM scr GROUP BY source ORDER BY g""".stripMargin
      }),

    // ---- the pipeline ends in a TABLE: normalize-dedup + keep-one strip
    // committed through the Catalog's snapshot protocol (per-source
    // partitions, atomic _LATEST flip), then the census read BACK from the
    // stored corpus — storage round-trip is part of the contract. text_crc
    // sums a 32-bit slice of each stored text's md5, so a byte flipped
    // anywhere in the store shows up in the census.
    Q("q216_corpus_store",
      (s, d) => {
        val t = Tables(s, d)
        val root = graft.storage.Catalog.tempRoot("graft-corpus-gate")
        val cat = new graft.storage.Catalog(s, root, "gate")
        graft.storage.CorpusStore.writeDeduped(cat, "corpus", t.documents,
          "doc_id", "text", "source")
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("source",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n_tokens_before",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_tokens_after",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_spans_removed",
            org.apache.spark.sql.types.LongType)))
        cat.readPartitionedOr("corpus", schema)
          .groupBy(col("source").as("g"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens_before")).as("tokens_before"),
            sum(col("n_tokens_after")).as("tokens_after"),
            sum(col("n_spans_removed")).as("spans_removed"),
            sum(expr("CAST(conv(substring(md5(text),1,8),16,10) AS BIGINT)"))
              .as("text_crc"))
          .orderBy(col("g"))
      },
      Some {
        s"""WITH $keptStripCtes,
           |j AS (SELECT st.*, k.source FROM stripped st
           |  JOIN keptd k USING (doc_id))
           |SELECT source AS g, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(n_tokens_before) AS BIGINT) AS tokens_before,
           |  CAST(sum(n_tokens_after) AS BIGINT) AS tokens_after,
           |  CAST(sum(n_spans_removed) AS BIGINT) AS spans_removed,
           |  CAST(sum(CAST(('0x' || substring(text_md5, 1, 8)) AS BIGINT))
           |    AS BIGINT) AS text_crc
           |FROM j GROUP BY source ORDER BY g""".stripMargin
      }),

    // ---- store-wide dedup at INGEST (r15: the r14 verdict item-1
    // close): phase 1 commits the full corpus (q216's writeDeduped —
    // data + the gram/docs index tables); phase 2 ingests a batch for a
    // brand-NEW source whose docs each prepend a unique 3-token prefix
    // to a stored src1 doc's CURRENT text. src1 is NOT in the batch, so
    // ONLY the store-wide gram-index probe can catch the duplication:
    // each batch doc must commit with the stored passage stripped (the
    // stored copy stays canonical, untouched partitions keep their
    // files) and exact audit counters (original token count, +1 span).
    // Docs whose stored base has < 50 tokens have no grams and pass
    // through whole — the strip's documented granularity floor. The
    // census reads the FINAL store back: every stored row plus the
    // batch rows, with a text crc, so a word wrongly stripped (or
    // wrongly kept) anywhere in the store flips the hash.
    Q("q232_store_ingest_probe",
      (s, d) => {
        val t = Tables(s, d)
        val root = graft.storage.Catalog.tempRoot("graft-ingest-gate")
        val cat = new graft.storage.Catalog(s, root, "gate")
        graft.storage.CorpusStore.writeDeduped(cat, "corpus", t.documents,
          "doc_id", "text", "source")
        val schema = graft.storage.CorpusStore.storedSchema("doc_id",
          "source", "text")
        val stored = cat.readPartitionedOr("corpus", schema)
        val batch = stored.filter(col("source") === "src1")
          .select((col("doc_id") + 10000000L).as("doc_id"),
            lit("probe_batch").as("source"),
            concat(lit("zq"), col("doc_id").cast("string"), lit("a zq"),
              col("doc_id").cast("string"), lit("b zq"),
              col("doc_id").cast("string"), lit("c "),
              col("text")).as("text"))
        graft.storage.CorpusStore.ingestBatch(cat, "corpus", batch, 0L,
          "doc_id", "text", "source")
        cat.readPartitionedOr("corpus", schema)
          .select(col("doc_id"), col("source"), col("n_tokens_before"),
            col("n_tokens_after"), col("n_spans_removed"),
            expr("CAST(conv(substring(md5(text),1,8),16,10) AS BIGINT)")
              .as("text_crc"))
          .orderBy(col("doc_id"))
      },
      Some {
        s"""WITH $keptStripCtes,
           |kat AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p)
           |    AS text_after FROM keptt GROUP BY doc_id),
           |store0 AS (SELECT k.doc_id, k.source, st.n_tokens_before,
           |    st.n_tokens_after, st.n_spans_removed,
           |    COALESCE(kat.text_after, '') AS text
           |  FROM stripped st JOIN keptd k USING (doc_id)
           |  LEFT JOIN kat USING (doc_id)),
           |bat AS (SELECT s.doc_id + 10000000 AS doc_id,
           |    'probe_batch' AS source,
           |    'zq' || CAST(s.doc_id AS VARCHAR) || 'a zq'
           |      || CAST(s.doc_id AS VARCHAR) || 'b zq'
           |      || CAST(s.doc_id AS VARCHAR) || 'c' AS prefix,
           |    s.n_tokens_after AS n_stored, s.text AS stext
           |  FROM store0 s WHERE s.source = 'src1'),
           |bfin AS (SELECT doc_id, source,
           |    CASE WHEN n_stored >= 50 OR n_stored = 0 THEN prefix
           |         ELSE prefix || ' ' || stext END AS text,
           |    CAST(3 + n_stored AS BIGINT) AS n_tokens_before,
           |    CASE WHEN n_stored >= 50 THEN CAST(3 AS BIGINT)
           |         ELSE CAST(3 + n_stored AS BIGINT) END
           |      AS n_tokens_after,
           |    CASE WHEN n_stored >= 50 THEN CAST(1 AS BIGINT)
           |         ELSE CAST(0 AS BIGINT) END AS n_spans_removed
           |  FROM bat),
           |allr AS (SELECT doc_id, source, n_tokens_before,
           |    n_tokens_after, n_spans_removed, text FROM store0
           |  UNION ALL SELECT doc_id, source, n_tokens_before,
           |    n_tokens_after, n_spans_removed, text FROM bfin)
           |SELECT doc_id, source, n_tokens_before, n_tokens_after,
           |  n_spans_removed,
           |  CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT)
           |    AS text_crc
           |FROM allr ORDER BY doc_id""".stripMargin
      }),

    // ---- snapshot DIFF (r15; model updated r16): what did the commit
    // DO — q222's time travel reads two pinned versions; this classifies
    // every (id, source) row across them. Phase 1 commits the corpus
    // (v1); phase 2 ingests one batch that exercises all three mutation
    // classes: every src2 doc re-ingested with one extra unique token
    // (→ changed), every third src3 doc moved to a new source (→
    // removed from src3 + added to diff_moved, through the docs-index
    // conflict path), everything else untouched (→ same). The diff is
    // keyed on (id, source), so a moved doc charges BOTH partitions —
    // the per-partition accounting a storage audit wants. Oracle
    // reconstructs v1 (the writeDeduped CTE chain), applies the r16
    // O(batch) ingest contract in SQL, and full-outer-joins the two
    // states. That contract: surviving stored rows (ids not re-ingested)
    // are NEVER touched; a batch row whose normalized text equals a
    // surviving stored row's is DROPPED (stored-wins, the hash-index
    // probe — this is where two post-strip-identical texts meet, e.g. a
    // fully-stripped empty that moved against one that stayed, the class
    // the r15 ~sf1 red row taught); remaining batch rows collapse to the
    // min id per normalized text WITHIN the batch. The gram probe and
    // the keep-one strip both provably no-op here (every body gram's
    // only other occurrence is its own replaced row — excluded — and
    // suffixed windows are unique), so the two hash CTEs below are the
    // COMPLETE v2 model.
    Q("q233_snapshot_diff",
      (s, d) => {
        val t = Tables(s, d)
        val root = graft.storage.Catalog.tempRoot("graft-diff-gate")
        val cat = new graft.storage.Catalog(s, root, "gate")
        graft.storage.CorpusStore.writeDeduped(cat, "corpus", t.documents,
          "doc_id", "text", "source") // v1
        val stored = cat.readPartitionedOr("corpus",
          graft.storage.CorpusStore.storedSchema("doc_id", "source",
            "text"))
        val modified = stored.filter(col("source") === "src2")
          .select(col("doc_id"), col("source"),
            when(col("text") === "",
              concat(lit("yx"), col("doc_id").cast("string")))
              .otherwise(concat(col("text"), lit(" yx"),
                col("doc_id").cast("string"))).as("text"))
        val moved = stored.filter(col("source") === "src3" &&
            pmod(col("doc_id"), lit(3)) === 0)
          .select(col("doc_id"), lit("diff_moved").as("source"),
            col("text"))
        graft.storage.CorpusStore.ingestBatch(cat, "corpus",
          modified.unionByName(moved), 0L, "doc_id", "text", "source") // v2
        graft.storage.CorpusStore.diffVersions(cat, "corpus", 1L, 2L,
            "doc_id", "source", "text")
          .orderBy(col("source"))
      },
      Some {
        s"""WITH $keptStripCtes,
           |kat AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p)
           |    AS text_after FROM keptt GROUP BY doc_id),
           |v1 AS (SELECT k.doc_id, k.source,
           |    COALESCE(kat.text_after, '') AS text,
           |    st.n_tokens_after AS nt
           |  FROM stripped st JOIN keptd k USING (doc_id)
           |  LEFT JOIN kat USING (doc_id)),
           |md AS (SELECT doc_id, source,
           |    CASE WHEN text = '' THEN 'yx' || CAST(doc_id AS VARCHAR)
           |         ELSE text || ' yx' || CAST(doc_id AS VARCHAR) END
           |      AS text,
           |    nt + 1 AS nt
           |  FROM v1 WHERE source = 'src2'),
           |mv AS (SELECT doc_id, 'diff_moved' AS source, text, nt
           |  FROM v1 WHERE source = 'src3' AND doc_id % 3 = 0),
           |sv AS (SELECT doc_id, source, text, nt FROM v1
           |  WHERE source <> 'src2'
           |    AND NOT (source = 'src3' AND doc_id % 3 = 0)),
           |bt AS (SELECT doc_id, source, text, nt FROM md
           |  UNION ALL SELECT doc_id, source, text, nt FROM mv),
           |b1 AS (SELECT * FROM bt
           |  WHERE md5(${graft.dedup.Normalize.normalizeSql("text")})
           |    NOT IN (SELECT
           |      md5(${graft.dedup.Normalize.normalizeSql("text")})
           |    FROM sv)),
           |bkeep AS (SELECT min(doc_id) AS kid FROM b1
           |  GROUP BY md5(${graft.dedup.Normalize.normalizeSql("text")})),
           |b2 AS (SELECT * FROM b1
           |  WHERE doc_id IN (SELECT kid FROM bkeep)),
           |v2 AS (SELECT doc_id, source, text, nt FROM sv
           |  UNION ALL SELECT doc_id, source, text, nt FROM b2),
           |j AS (SELECT COALESCE(a.source, c.source) AS source,
           |    a.text AS t1, c.text AS t2, a.nt AS n1, c.nt AS n2
           |  FROM v1 a FULL OUTER JOIN v2 c
           |    ON a.doc_id = c.doc_id AND a.source = c.source)
           |SELECT source,
           |  CAST(count(*) FILTER (WHERE t1 IS NULL) AS BIGINT)
           |    AS n_added,
           |  CAST(count(*) FILTER (WHERE t2 IS NULL) AS BIGINT)
           |    AS n_removed,
           |  CAST(count(*) FILTER (WHERE t1 IS NOT NULL
           |    AND t2 IS NOT NULL AND t1 <> t2) AS BIGINT) AS n_changed,
           |  CAST(count(*) FILTER (WHERE t1 = t2) AS BIGINT) AS n_same,
           |  CAST(sum(COALESCE(n1, 0)) AS BIGINT) AS tokens_v1,
           |  CAST(sum(COALESCE(n2, 0)) AS BIGINT) AS tokens_v2
           |FROM j GROUP BY source ORDER BY source""".stripMargin
      }),

    // ---- cross-source substring contamination crosstab: q197's
    // exact-dup source matrix pushed down to Lee-et-al span granularity —
    // which source PAIRS share duplicated passages, and how many words
    // ride on each pair (src_a = src_b rows are within-source cross-doc
    // duplication)
    Q("q221_substring_crosstab",
      (s, d) => {
        val t = Tables(s, d)
        val toks = graft.dedup.SubstringDedup
          .tokenFrame(t.documents, "doc_id", "text")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val spans = graft.dedup.SubstringDedup.crossDocSpans(toks,
          "doc_id", minWords = 50, minDocs = 2)
        graft.dedup.SubstringDedup.crossSourceSpanCrosstab(spans,
            t.documents, "doc_id", "source")
          .orderBy(col("src_a"), col("src_b"))
      },
      Some(s"""WITH ${substringSpansCte},
              |bs AS (SELECT span_hash, d.source AS src,
              |    CAST(max(span_words) AS BIGINT) AS w
              |  FROM tx JOIN documents d USING (doc_id)
              |  GROUP BY span_hash, d.source),
              |pr AS (SELECT a.src AS src_a, b.src AS src_b,
              |    greatest(a.w, b.w) AS w
              |  FROM bs a JOIN bs b ON a.span_hash = b.span_hash
              |    AND a.src <= b.src)
              |SELECT src_a, src_b, CAST(count(*) AS BIGINT)
              |    AS n_shared_spans,
              |  CAST(sum(w) AS BIGINT) AS span_words_total
              |FROM pr GROUP BY src_a, src_b
              |ORDER BY src_a, src_b""".stripMargin)),

    // ---- memorization-exposure census (Carlini et al. risk signal):
    // per source, the share of word 8-grams occurring >= 3 times
    // corpus-wide (within-doc repeats count — equally memorizable) plus
    // the worst single document's exposure. The pre-release audit that
    // decides whether the q211 strip went deep enough.
    Q("q224_memorization_risk",
      (s, d) => {
        val t = Tables(s, d)
        val grams = graft.dedup.DupSpans
          .gramStarts(t.documents, "doc_id", "text", 8)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        graft.dedup.DupSpans.memorizationRisk(grams, "doc_id", k = 3)
          .join(t.documents.select(col("doc_id"), col("source")),
            Seq("doc_id"))
          .groupBy(col("source").as("g"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_grams")).as("grams_total"),
            sum(col("n_risky")).as("grams_risky"),
            max(col("risk_ppm")).as("max_doc_risk_ppm"))
          .select(col("g"), col("n_docs"), col("grams_total"),
            col("grams_risky"),
            expr("(grams_risky * 1000000) div grams_total")
              .as("risk_ppm"),
            col("max_doc_risk_ppm"))
          .orderBy(col("g"))
      },
      Some("""WITH t AS (SELECT doc_id,
             |    list_filter(regexp_split_to_array(text, '\s+'),
             |      x -> x <> '') AS toks
             |  FROM documents),
             |gr AS (SELECT doc_id, unnest(list_transform(
             |      range(0, len(toks) - 7),
             |      i -> array_to_string(
             |        toks[CAST(i+1 AS INT):CAST(i+8 AS INT)], ' ')))
             |    AS gram
             |  FROM t WHERE len(toks) >= 8),
             |occ AS (SELECT gram, CAST(count(*) AS BIGINT) AS c
             |  FROM gr GROUP BY gram),
             |j AS (SELECT doc_id, c FROM gr JOIN occ USING (gram)),
             |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             |    CAST(count(*) FILTER (WHERE c >= 3) AS BIGINT) AS n_risky
             |  FROM j GROUP BY doc_id),
             |pr AS (SELECT doc_id, n_grams, n_risky,
             |    (n_risky * 1000000) // n_grams AS doc_risk_ppm FROM pd)
             |SELECT d.source AS g, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(n_grams) AS BIGINT) AS grams_total,
             |  CAST(sum(n_risky) AS BIGINT) AS grams_risky,
             |  (CAST(sum(n_risky) AS BIGINT) * 1000000)
             |    // CAST(sum(n_grams) AS BIGINT) AS risk_ppm,
             |  max(doc_risk_ppm) AS max_doc_risk_ppm
             |FROM pr JOIN documents d USING (doc_id)
             |GROUP BY d.source ORDER BY g""".stripMargin)),

    // ---- strip-exposure delta: the q224 memorization census BEFORE vs
    // AFTER the q211 keep-one substring strip, per source — the
    // before/after pair that demonstrates the strip actually REDUCES
    // extraction-attack exposure (closes the loop q224's contract
    // promises: "decides whether the strip went deep enough").
    // exposure_drop_ppm > 0 is the evidence; SubstringDedupSpec pins the
    // corpus-wide strict decrease. Note the census is re-run from the
    // STRIPPED text (not inferred from removed-token counts): a strip
    // that joined two fragments into a NEW ≥3-occurrence 8-gram would be
    // charged for it.
    Q("q225_strip_exposure_delta",
      (s, d) => {
        val t = Tables(s, d)
        val srcOf = t.documents.select(col("doc_id"), col("source"))
        def census(grams0: org.apache.spark.sql.DataFrame) = {
          val grams = grams0
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          graft.dedup.DupSpans.memorizationRisk(grams, "doc_id", k = 3)
            .join(srcOf, Seq("doc_id"))
            .groupBy(col("source").as("g"))
            .agg(sum(col("n_grams")).as("grams"),
              sum(col("n_risky")).as("risky"))
        }
        val toks = graft.dedup.SubstringDedup
          .tokenFrame(t.documents, "doc_id", "text")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // before-census grams slice the SAME persisted token frame the
        // strip reads; after-census grams slice the kept token arrays
        // directly (keepOneTokenFrame) — no rebuild-text-then-retokenize
        // round trip, which is exact anyway (single-space join re-splits
        // identically)
        val before = census(graft.dedup.DupSpans
            .gramStartsFromTokens(toks, "doc_id", "_graft_toks", 8))
          .select(col("g"), col("grams").as("grams_before"),
            col("risky").as("risky_before"))
        val verdicts = graft.dedup.SubstringDedup.keepOneVerdicts(toks,
          "doc_id")
        val after = census(graft.dedup.DupSpans.gramStartsFromTokens(
            graft.dedup.SubstringDedup.keepOneTokenFrame(toks, verdicts,
              "doc_id"), "doc_id", "_graft_toks", 8))
          .select(col("g"), col("grams").as("grams_after"),
            col("risky").as("risky_after"))
        // after-sources ⊆ before-sources (stripping only removes tokens,
        // so any doc with ≥8 post-strip tokens had ≥8 before) — left join
        before.join(after, Seq("g"), "left")
          .select(col("g"), col("grams_before"), col("risky_before"),
            coalesce(col("grams_after"), lit(0L)).as("grams_after"),
            coalesce(col("risky_after"), lit(0L)).as("risky_after"))
          .select(col("g"), col("grams_before"), col("risky_before"),
            expr("CASE WHEN grams_before > 0 THEN" +
              " (risky_before * 1000000) div grams_before ELSE 0 END")
              .as("risk_ppm_before"),
            col("grams_after"), col("risky_after"),
            expr("CASE WHEN grams_after > 0 THEN" +
              " (risky_after * 1000000) div grams_after ELSE 0 END")
              .as("risk_ppm_after"))
          .withColumn("exposure_drop_ppm",
            col("risk_ppm_before") - col("risk_ppm_after"))
          .orderBy(col("g"))
      },
      Some(s"""WITH ${substringSpansCteOn("documents")},
              |$keepOneStripCtes,
              |ktext AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p)
              |    AS text FROM keptt GROUP BY doc_id),
              |sdocs AS (SELECT t.doc_id, COALESCE(kt.text, '') AS text
              |  FROM t LEFT JOIN ktext kt USING (doc_id)),
              |gb AS (SELECT doc_id, unnest(list_transform(
              |      range(0, len(toks) - 7),
              |      i -> array_to_string(
              |        toks[CAST(i+1 AS INT):CAST(i+8 AS INT)], ' ')))
              |    AS gram
              |  FROM t WHERE len(toks) >= 8),
              |ob AS (SELECT gram, count(*) AS c FROM gb GROUP BY gram),
              |cb AS (SELECT d.source AS g,
              |    CAST(count(*) AS BIGINT) AS grams_before,
              |    CAST(count(*) FILTER (WHERE c >= 3) AS BIGINT)
              |      AS risky_before
              |  FROM gb JOIN ob USING (gram) JOIN documents d USING (doc_id)
              |  GROUP BY d.source),
              |ta AS (SELECT doc_id,
              |    list_filter(regexp_split_to_array(text, '\\s+'),
              |      x -> x <> '') AS toks
              |  FROM sdocs),
              |ga AS (SELECT doc_id, unnest(list_transform(
              |      range(0, len(toks) - 7),
              |      i -> array_to_string(
              |        toks[CAST(i+1 AS INT):CAST(i+8 AS INT)], ' ')))
              |    AS gram
              |  FROM ta WHERE len(toks) >= 8),
              |oa AS (SELECT gram, count(*) AS c FROM ga GROUP BY gram),
              |ca AS (SELECT d.source AS g,
              |    CAST(count(*) AS BIGINT) AS grams_after,
              |    CAST(count(*) FILTER (WHERE c >= 3) AS BIGINT)
              |      AS risky_after
              |  FROM ga JOIN oa USING (gram) JOIN documents d USING (doc_id)
              |  GROUP BY d.source),
              |fin AS (SELECT cb.g, grams_before, risky_before,
              |    COALESCE(grams_after, 0) AS grams_after,
              |    COALESCE(risky_after, 0) AS risky_after
              |  FROM cb LEFT JOIN ca USING (g))
              |SELECT g, grams_before, risky_before,
              |  CASE WHEN grams_before > 0 THEN
              |    (risky_before * 1000000) // grams_before ELSE 0 END
              |    AS risk_ppm_before,
              |  grams_after, risky_after,
              |  CASE WHEN grams_after > 0 THEN
              |    (risky_after * 1000000) // grams_after ELSE 0 END
              |    AS risk_ppm_after,
              |  (CASE WHEN grams_before > 0 THEN
              |    (risky_before * 1000000) // grams_before ELSE 0 END)
              |  - (CASE WHEN grams_after > 0 THEN
              |    (risky_after * 1000000) // grams_after ELSE 0 END)
              |    AS exposure_drop_ppm
              |FROM fin ORDER BY g""".stripMargin)),

    // ---- curation waterfall (the data-ablation ledger every release
    // data card reports): per source, the token count SURVIVING each
    // stage of the q212 pipeline — raw → normalized exact dedup →
    // keep-one substring strip → MAD length screen — with each stage's
    // removal ppm relative to its predecessor, so the census attributes
    // shrinkage to the stage that caused it (q212 reports only the
    // end-to-end total). One tokenization: the persisted token frame
    // feeds the raw census, the kept-doc census, and the strip.
    Q("q226_curation_waterfall",
      (s, d) => {
        val t = Tables(s, d)
        val srcOf = t.documents.select(col("doc_id"), col("source"))
        val tokAll = graft.dedup.SubstringDedup
          .tokenFrame(t.documents, "doc_id", "text")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nTok = tokAll.select(col("doc_id"),
          size(col("_graft_toks")).cast("long").as("n_tok"))
        val s0 = nTok.join(srcOf, "doc_id").groupBy(col("source").as("g"))
          .agg(sum(col("n_tok")).as("tokens_raw"))
        // kept-id + strip-audit frames persisted: every reference
        // otherwise re-runs the span chain (the r14 composition finding)
        val keptIds = graft.dedup.Normalize.canonicalDocs(t.documents,
            "doc_id", "text", Seq("source"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val s1 = nTok.join(keptIds, "doc_id")
          .groupBy(col("source").as("g"))
          .agg(sum(col("n_tok")).as("tokens_dedup"))
        val toksKept = tokAll.join(keptIds.select(col("doc_id")), "doc_id")
          .select(col("doc_id"), col("_graft_toks"))
        val verdicts = graft.dedup.SubstringDedup.keepOneVerdicts(toksKept,
          "doc_id")
        val stripped = graft.dedup.SubstringDedup
          .applyKeepOne(toksKept, verdicts, "doc_id")
          .join(keptIds, "doc_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val s2 = stripped.groupBy(col("source").as("g"))
          .agg(sum(col("n_tokens_after")).as("tokens_strip"))
        val s3 = graft.curation.RobustStats.madKeep(
            stripped, "source", "n_tokens_after", kTenths = 35)
          .groupBy(col("source").as("g"))
          .agg(sum(col("n_tokens_after")).as("tokens_screen"))
        s0.join(s1, Seq("g"), "left").join(s2, Seq("g"), "left")
          .join(s3, Seq("g"), "left")
          .select(col("g"), col("tokens_raw"),
            coalesce(col("tokens_dedup"), lit(0L)).as("tokens_dedup"),
            coalesce(col("tokens_strip"), lit(0L)).as("tokens_strip"),
            coalesce(col("tokens_screen"), lit(0L)).as("tokens_screen"))
          .select(col("g"), col("tokens_raw"), col("tokens_dedup"),
            col("tokens_strip"), col("tokens_screen"),
            expr("CASE WHEN tokens_raw > 0 THEN ((tokens_raw - " +
              "tokens_dedup) * 1000000) div tokens_raw ELSE 0 END")
              .as("drop_dedup_ppm"),
            expr("CASE WHEN tokens_dedup > 0 THEN ((tokens_dedup - " +
              "tokens_strip) * 1000000) div tokens_dedup ELSE 0 END")
              .as("drop_strip_ppm"),
            expr("CASE WHEN tokens_strip > 0 THEN ((tokens_strip - " +
              "tokens_screen) * 1000000) div tokens_strip ELSE 0 END")
              .as("drop_screen_ppm"))
          .orderBy(col("g"))
      },
      Some {
        s"""WITH $keptStripCtes,
           |rawt AS (SELECT d.source AS g, CAST(sum(len(list_filter(
           |      regexp_split_to_array(text, '\\s+'), x -> x <> '')))
           |    AS BIGINT) AS tokens_raw
           |  FROM documents d GROUP BY d.source),
           |s1 AS (SELECT k.source AS g,
           |    CAST(sum(len(toks)) AS BIGINT) AS tokens_dedup
           |  FROM t JOIN keptd k USING (doc_id) GROUP BY k.source),
           |j AS (SELECT st.*, k.source FROM stripped st
           |  JOIN keptd k USING (doc_id)),
           |s2 AS (SELECT source AS g,
           |    CAST(sum(n_tokens_after) AS BIGINT) AS tokens_strip
           |  FROM j GROUP BY source),
           |r AS (SELECT source, n_tokens_after,
           |    CAST(row_number() OVER (PARTITION BY source
           |      ORDER BY n_tokens_after) AS BIGINT) AS rn,
           |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
           |  FROM j),
           |med AS (SELECT source, min(CASE WHEN rn >= (n + 1) // 2
           |    THEN n_tokens_after END) AS med FROM r GROUP BY source),
           |dd AS (SELECT r2.source, abs(r2.n_tokens_after - med) AS dv,
           |    CAST(row_number() OVER (PARTITION BY r2.source
           |      ORDER BY abs(r2.n_tokens_after - med)) AS BIGINT) AS rn,
           |    CAST(count(*) OVER (PARTITION BY r2.source) AS BIGINT) AS n
           |  FROM (SELECT source, n_tokens_after FROM j) r2
           |  JOIN med USING (source)),
           |mad AS (SELECT source, min(CASE WHEN rn >= (n + 1) // 2
           |    THEN dv END) AS mad FROM dd GROUP BY source),
           |scr AS (SELECT j.* FROM j
           |  JOIN med USING (source) JOIN mad USING (source)
           |  WHERE abs(n_tokens_after - med) * 10 <= 35 * mad),
           |s3 AS (SELECT source AS g,
           |    CAST(sum(n_tokens_after) AS BIGINT) AS tokens_screen
           |  FROM scr GROUP BY source),
           |fin AS (SELECT rawt.g, tokens_raw,
           |    COALESCE(tokens_dedup, 0) AS tokens_dedup,
           |    COALESCE(tokens_strip, 0) AS tokens_strip,
           |    COALESCE(tokens_screen, 0) AS tokens_screen
           |  FROM rawt LEFT JOIN s1 USING (g) LEFT JOIN s2 USING (g)
           |  LEFT JOIN s3 USING (g))
           |SELECT g, tokens_raw, tokens_dedup, tokens_strip, tokens_screen,
           |  CASE WHEN tokens_raw > 0 THEN ((tokens_raw - tokens_dedup)
           |    * 1000000) // tokens_raw ELSE 0 END AS drop_dedup_ppm,
           |  CASE WHEN tokens_dedup > 0 THEN ((tokens_dedup - tokens_strip)
           |    * 1000000) // tokens_dedup ELSE 0 END AS drop_strip_ppm,
           |  CASE WHEN tokens_strip > 0 THEN ((tokens_strip - tokens_screen)
           |    * 1000000) // tokens_strip ELSE 0 END AS drop_screen_ppm
           |FROM fin ORDER BY g""".stripMargin
      }),

    // ---- tokenizer fertility census: per source, how many BPE-proxy
    // tokens a whitespace word costs (fertility) and how many characters
    // ride in each token — the budgeting numbers that decide whether a
    // source is cheap or expensive to train on under a given tokenizer
    // (q65's per-doc counts rolled into the per-source planning view,
    // exact integer milli-units). One corpus scan, one partial-agg'd
    // group exchange.
    Q("q230_tokenizer_fertility",
      (s, d) => {
        val t = Tables(s, d)
        t.documents.select(col("source"),
            TextFunctions.tokenCount(col("text")).cast("long").as("ws"),
            TextFunctions.bpeishTokenCount(col("text")).cast("long")
              .as("bpe"),
            length(col("text")).cast("long").as("chars"))
          .groupBy(col("source").as("g"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("ws")).as("ws_tokens"),
            sum(col("bpe")).as("bpe_tokens"),
            sum(col("chars")).as("n_chars"))
          .select(col("g"), col("n_docs"), col("ws_tokens"),
            col("bpe_tokens"), col("n_chars"),
            expr("CASE WHEN ws_tokens > 0 THEN" +
              " (bpe_tokens * 1000) div ws_tokens ELSE 0 END")
              .as("fertility_milli"),
            expr("CASE WHEN bpe_tokens > 0 THEN" +
              " (n_chars * 1000) div bpe_tokens ELSE 0 END")
              .as("chars_per_token_milli"))
          .orderBy(col("g"))
      },
      Some("""WITH b AS (SELECT source,
             |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT)
             |      AS ws,
             |    CAST(len(regexp_extract_all(text,
             |      '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\r\f]+'))
             |      AS BIGINT) AS bpe,
             |    CAST(len(text) AS BIGINT) AS chars
             |  FROM documents)
             |SELECT source AS g, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(ws) AS BIGINT) AS ws_tokens,
             |  CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
             |  CAST(sum(chars) AS BIGINT) AS n_chars,
             |  CASE WHEN CAST(sum(ws) AS BIGINT) > 0 THEN
             |    (CAST(sum(bpe) AS BIGINT) * 1000) // CAST(sum(ws) AS BIGINT)
             |    ELSE 0 END AS fertility_milli,
             |  CASE WHEN CAST(sum(bpe) AS BIGINT) > 0 THEN
             |    (CAST(sum(chars) AS BIGINT) * 1000)
             |      // CAST(sum(bpe) AS BIGINT)
             |    ELSE 0 END AS chars_per_token_milli
             |FROM b GROUP BY source ORDER BY g""".stripMargin)),

    // ---- per-document curation lineage: for EVERY input document, which
    // q212 pipeline stage decided its fate — 'exact_dup' (lost the
    // normalized-dedup canon race), 'mad_screen' (post-strip length
    // outlier), or 'kept' — plus the strip's token audit. The
    // "why was my document dropped" debugging view a production pipeline
    // answers per-doc, where q226's waterfall answers per-source.
    // Same persisted-frame discipline as q212 (one normalize pass, one
    // tokenization, one strip evaluation); the lineage itself is three
    // id-keyed left joins against bounded audit frames.
    Q("q229_curation_lineage",
      (s, d) => {
        val t = Tables(s, d)
        // the lineage join below reads (doc_id, source) straight off the
        // pruned parquet scan: normalize runs once, inside canonicalDocs
        val keptIds = graft.dedup.Normalize.canonicalDocs(t.documents,
            "doc_id", "text", Seq("source"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val kept = t.documents.select(col("doc_id"), col("text"))
          .join(keptIds.select(col("doc_id")), "doc_id")
        val toks = graft.dedup.SubstringDedup
          .tokenFrame(kept, "doc_id", "text")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val verdicts = graft.dedup.SubstringDedup.keepOneVerdicts(toks,
          "doc_id")
        val stripped = graft.dedup.SubstringDedup
          .applyKeepOne(toks, verdicts, "doc_id")
          .join(keptIds, "doc_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val surviving = graft.curation.RobustStats.madKeep(
            stripped, "source", "n_tokens_after", kTenths = 35)
          .select(col("doc_id"), lit(1L).as("_graft_surv"))
        val rawTok = t.documents.select(col("doc_id"),
          size(filter(TextFunctions.tokens(col("text")),
            x => x =!= lit(""))).cast("long").as("tokens_raw"))
        rawTok.join(t.documents.select(col("doc_id"), col("source")),
            "doc_id")
          .join(stripped.select(col("doc_id"),
            col("n_tokens_after"), col("n_spans_removed")),
            Seq("doc_id"), "left")
          .join(surviving, Seq("doc_id"), "left")
          .select(col("doc_id"), col("source"),
            when(col("n_tokens_after").isNull, lit("exact_dup"))
              .when(col("_graft_surv").isNull, lit("mad_screen"))
              .otherwise(lit("kept")).as("status"),
            col("tokens_raw"),
            coalesce(col("n_tokens_after"), lit(0L)).as("tokens_after"),
            coalesce(col("n_spans_removed"), lit(0L)).as("spans_removed"))
          .orderBy(col("doc_id"))
      },
      Some {
        s"""WITH $keptStripCtes,
           |j AS (SELECT st.*, k.source FROM stripped st
           |  JOIN keptd k USING (doc_id)),
           |r AS (SELECT source, n_tokens_after,
           |    CAST(row_number() OVER (PARTITION BY source
           |      ORDER BY n_tokens_after) AS BIGINT) AS rn,
           |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
           |  FROM j),
           |med AS (SELECT source, min(CASE WHEN rn >= (n + 1) // 2
           |    THEN n_tokens_after END) AS med FROM r GROUP BY source),
           |dd AS (SELECT r2.source, abs(r2.n_tokens_after - med) AS dv,
           |    CAST(row_number() OVER (PARTITION BY r2.source
           |      ORDER BY abs(r2.n_tokens_after - med)) AS BIGINT) AS rn,
           |    CAST(count(*) OVER (PARTITION BY r2.source) AS BIGINT) AS n
           |  FROM (SELECT source, n_tokens_after FROM j) r2
           |  JOIN med USING (source)),
           |mad AS (SELECT source, min(CASE WHEN rn >= (n + 1) // 2
           |    THEN dv END) AS mad FROM dd GROUP BY source),
           |scr AS (SELECT j.doc_id FROM j
           |  JOIN med USING (source) JOIN mad USING (source)
           |  WHERE abs(n_tokens_after - med) * 10 <= 35 * mad),
           |rawt AS (SELECT doc_id, CAST(len(list_filter(
           |    regexp_split_to_array(text, '\\s+'), x -> x <> ''))
           |    AS BIGINT) AS tokens_raw FROM documents)
           |SELECT b.doc_id, b.source,
           |  CASE WHEN st.doc_id IS NULL THEN 'exact_dup'
           |       WHEN scr.doc_id IS NULL THEN 'mad_screen'
           |       ELSE 'kept' END AS status,
           |  rawt.tokens_raw,
           |  COALESCE(st.n_tokens_after, 0) AS tokens_after,
           |  COALESCE(st.n_spans_removed, 0) AS spans_removed
           |FROM b JOIN rawt USING (doc_id)
           |LEFT JOIN stripped st ON st.doc_id = b.doc_id
           |LEFT JOIN scr ON scr.doc_id = b.doc_id
           |ORDER BY b.doc_id""".stripMargin
      }),

    // ---- duplicate-aware loss weighting (soft dedup): instead of
    // DROPPING exact duplicates, down-weight each copy by its group size
    // (a doc with n normalized-identical copies trains at weight 1/n), so
    // total gradient mass per unique content is constant — the
    // data-constrained-scaling alternative to hard removal. Census per
    // source: raw vs effective token mass and the retained share.
    // Weights are exact integer milli-units; the effective→ppm division
    // runs in DECIMAL(38,0)/HUGEINT (the q218 convention — milli-token
    // sums × 1000 pass 2⁶³ once a source holds ~10¹² tokens).
    Q("q228_soft_dedup",
      (s, d) => {
        val t = Tables(s, d)
        val toks = TextFunctions.tokens(col("text"))
        // one normalize+tokenize pass: the slim frame feeds the group-size
        // agg AND the probe join (the r14 composition finding). r17 A/B
        // (interleaved, 3 rounds, sf0.1): a window count(*) over grp —
        // one exchange, no persist — measured 0.47-0.50 s vs 0.24-0.25 s
        // for this shape (the window's full sort costs more at bench scale
        // than the hash agg + AQE-broadcast join-back), so this stays;
        // the window variant is on file in plans/r17/ab_round1_queries.txt
        // for the scale where gsz outgrows the broadcast threshold.
        val base = t.documents.select(col("doc_id"), col("source"),
          size(filter(toks, x => x =!= lit(""))).cast("long").as("n_tok"),
          graft.dedup.Normalize.contentHash(col("text")).as("grp"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val gsz = base.groupBy(col("grp")).agg(count(lit(1)).as("n_copies"))
        base.join(gsz, "grp")
          .groupBy(col("source").as("g"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("n_copies") > 1, 1L).otherwise(0L))
              .as("n_dup_docs"),
            sum(col("n_tok")).as("tokens_raw"),
            sum(expr("(n_tok * 1000) div n_copies"))
              .as("effective_tokens_milli"))
          .select(col("g"), col("n_docs"), col("n_dup_docs"),
            col("tokens_raw"), col("effective_tokens_milli"),
            expr("CASE WHEN tokens_raw > 0 THEN CAST((CAST(" +
              "effective_tokens_milli AS DECIMAL(38,0)) * 1000) div " +
              "tokens_raw AS BIGINT) ELSE 0 END").as("retained_ppm"))
          .orderBy(col("g"))
      },
      Some(s"""WITH b AS (SELECT doc_id, source,
              |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
              |      x -> x <> '')) AS BIGINT) AS n_tok,
              |    md5(${graft.dedup.Normalize.normalizeSql("text")}) AS grp
              |  FROM documents),
              |gsz AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_copies
              |  FROM b GROUP BY grp)
              |SELECT source AS g, CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(count(*) FILTER (WHERE n_copies > 1) AS BIGINT)
              |    AS n_dup_docs,
              |  CAST(sum(n_tok) AS BIGINT) AS tokens_raw,
              |  CAST(sum((n_tok * 1000) // n_copies) AS BIGINT)
              |    AS effective_tokens_milli,
              |  CASE WHEN CAST(sum(n_tok) AS BIGINT) > 0 THEN
              |    CAST((CAST(sum((n_tok * 1000) // n_copies) AS HUGEINT)
              |      * 1000) // CAST(sum(n_tok) AS BIGINT) AS BIGINT)
              |    ELSE 0 END AS retained_ppm
              |FROM b JOIN gsz USING (grp)
              |GROUP BY source ORDER BY g""".stripMargin)),

    // ---- content-defined chunking (rsync/FastCDC family): shift-resistant
    // rolling-hash boundaries, pure per-row HOF pipeline, zero shuffle
    Q("q80_cdc_chunks",
      (s, d) => {
        val t = Tables(s, d)
        graft.dedup.CdcChunks.chunks(t.documents, "doc_id", "text")
          .orderBy(col("doc_id"), col("chunk_seq"))
      },
      Some(graft.dedup.CdcChunks.oracleSql)),

    // ---- fuzzy passage-level decontamination: winnowing fingerprints of
    // the src0 "benchmark" slice, broadcast against the rest of the corpus
    Q("q81_winnow_decontaminate",
      (s, d) => {
        val t = Tables(s, d)
        val docs = t.documents
        graft.curation.Decontaminate.winnowContamination(
            docs.filter(col("source") =!= "src0"),
            docs.filter(col("source") === "src0"),
            "doc_id", "text", k = 5, w = 4)
          .orderBy(col("doc_id"))
      },
      Some("""WITH h AS (
             |  SELECT doc_id, source,
             |    list_transform(range(0, len(text)-4), i ->
             |      substr(md5(substr(text, CAST(i+1 AS INT), 5)), 1, 16)) AS hs
             |  FROM documents WHERE len(text) >= 8),
             |m AS (
             |  SELECT doc_id, source,
             |    list_transform(range(0, len(hs)-3), j ->
             |      list_min(hs[CAST(j+1 AS INT):CAST(j+4 AS INT)])) AS mins
             |  FROM h),
             |fp AS (SELECT DISTINCT doc_id, source, fingerprint FROM (
             |  SELECT doc_id, source, unnest(mins) AS fingerprint FROM m)),
             |bench AS (SELECT DISTINCT fingerprint FROM fp WHERE source = 'src0'),
             |corp AS (SELECT doc_id, fingerprint FROM fp WHERE source <> 'src0')
             |SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_fp,
             |  CAST(sum(CASE WHEN b.fingerprint IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
             |  (CAST(sum(CASE WHEN b.fingerprint IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    * 1000000) // CAST(count(*) AS BIGINT) AS shared_ppm
             |FROM corp c LEFT JOIN bench b USING (fingerprint)
             |GROUP BY c.doc_id
             |ORDER BY c.doc_id""".stripMargin)),

    // ---- int8 absmax embedding quantization: per-row SQ8 reconstruction
    // stats in exact integer micro units (4x memory cut before ANN serving)
    Q("q82_sq8_quant",
      (s, d) => {
        val t = Tables(s, d)
        graft.similarity.Quantize.sq8Stats(t.embeddings, "vec_id", "embedding")
          .orderBy(col("vec_id"))
      },
      Some("""WITH v AS (
             |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings),
             |a AS (SELECT vec_id, v,
             |  list_max(list_transform(v, x -> abs(x))) AS am FROM v),
             |s AS (SELECT vec_id, v, am, am / 127.0 AS sc FROM a),
             |e AS (SELECT vec_id, am,
             |  list_transform(v, x -> CAST(round(abs(x -
             |    (CASE WHEN sc = 0 THEN 0.0
             |          ELSE greatest(least(round(x / sc), 127.0), -127.0) END) * sc)
             |    * 1000000.0) AS BIGINT)) AS errm
             |  FROM s)
             |SELECT vec_id,
             |  CAST(round(am * 1000000.0) AS BIGINT) AS absmax_micro,
             |  CAST(list_max(errm) AS BIGINT) AS max_err_micro,
             |  CAST(list_sum(errm) AS BIGINT) AS sum_err_micro
             |FROM e ORDER BY vec_id""".stripMargin)),

    // ---- incremental batch-vs-corpus dedup: src19 is "today's crawl",
    // screened against the standing corpus (exact hash, then LSH near-dup)
    Q("q84_incremental_dedup",
      (s, d) => {
        val t = Tables(s, d)
        val docs = t.documents
        Dedup.incrementalVerdicts(
            docs.filter(col("source") =!= "src19"),
            docs.filter(col("source") === "src19"),
            "doc_id", "text", shingleLen = 3, numHashes = 16, bands = 4,
            threshold = 0.5)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH all_docs AS (
              |  SELECT doc_id, source, text,
              |    list_distinct(list_transform(range(1, len(t)-1),
              |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
              |  FROM (SELECT doc_id, source, text,
              |        regexp_split_to_array(text, '\\s+') AS t FROM documents)
              |  WHERE len(t) >= 3),
              |b AS (SELECT doc_id, text, sh FROM all_docs
              |      WHERE source = 'src19' AND len(sh) > 0),
              |c AS (SELECT doc_id, text, sh FROM all_docs
              |      WHERE source <> 'src19' AND len(sh) > 0),
              |exact AS (
              |  SELECT b.doc_id AS batch_id, min(c.doc_id) AS exact_match
              |  FROM b JOIN c ON md5(b.text) = md5(c.text) GROUP BY 1),
              |bsig AS (SELECT doc_id, ${Dedup.minhashSigSql("sh", 16)} AS sig FROM b),
              |csig AS (SELECT doc_id, ${Dedup.minhashSigSql("sh", 16)} AS sig FROM c),
              |bbh AS (
              |  SELECT doc_id, band,
              |    $bandMd5Sql AS bhash
              |  FROM (SELECT doc_id, unnest(range(0, 4)) AS band, sig FROM bsig)),
              |cbh AS (
              |  SELECT doc_id, band,
              |    $bandMd5Sql AS bhash
              |  FROM (SELECT doc_id, unnest(range(0, 4)) AS band, sig FROM csig)),
              |cand AS (
              |  SELECT DISTINCT bbh.doc_id AS batch_id, cbh.doc_id AS corpus_id
              |  FROM bbh JOIN cbh ON bbh.band = cbh.band AND bbh.bhash = cbh.bhash),
              |near AS (
              |  SELECT batch_id, min(corpus_id) AS near_match FROM (
              |    SELECT cand.batch_id, cand.corpus_id,
              |      CAST(len(list_intersect(b.sh, c.sh)) AS DOUBLE)
              |        / (len(b.sh) + len(c.sh) - len(list_intersect(b.sh, c.sh))) AS j
              |    FROM cand JOIN b ON b.doc_id = cand.batch_id
              |      JOIN c ON c.doc_id = cand.corpus_id)
              |  WHERE j >= 0.5 GROUP BY 1)
              |SELECT d.doc_id,
              |  CASE WHEN e.exact_match IS NOT NULL THEN 'exact_dup'
              |       WHEN n.near_match IS NOT NULL THEN 'near_dup'
              |       ELSE 'new' END AS verdict,
              |  coalesce(e.exact_match, n.near_match, -1) AS match_id
              |FROM documents d
              |  LEFT JOIN exact e ON e.batch_id = d.doc_id
              |  LEFT JOIN near n ON n.batch_id = d.doc_id
              |WHERE d.source = 'src19'
              |ORDER BY d.doc_id""".stripMargin)),

    // ---- hard-negative mining (DPR/Contriever recipe): nearest neighbors
    // with a DIFFERENT label — the contrastive-training near-misses
    Q("q87_hard_negatives",
      (s, d) => {
        val t = Tables(s, d)
        Similarity.hardNegativesTopK(
            t.embeddings.filter(col("vec_id") < 10), t.embeddings,
            "vec_id", "embedding", "label", 5)
          .select(col("query_id"), col("rank"), col("neighbor_id"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
             |  FROM embeddings),
             |scored AS (
             |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |    list_dot_product(q.v, c.v)
             |      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
             |  FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
             |    AND q.label <> c.label)
             |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id FROM (
             |  SELECT query_id, neighbor_id,
             |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
             |  FROM scored) WHERE rank <= 5
             |ORDER BY query_id, rank""".stripMargin)),

    // ---- embedding centroid drift per label vs the global centroid:
    // exact integer micro sums (order-free), one partial-agg'd explode
    Q("q88_centroid_drift",
      (s, d) => {
        val t = Tables(s, d)
        graft.similarity.EmbeddingStats
          .centroidDrift(t.embeddings, "embedding", "label")
          .orderBy(col("label"))
      },
      Some("""WITH x AS (
             |  SELECT label, unnest(list_transform(range(1, len(embedding)+1),
             |      i -> {'d': i,
             |            'xm': CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
             |                  * 1000000.0) AS BIGINT)})) AS u
             |  FROM embeddings),
             |g AS (SELECT label, u.d AS d, CAST(sum(u.xm) AS BIGINT) AS s,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM x GROUP BY label, u.d),
             |gl AS (SELECT d, CAST(sum(s) AS BIGINT) AS gs,
             |    CAST(sum(n) AS BIGINT) AS gn FROM g GROUP BY d),
             |t AS (SELECT g.label, g.n,
             |    CAST(round(((CAST(g.s AS DOUBLE) / 1000000.0) / CAST(g.n AS DOUBLE))
             |      * ((CAST(gl.gs AS DOUBLE) / 1000000.0) / CAST(gl.gn AS DOUBLE))
             |      * 1000000.0) AS BIGINT) AS dot_t,
             |    CAST(round(((CAST(g.s AS DOUBLE) / 1000000.0) / CAST(g.n AS DOUBLE))
             |      * ((CAST(g.s AS DOUBLE) / 1000000.0) / CAST(g.n AS DOUBLE))
             |      * 1000000.0) AS BIGINT) AS mm_t,
             |    CAST(round(((CAST(gl.gs AS DOUBLE) / 1000000.0) / CAST(gl.gn AS DOUBLE))
             |      * ((CAST(gl.gs AS DOUBLE) / 1000000.0) / CAST(gl.gn AS DOUBLE))
             |      * 1000000.0) AS BIGINT) AS gg_t
             |  FROM g JOIN gl USING (d)),
             |a AS (SELECT label, max(n) AS n_vecs, CAST(sum(dot_t) AS BIGINT) AS dot,
             |    CAST(sum(mm_t) AS BIGINT) AS mm, CAST(sum(gg_t) AS BIGINT) AS gg
             |  FROM t GROUP BY label)
             |SELECT label, n_vecs,
             |  CASE WHEN mm = 0 OR gg = 0 THEN CAST(0 AS BIGINT)
             |    ELSE CAST(round(1000000.0 * CAST(dot AS DOUBLE)
             |      / sqrt(CAST(mm AS DOUBLE) * CAST(gg AS DOUBLE))) AS BIGINT) END
             |    AS cos_micro
             |FROM a ORDER BY label""".stripMargin)),

    // ---- ANN recall@k audit: per query and index CONFIG, how many of the
    // exact top-5 (q27's plan) each LSH layout returns — the accept-or-
    // retune gate for an ANN index (misses score a hard 0). Two layouts of
    // the same 24 planes: 3 tables x 8 bits (tight buckets, fast, low
    // recall) vs 6 tables x 4 bits (coarse buckets, more candidates,
    // higher recall) — the audit IS how the trade is chosen.
    Q("q94_ann_recall",
      (s, d) => {
        val t = Tables(s, d)
        val q = t.embeddings.filter(col("vec_id") < 10)
        val bf = Similarity.cosineTopK(q, t.embeddings, "vec_id", "embedding", 5)
        def audit(bits: Int, label: String) =
          Similarity.recallAtK(bf,
              Similarity.annTopK(q, t.embeddings, "vec_id", "embedding", 5,
                nPlanes = 24, dim = 64, bitsPerTable = bits),
              "query_id", "neighbor_id", 5)
            .withColumn("config", lit(label))
        audit(8, "t3x8").unionByName(audit(4, "t6x4"))
          .select(col("config"), col("query_id"), col("n_hit"),
            col("recall_ppm"))
          .orderBy(col("config"), col("query_id"))
      },
      Some(s"""WITH bf AS (
             |  WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |  scored AS (
             |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |      list_dot_product(q.v, c.v)
             |        / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
             |    FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
             |  SELECT query_id, neighbor_id FROM (
             |    SELECT query_id, neighbor_id,
             |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
             |    FROM scored) WHERE rank <= 5
             |),
             |ann1 AS (
             |${annOracleSql(24, 64, 8, 5)}
             |),
             |ann2 AS (
             |${annOracleSql(24, 64, 4, 5)}
             |)
             |SELECT 't3x8' AS config, bf.query_id,
             |  CAST(count(ann1.neighbor_id) AS BIGINT) AS n_hit,
             |  (CAST(count(ann1.neighbor_id) AS BIGINT) * 1000000) // 5 AS recall_ppm
             |FROM bf LEFT JOIN ann1 ON bf.query_id = ann1.query_id
             |  AND bf.neighbor_id = ann1.neighbor_id
             |GROUP BY bf.query_id
             |UNION ALL
             |SELECT 't6x4' AS config, bf.query_id,
             |  CAST(count(ann2.neighbor_id) AS BIGINT) AS n_hit,
             |  (CAST(count(ann2.neighbor_id) AS BIGINT) * 1000000) // 5 AS recall_ppm
             |FROM bf LEFT JOIN ann2 ON bf.query_id = ann2.query_id
             |  AND bf.neighbor_id = ann2.neighbor_id
             |GROUP BY bf.query_id
             |ORDER BY config, query_id""".stripMargin)),

    // ---- graded ranking eval: NDCG@10 + MRR of the coarse-bucket ANN
    // layout against exact cosine top-10 — the order-sensitive metrics
    // recall@k (q94) can't see: rel = 11 − exact_rank, position discounts
    // are shared integer literals (round(1e6/log2(p+1))), the ideal DCG is
    // a compile-time constant, so NDCG/RR are pure integer ppm
    Q("q139_ndcg_mrr", {
      (s, d) => {
        val t = Tables(s, d)
        val q = t.embeddings.filter(col("vec_id") < 10)
        val bf = Similarity.cosineTopK(q, t.embeddings, "vec_id", "embedding", 10)
        val ann = Similarity.annTopK(q, t.embeddings, "vec_id", "embedding", 10,
          nPlanes = 24, dim = 64, bitsPerTable = 4)
        graft.curation.RankEval.ndcgMrrAudit(bf, ann,
            "query_id", "neighbor_id", "rank", 10)
          .orderBy(col("query_id"))
      }
    },
      Some({
        val disc = graft.curation.RankEval.ndcgDiscountsMicro(10)
          .mkString("[", ", ", "]")
        val idcg = graft.curation.RankEval.idcgMicro(10)
        s"""WITH bf AS (
           |  WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |  scored AS (
           |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |      list_dot_product(q.v, c.v)
           |        / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
           |    FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
           |  SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank FROM (
           |    SELECT query_id, neighbor_id,
           |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           |    FROM scored) WHERE rank <= 10
           |),
           |ann AS (
           |${annOracleSql(24, 64, 4, 10)}
           |),
           |j AS (SELECT a.query_id, a.rank AS p,
           |    CAST(CASE WHEN bf.rank IS NOT NULL THEN 11 - bf.rank ELSE 0 END AS BIGINT) AS rel
           |  FROM ann a LEFT JOIN bf ON a.query_id = bf.query_id
           |    AND a.neighbor_id = bf.neighbor_id),
           |gq AS (SELECT query_id,
           |    CAST(sum(rel * ($disc)[p]) AS BIGINT) AS dcg_microsum,
           |    min(CASE WHEN rel > 0 THEN p END) AS fh
           |  FROM j GROUP BY query_id)
           |SELECT q.query_id,
           |  coalesce(dcg_microsum, 0) AS dcg_microsum,
           |  (coalesce(dcg_microsum, 0) * 1000000) // $idcg AS ndcg_ppm,
           |  CAST(coalesce(1000000 // fh, 0) AS BIGINT) AS rr_ppm
           |FROM (SELECT DISTINCT query_id FROM bf) q LEFT JOIN gq USING (query_id)
           |ORDER BY query_id""".stripMargin
      })),

    // ---- prefix-filtering EXACT Jaccard self-join (SSJoin/AllPairs):
    // lossless, so the oracle is the plain all-pairs formulation — the
    // hash match PROVES the prefix filter dropped no qualifying pair
    Q("q96_prefix_jaccard",
      (s, d) => {
        val t = Tables(s, d)
        Dedup.prefixFilterJaccard(t.documents, "doc_id", "text",
            shingleLen = 3, threshold = 0.8)
          .orderBy(col("id1"), col("id2"))
      },
      Some(s"""WITH $shinglesCte,
              |w AS (SELECT doc_id, unnest(sh) AS w FROM docs),
              |sz AS (SELECT doc_id, len(sh) AS n FROM docs),
              |i AS (SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(count(*) AS BIGINT) AS inter
              |      FROM w a JOIN w b ON a.w = b.w AND a.doc_id < b.doc_id
              |      GROUP BY 1, 2)
              |SELECT id1, id2, inter,
              |  (inter * 1000000) // (s1.n + s2.n - inter) AS jac_ppm
              |FROM i JOIN sz s1 ON s1.doc_id = id1 JOIN sz s2 ON s2.doc_id = id2
              |WHERE inter * 1000000 >= 800000 * (s1.n + s2.n - inter)
              |ORDER BY id1, id2""".stripMargin)),

    // ---- embedding covariance audit (PCA/whitening prep): one-pass
    // outer-product Aggregator, d(d+1)/2 integer numerators, no row blowup
    Q("q100_embedding_cov",
      (s, d) => {
        val t = Tables(s, d)
        graft.similarity.EmbeddingStats
          .covarianceAudit(t.embeddings, "embedding", dim = 64)
          .orderBy(col("i"), col("j"))
      },
      Some("""WITH v AS (SELECT list_transform(embedding,
             |    x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
             |  FROM embeddings),
             |idx AS (SELECT i, j
             |  FROM (SELECT unnest(range(0, 64)) AS i) a,
             |       (SELECT unnest(range(0, 64)) AS j) b
             |  WHERE i <= j),
             |st AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
             |sums AS (SELECT i, CAST(sum(q[CAST(i + 1 AS INT)]) AS BIGINT) AS s
             |  FROM v, (SELECT unnest(range(0, 64)) AS i) _i GROUP BY i),
             |pr AS (SELECT i, j,
             |    CAST(sum(q[CAST(i + 1 AS INT)] * q[CAST(j + 1 AS INT)]) AS BIGINT) AS p
             |  FROM v, idx GROUP BY i, j)
             |SELECT pr.i, pr.j, n, n * p - a.s * b.s AS cov_num
             |FROM pr JOIN sums a ON a.i = pr.i JOIN sums b ON b.i = pr.j, st
             |ORDER BY pr.i, pr.j""".stripMargin)),

    // ---- SSL-prototypes pruning: rank by cosine to own-label centroid,
    // flag the most prototypical fifth (integer-exact q88 scheme)
    Q("q101_prototype_prune",
      (s, d) => {
        val t = Tables(s, d)
        graft.similarity.EmbeddingStats
          .prototypicalityPrune(t.embeddings, "vec_id", "embedding", "label",
            keepOneIn = 5)
          .orderBy(col("vec_id"))
      },
      Some("""WITH x AS (
             |  SELECT vec_id, label, unnest(list_transform(range(1, len(embedding)+1),
             |      i -> {'d': i,
             |            'xm': CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
             |                  * 1000000.0) AS BIGINT)})) AS u
             |  FROM embeddings),
             |g AS (SELECT label, u.d AS d, CAST(sum(u.xm) AS BIGINT) AS s,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM x GROUP BY label, u.d),
             |t AS (SELECT x.vec_id, x.label,
             |    CAST(round(CAST(u.xm AS DOUBLE) / 1000000.0
             |      * ((CAST(g.s AS DOUBLE) / 1000000.0) / CAST(g.n AS DOUBLE))
             |      * 1000000000.0) AS BIGINT) AS dot_t,
             |    u.xm * u.xm AS xx_t,
             |    CAST(round(((CAST(g.s AS DOUBLE) / 1000000.0) / CAST(g.n AS DOUBLE))
             |      * ((CAST(g.s AS DOUBLE) / 1000000.0) / CAST(g.n AS DOUBLE))
             |      * 1000000.0) AS BIGINT) AS mm_t,
             |    g.n
             |  FROM x JOIN g ON g.label = x.label AND g.d = u.d),
             |a AS (SELECT vec_id, label, CAST(sum(dot_t) AS BIGINT) AS dot,
             |    CAST(sum(xx_t) AS BIGINT) AS xx, CAST(sum(mm_t) AS BIGINT) AS mm,
             |    max(n) AS n
             |  FROM t GROUP BY vec_id, label),
             |sc AS (SELECT vec_id, label, n,
             |    CASE WHEN xx = 0 OR mm = 0 THEN CAST(0 AS BIGINT)
             |      ELSE CAST(round(1000000.0 * CAST(dot AS DOUBLE)
             |        / sqrt(CAST(xx AS DOUBLE) * CAST(mm AS DOUBLE))) AS BIGINT) END
             |      AS cos_micro
             |  FROM a)
             |SELECT vec_id, label, cos_micro,
             |  CASE WHEN CAST(row_number() OVER (PARTITION BY label
             |      ORDER BY cos_micro DESC, vec_id) AS BIGINT) <= n // 5
             |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS prune
             |FROM sc ORDER BY vec_id""".stripMargin)),

    // ---- MinHash estimate-vs-exact audit on the LSH candidates: the
    // per-pair evidence for the signature length k (est within
    // sqrt(J(1-J)/k) of exact)
    Q("q103_minhash_estimate",
      (s, d) => {
        val t = Tables(s, d)
        Dedup.minhashEstimateAudit(t.documents, "doc_id", "text",
            shingleLen = 3, numHashes = 16, bands = 4)
          .orderBy(col("id1"), col("id2"))
      },
      Some(s"""WITH $shinglesCte,
              |$signedCte,
              |${lshCandCte("signed")},
              |v AS (SELECT id1, id2,
              |    CAST(len(list_filter(range(1, 17),
              |      i -> d1.sig[CAST(i AS INT)] = d2.sig[CAST(i AS INT)])) AS BIGINT) AS matches,
              |    CAST(len(list_intersect(d1.sh, d2.sh)) AS BIGINT) AS inter,
              |    CAST(len(d1.sh) + len(d2.sh) AS BIGINT) AS ns
              |  FROM cand JOIN signed d1 ON d1.doc_id = id1
              |    JOIN signed d2 ON d2.doc_id = id2)
              |SELECT id1, id2, matches,
              |  (matches * 1000000) // 16 AS est_ppm,
              |  (inter * 1000000) // (ns - inter) AS jac_ppm,
              |  (matches * 1000000) // 16 - (inter * 1000000) // (ns - inter) AS err_ppm
              |FROM v ORDER BY id1, id2""".stripMargin)),

    // ---- language-ID confusion matrix: predicted vs labeled language,
    // the model-eval audit over the q23 classifier (same per-row kernel)
    Q("q167_langid_confusion",
      (s, d) => {
        val t = Tables(s, d)
        t.documents
          .groupBy(col("lang"), TextFunctions.langId(col("text")).as("lang_pred"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("lang"), col("lang_pred"))
      },
      Some(s"""WITH p AS ($langIdPredSql)
              |SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
              |FROM p GROUP BY lang, lang_pred
              |ORDER BY lang, lang_pred""".stripMargin)),

    // ---- Cramér's V² between labeled and predicted language: the
    // one-number effect size over the q167 confusion matrix (dense grid —
    // zero cells contribute, which present-cells-only sums drop)
    Q("q175_cramers_v",
      (s, d) => {
        val t = Tables(s, d)
        Association.cramersV2(t.documents, col("lang"),
            TextFunctions.langId(col("text")))
          .orderBy(col("n"))
      },
      Some(s"""WITH p AS ($langIdPredSql),
              |cells AS (SELECT lang AS a, lang_pred AS b,
              |    CAST(count(*) AS BIGINT) AS o FROM p GROUP BY 1, 2),
              |r AS (SELECT a, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY a),
              |c AS (SELECT b, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY b),
              |n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
              |dense AS (SELECT r.a, c.b, coalesce(cells.o, 0) AS o, r.r, c.c, n.n
              |  FROM r CROSS JOIN c
              |  LEFT JOIN cells ON cells.a = r.a AND cells.b = c.b, n),
              |agg AS (SELECT max(n) AS n,
              |    CAST(count(DISTINCT a) AS BIGINT) AS n_rows,
              |    CAST(count(DISTINCT b) AS BIGINT) AS n_cols,
              |    CAST(sum(((CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
              |      * (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c) * 1000000)
              |      // (CAST(n AS HUGEINT) * r * c)) AS BIGINT) AS chi2_micro
              |  FROM dense)
              |SELECT n, n_rows, n_cols, chi2_micro,
              |  CASE WHEN least(n_rows - 1, n_cols - 1) > 0
              |    THEN chi2_micro // (n * least(n_rows - 1, n_cols - 1))
              |  END AS v2_ppm
              |FROM agg ORDER BY n""".stripMargin)),

    // ---- rank-biased overlap of per-source top-20 vocabularies: the
    // top-weighted vocabulary-churn drift number; p-powers precomputed as
    // one exact integer fold and inlined into BOTH engines
    Q("q176_rbo_vocab",
      (s, d) => {
        val t = Tables(s, d)
        Association.rboTopK(t.documents, "text", "source", k = 20,
            pPpm = 900000L)
          .orderBy(col("src_a"), col("src_b"))
      },
      Some {
        val pows = Association.powersPpm(900000L, 20)
        val values = pows.zipWithIndex
          .map { case (pw, i) => s"(${i + 1}, $pw)" }.mkString(", ")
        s"""WITH tc AS (SELECT src, w, CAST(count(*) AS BIGINT) AS c FROM (
           |    SELECT source AS src,
           |      unnest(regexp_split_to_array(text, '[ \\t\\n\\r\\f]+')) AS w
           |    FROM documents)
           |  WHERE w <> '' GROUP BY 1, 2),
           |rk AS (SELECT src, w, rk FROM (
           |    SELECT src, w, CAST(row_number() OVER (PARTITION BY src
           |      ORDER BY c DESC, w) AS BIGINT) AS rk FROM tc)
           |  WHERE rk <= 20),
           |j AS (SELECT a.src AS src_a, b.src AS src_b,
           |    greatest(a.rk, b.rk) AS m
           |  FROM rk a JOIN rk b ON a.w = b.w AND a.src < b.src),
           |dp AS (SELECT CAST(d AS BIGINT) AS d, CAST(ppow AS BIGINT) AS ppow
           |  FROM (VALUES $values) t(d, ppow)),
           |t AS (SELECT src_a, src_b,
           |    (dp.ppow * CAST(count(*) AS BIGINT) * 100000)
           |      // (dp.d * 1000000) AS t
           |  FROM j JOIN dp ON j.m <= dp.d GROUP BY src_a, src_b, dp.d, dp.ppow),
           |sc AS (SELECT src_a, src_b, CAST(sum(t) AS BIGINT) AS rbo
           |  FROM t GROUP BY 1, 2),
           |srcs AS (SELECT DISTINCT src FROM rk),
           |univ AS (SELECT a.src AS src_a, b.src AS src_b
           |  FROM srcs a JOIN srcs b ON a.src < b.src)
           |SELECT u.src_a, u.src_b,
           |  coalesce(sc.rbo, CAST(0 AS BIGINT)) AS rbo_micro
           |FROM univ u LEFT JOIN sc
           |  ON sc.src_a = u.src_a AND sc.src_b = u.src_b
           |ORDER BY 1, 2""".stripMargin
      }),

    // ---- empirical LSH recall by jaccard decile vs the exact join —
    // the measured twin of the q128 S-curve prediction; one shingle scan
    // feeds both sides
    Q("q169_lsh_recall",
      (s, d) => {
        val t = Tables(s, d)
        graft.dedup.LshPlanner.empiricalRecallCurve(t.documents, "doc_id",
            "text", shingleLen = 3, numHashes = 16, bands = 4,
            minJacPpm = 50000L)
          .orderBy(col("bucket"))
      },
      Some(s"""WITH $shinglesCte,
              |$lshRecallSql""".stripMargin)),

    // ---- the same recall audit over a deterministic hash-sampled slice
    // (the q39 draw): the exact arm's quadratic cost falls to ~f² of the
    // pairs, so the audit runs at ANY scale; recall stays unbiased
    Q("q178_lsh_recall_sampled",
      (s, d) => {
        val t = Tables(s, d)
        graft.dedup.LshPlanner.empiricalRecallCurveSampled(t.documents,
            "doc_id", "text", shingleLen = 3, numHashes = 16, bands = 4,
            minJacPpm = 50000L, fraction = 0.5, salt = "lr1")
          .orderBy(col("bucket"))
      },
      Some(s"""WITH docs AS (
              |  SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
              |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
              |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t
              |    FROM documents
              |    WHERE substr(md5('lr1:' || CAST(doc_id AS VARCHAR)), 1, 8)
              |      < '${graft.sampling.Sampling.fractionThreshold(0.5)}')
              |  WHERE len(t) >= 3),
              |$lshRecallSql""".stripMargin))
  )
}
