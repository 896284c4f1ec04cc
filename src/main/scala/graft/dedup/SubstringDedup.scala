package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.TextFunctions

/** Cross-document exact-substring dedup with KEEP-ONE semantics — the
  * "deduplicating training data makes LMs better" operator (Lee et al.
  * 2022) completed: [[DupSpans]] (q70) detects duplicated spans and its
  * strip removes EVERY occurrence; training-data dedup instead keeps one
  * canonical copy of each duplicated substring and removes the rest.
  * A suffix array is a single-machine artifact; the distributed
  * re-expression is the sorted-gram-run frame the engine already uses
  * (explode → hash-keyed shuffle → gaps-and-islands), extended with
  * content attribution:
  *
  *  1. per row: token L-grams with start positions, HASHED immediately —
  *     the exchange carries fixed-width hash keys, never L-word strings
  *     (at L = 50 a raw gram is ~300 bytes; a hash is the only thing
  *     equality needs);
  *  2. grams present in ≥ `minDocs` DISTINCT documents (one 16-byte
  *     gram-key shuffle with partial agg) — the CROSS-document floor
  *     [[DupSpans]] lacks (its `minCount` also fires on self-repetition
  *     within one document);
  *  3. covered words merge into maximal per-doc spans (gaps-and-islands,
  *     skew bounded by the longest document);
  *  4. each span's text re-slices from the persisted token frame and
  *     hashes → clusters of content-identical spans, each with its
  *     canonical FIRST occurrence (min (doc_id, span_start));
  *  5. verdicts: a span is kept iff it IS its cluster's canonical
  *     occurrence.
  *
  * Spans whose surrounding duplicated material differs hash to different
  * clusters (coverage islands are maximal per doc) — cluster membership
  * asserts exact full-span equality, the strongest claim, never "shares
  * some substring". Scale: one corpus-sized gram-hash exchange + one
  * span-hash agg; everything else is bounded joins against the persisted
  * token frame.
  */
object SubstringDedup {

  private def cleanTokens(textCol: String): Column =
    filter(TextFunctions.tokens(col(textCol)), t => t =!= lit(""))

  /** xxhash64 with an explicit seed (the public `xxhash64` pins seed 42);
    * the second member of the 128-bit gram key (shared with
    * [[DupSpans.gramStarts]]'s key)
    */
  private[dedup] def xx64Seeded(c: Column, seed: Long): Column =
    org.apache.spark.sql.graftbridge.GraftSqlBridge.column(
      org.apache.spark.sql.catalyst.expressions.XxHash64(
        Seq(org.apache.spark.sql.graftbridge.GraftSqlBridge.expression(c)),
        seed))

  /** persisted (id, toks) projection — build ONCE and pass to both
    * derived views so the corpus text is scanned and tokenized a single
    * time (the q62/q119 single-scan convention)
    */
  def tokenFrame(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.operators.Parallelism.ensure(
      docs.select(col(idCol), cleanTokens(textCol).as("_graft_toks")))

  /** Per-position L-gram keys of a [[tokenFrame]]: (idCol, pos,
    * gram_h struct{h1, h2}) — one row per gram start. The key is two
    * independently-seeded xxhash64s over the token-slice ARRAY, packed in
    * one struct — 16 bytes on the corpus-sized exchange (a 32-hex md5
    * string is ~48) and no per-position string materialization or
    * cryptographic hash in the hot explode. 128 bits total puts
    * accidental collisions in md5's league (~n²/2¹²⁹); callers asserting
    * exact content (crossDocSpans) re-slice and hash span text
    * downstream. (A two-phase xx64-prefilter + md5-confirm variant
    * measured SLOWER at 1×/10× — two extra shuffles and a candidate
    * regroup join cost more than the narrower key saves; r13 A/B in
    * NOTES.md.) Also the key the [[graft.storage.CorpusStore]] gram
    * index stores — index rows and probe keys come from this ONE
    * definition, so they can never drift.
    */
  def gramKeys(toks: DataFrame, idCol: String, minWords: Int): DataFrame = {
    require(minWords >= 1, s"minWords must be >= 1, got $minWords")
    toks
      .filter(size(col("_graft_toks")) >= minWords)
      .select(col(idCol),
        posexplode(transform(
          sequence(lit(0), size(col("_graft_toks")) - minWords),
          i => slice(col("_graft_toks"), i + 1, lit(minWords))))
          .as(Seq("_graft_p", "_graft_gram")))
      .select(col(idCol), col("_graft_p").cast("long").as("pos"),
        struct(
          xxhash64(col("_graft_gram")).as("h1"),
          xx64Seeded(col("_graft_gram"), 0x9E3779B97F4A7C15L).as("h2"))
          .as("gram_h"))
  }

  /** Winnow-selected DISTINCT gram keys per document — the MOSS/winnowing
    * sample of [[gramKeys]] (Schleimer et al. 2003, the q66 kernel's idea
    * applied to token grams): for every window of `w` consecutive gram
    * start positions, the window's minimum key (by (h1, h2), ties broken
    * by position) is selected; tail windows truncate rather than vanish,
    * so every document with at least one gram keeps at least one
    * fingerprint (its suffix minima — short documents stay detectable,
    * and a document that IS a shared span selects the span's global
    * minimum on both sides). Returns (idCol, gram_h) with one row per
    * distinct selected (gram, doc) — expected density 2/(w+1) of gram
    * positions; `w = 1` selects every gram (density 1, the exact floor).
    *
    * Guarantee (the winnowing theorem restated for token grams): any
    * substring of ≥ `minWords + w − 1` words shared by two documents
    * contains a full window of `w` gram starts in each copy; that
    * window's minimum is determined by the shared CONTENT alone, so both
    * documents select the same key and a key-equality probe finds the
    * pair. Shared spans in [minWords, minWords + w − 2] words may or may
    * not be sampled — the detection floor a
    * [[graft.storage.CorpusStore]] index built at (minWords, w)
    * documents (the next full writeDeduped, which runs the full-density
    * [[crossDocSpans]], still collapses them).
    *
    * Scale shape: one per-doc window pass over the gram frame (skew
    * bounded by the longest document), then a partial-agg'd distinct —
    * and everything DOWNSTREAM (index bytes, probe broadcast, shuffle)
    * shrinks by the density factor.
    */
  def winnowedGramKeys(toks: DataFrame, idCol: String, minWords: Int,
      w: Int): DataFrame = {
    require(w >= 1, s"winnow window must be >= 1, got $w")
    val g = gramKeys(toks, idCol, minWords)
    val sel =
      if (w == 1) g
      else {
        val win = Window.partitionBy(col(idCol)).orderBy(col("pos"))
          .rowsBetween(Window.currentRow, (w - 1).toLong)
        g.select(col(idCol),
          min(struct(col("gram_h.h1").as("h1"), col("gram_h.h2").as("h2"),
            col("pos").as("p"))).over(win).as("_graft_sel"))
          .select(col(idCol), struct(col("_graft_sel.h1").as("h1"),
            col("_graft_sel.h2").as("h2")).as("gram_h"))
      }
    sel.select(col(idCol), col("gram_h")).distinct()
  }

  /** Coverage islands via interval merge over gram START positions: a
    * dup gram at start p covers words [p, p+L−1]; with equal lengths and
    * starts sorted per doc, the running max end is the PREVIOUS start's
    * end, so a new island begins exactly when pos > lag(pos) + L. This
    * replaces the r13 explode-into-covered-words + distinct() — a
    * minWords(=50)× row amplification feeding a corpus-sized exchange —
    * with a per-doc window over the unamplified hit frame (measured
    * r14 A/B in NOTES.md). Island membership is identical: the word
    * union of equal-length intervals is contiguous iff consecutive
    * starts are ≤ L apart, and span_words of a contiguous island is
    * span_end − span_start + 1. Input: (idCol, pos) hit rows; output:
    * (idCol, span_start, span_end, span_words).
    */
  private def coverageIslands(hits: DataFrame, idCol: String,
      minWords: Int): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    hits
      .withColumn("_graft_brk",
        when(col("pos") > lag(col("pos"), 1).over(w) + minWords, 1L)
          .otherwise(0L))
      .withColumn("_graft_grp", sum(col("_graft_brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("_graft_grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (minWords - 1)).as("span_end"))
      .drop("_graft_grp")
      .withColumn("span_words", col("span_end") - col("span_start") + 1)
  }

  /** (idCol, span_start, span_end, span_words, span_hash) — maximal word
    * spans covered by an L-gram occurring in ≥ `minDocs` distinct
    * documents, with the md5 of the span's reassembled text. Positions are
    * 0-based indexes into the whitespace token list.
    */
  def crossDocSpans(toks: DataFrame, idCol: String, minWords: Int,
      minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val grams = gramKeys(toks, idCol, minWords)
    // (the gram frame feeds the distinct-doc floor AND the hit probe; a
    // MEMORY_AND_DISK persist between them was A/B'd at 10× in r14 and
    // measured NEUTRAL — cold 13.6 vs 13.5 s — so the recompute stays:
    // the cache write+scan costs what the second explode+hash pass costs,
    // and not caching leaves executor memory to the token frame)
    val dup = grams.groupBy(col("gram_h"))
      .agg(countDistinct(col(idCol)).as("_graft_nd"))
      .filter(col("_graft_nd") >= minDocs)
      .select(col("gram_h"))
    val spans = coverageIslands(
      grams.join(dup, Seq("gram_h")).select(col(idCol), col("pos")),
      idCol, minWords)
    spans.join(toks, Seq(idCol))
      .select(col(idCol), col("span_start"), col("span_end"),
        col("span_words"),
        md5(array_join(slice(col("_graft_toks"),
          (col("span_start") + 1).cast("int"),
          col("span_words").cast("int")), " ")).as("span_hash"))
  }

  /** Maximal word spans of `toks` documents covered by an L-gram present
    * ANYWHERE in `refToks` (the reference corpus) — the asymmetric twin
    * of [[crossDocSpans]] for stripping NEW documents against an
    * already-deduplicated STORE: one stored occurrence suffices (the
    * batch doc + the stored doc are the ≥2 distinct documents), and the
    * stored copy is canonical unconditionally, so every returned span is
    * a removal. Returns (idCol, span_start, span_end, span_words) over
    * `toks` ids only. Feed [[removeAllVerdicts]] + [[keepOneStripped]]
    * to materialize.
    *
    * Scale shape: the reference side reduces to DISTINCT gram keys (one
    * partial-agg'd pass, 16-byte keys); the probe is one hash join
    * against the (typically batch-sized, broadcastable) `toks` gram
    * frame; islands merge per doc as in [[crossDocSpans]]. Exactness:
    * membership rides the 128-bit gram key alone (no content re-slice
    * against the reference — its text may not be co-resident); collisions
    * sit in md5's league, documented at [[gramKeys]].
    */
  def containedSpans(toks: DataFrame, refToks: DataFrame, idCol: String,
      minWords: Int): DataFrame = {
    val refGrams = gramKeys(refToks, idCol, minWords)
      .select(col("gram_h")).distinct()
    val hits = gramKeys(toks, idCol, minWords)
      .join(refGrams, Seq("gram_h"))
      .select(col(idCol), col("pos"))
    coverageIslands(hits, idCol, minWords)
  }

  /** Remove-ALL verdicts over a span frame (no span_hash required): every
    * span is `kept = false` — the shape [[keepOneStripped]] consumes when
    * the canonical copy lives elsewhere ([[containedSpans]] against a
    * store whose copies must stay untouched).
    */
  def removeAllVerdicts(spans: DataFrame, idCol: String): DataFrame =
    spans.select(col(idCol), col("span_start"), col("span_end"),
      col("span_words"), lit(false).as("kept"))

  /** Cross-source contamination crosstab at SUBSTRING granularity — the
    * provenance view of [[crossDocSpans]]: for every ordered source pair
    * (src_a ≤ src_b), how many distinct duplicated substrings have an
    * occurrence in both, and how many words each side would shed if that
    * pair were deduplicated (the q197 exact-dup crosstab's semantics
    * pushed down from whole documents to Lee-et-al spans; src_a = src_b
    * rows count within-source cross-document duplication). Returns
    * (src_a, src_b, n_shared_spans, span_words_total) with
    * `span_words_total` summing each shared cluster's max occurrence
    * length once.
    *
    * Scale shape: spans join the bounded (id → source) projection, reduce
    * to one row per (span_hash, source) — cluster count × source count,
    * span-bounded — and pair within span_hash (≤ |sources|² per cluster,
    * config-bounded). The pair frame partial-aggregates to the final
    * |sources|²-bounded crosstab.
    */
  def crossSourceSpanCrosstab(spans: DataFrame, docs: DataFrame,
      idCol: String, sourceCol: String): DataFrame = {
    val bySrc = spans.join(docs.select(col(idCol), col(sourceCol)),
        Seq(idCol))
      .groupBy(col("span_hash"), col(sourceCol).as("_graft_src"))
      .agg(max(col("span_words")).as("_graft_w"))
    val a = bySrc.select(col("span_hash"), col("_graft_src").as("src_a"),
      col("_graft_w").as("_graft_wa"))
    val b = bySrc.select(col("span_hash"), col("_graft_src").as("src_b"),
      col("_graft_w").as("_graft_wb"))
    a.join(b, Seq("span_hash"))
      .filter(col("src_a") <= col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared_spans"),
        sum(greatest(col("_graft_wa"), col("_graft_wb")))
          .as("span_words_total"))
  }

  /** One row per distinct duplicated substring (by exact content):
    * (span_hash, span_words, n_docs, n_spans, first_doc_id, first_start)
    * — the "duplicate substring table" a suffix-array pipeline publishes,
    * with the canonical first occurrence each cluster keeps.
    */
  def substringClusters(spans: DataFrame, idCol: String): DataFrame =
    spans.groupBy(col("span_hash"))
      .agg(max(col("span_words")).as("span_words"),
        countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_spans"),
        min(struct(col(idCol).as("d"), col("span_start").as("s")))
          .as("_graft_c"))
      .select(col("span_hash"), col("span_words"), col("n_docs"),
        col("n_spans"), col("_graft_c.d").as("first_doc_id"),
        col("_graft_c.s").as("first_start"))

  /** Keep-one verdicts: every span row from [[crossDocSpans]] plus
    * `kept` — true iff the span is its content cluster's canonical (min
    * (doc_id, span_start)) occurrence. Downstream removal strips the
    * words of every `kept = false` span and leaves canonical copies in
    * place — the Lee et al. policy, vs [[DupSpans.stripDuplicatedSpans]]
    * which removes all occurrences.
    */
  def dedupVerdicts(spans: DataFrame, idCol: String): DataFrame =
    spans
      .withColumn("_graft_rn", row_number().over(
        Window.partitionBy(col("span_hash"))
          .orderBy(col(idCol), col("span_start"))))
      .select(col(idCol), col("span_start"), col("span_end"),
        col("span_words"), col("span_hash"),
        (col("_graft_rn") === 1).as("kept"))

  /** The keep-one strip's spans → verdicts step over a token frame:
    * [[crossDocSpans]] then [[dedupVerdicts]], the input every
    * keep-one consumer ([[applyKeepOne]], [[keepOneStripped]],
    * [[keepOneTokenFrame]]) reads alongside the same token frame.
    */
  private[graft] def keepOneVerdicts(toks: DataFrame, idCol: String,
      minWords: Int = 50, minDocs: Int = 2): DataFrame =
    dedupVerdicts(crossDocSpans(toks, idCol, minWords, minDocs), idCol)

  /** MATERIALIZE the keep-one policy — the step that actually emits
    * training data: re-slice every document's tokens dropping the words of
    * each `kept = false` span from [[dedupVerdicts]], leaving canonical
    * copies in place (vs [[DupSpans.stripDuplicatedSpans]]'s remove-all).
    * Returns one row per INPUT document (documents without removed spans
    * pass through whole): (idCol, n_tokens_before, n_tokens_after,
    * n_spans_removed, text_md5) with `text_md5` the md5 of the kept tokens
    * re-joined on single spaces (a fully-removed document hashes the empty
    * string).
    *
    * Scale shape: removed spans collect per document (bounded — islands
    * are disjoint, so a doc holds ≤ n_tokens/minWords of them) and join
    * the persisted token frame on the id; the strip is one per-row
    * indexed-filter HOF (token i survives iff no removed span covers i).
    * No shuffle beyond the one id-keyed join.
    */
  def applyKeepOne(toks: DataFrame, verdicts: DataFrame,
      idCol: String): DataFrame =
    keepOneTokens(toks, verdicts, idCol)
      .select(col(idCol), col("n_tokens_before"),
        size(col("_graft_kept")).cast("long").as("n_tokens_after"),
        col("n_spans_removed"),
        md5(array_join(col("_graft_kept"), " ")).as("text_md5"))

  /** [[applyKeepOne]] emitting the stripped TEXT itself (kept tokens
    * re-joined on single spaces) — the frame a downstream training-data
    * writer consumes, and what a re-run of [[crossDocSpans]] validates
    * (post-strip, every duplicated substring exists in one document only).
    */
  def keepOneText(toks: DataFrame, verdicts: DataFrame,
      idCol: String): DataFrame =
    keepOneTokens(toks, verdicts, idCol)
      .select(col(idCol), array_join(col("_graft_kept"), " ").as("text"))

  /** The kept TOKEN ARRAYS themselves — (idCol, `_graft_toks`), the
    * [[tokenFrame]] column convention — for a consumer that gram-indexes
    * or re-slices the post-strip corpus
    * ([[DupSpans.gramStartsFromTokens]]): skips the
    * rebuild-text-then-retokenize round trip of [[keepOneText]], which is
    * exact anyway (tokens joined on single spaces re-split identically).
    */
  def keepOneTokenFrame(toks: DataFrame, verdicts: DataFrame,
      idCol: String): DataFrame =
    keepOneTokens(toks, verdicts, idCol)
      .select(col(idCol), col("_graft_kept").as("_graft_toks"))

  /** [[keepOneText]] and [[applyKeepOne]] in ONE strip pass: the stripped
    * text plus the removal audit columns, for a consumer (the
    * [[graft.storage.CorpusStore]] sink) that stores both.
    */
  def keepOneStripped(toks: DataFrame, verdicts: DataFrame,
      idCol: String): DataFrame =
    keepOneTokens(toks, verdicts, idCol)
      .select(col(idCol), array_join(col("_graft_kept"), " ").as("text"),
        col("n_tokens_before"),
        size(col("_graft_kept")).cast("long").as("n_tokens_after"),
        col("n_spans_removed"))

  private def keepOneTokens(toks: DataFrame, verdicts: DataFrame,
      idCol: String): DataFrame = {
    val removed = verdicts.filter(!col("kept"))
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e"))).as("_graft_rm"))
    toks.join(removed, Seq(idCol), "left")
      .select(col(idCol), col("_graft_toks"),
        coalesce(col("_graft_rm"),
          array().cast("array<struct<s:long,e:long>>")).as("_graft_rm"))
      .select(col(idCol),
        size(col("_graft_toks")).cast("long").as("n_tokens_before"),
        filter(col("_graft_toks"), (_, i) =>
          !exists(col("_graft_rm"),
            sp => i.cast("long") >= sp.getField("s") &&
              i.cast("long") <= sp.getField("e"))).as("_graft_kept"),
        size(col("_graft_rm")).cast("long").as("n_spans_removed"))
  }
}
