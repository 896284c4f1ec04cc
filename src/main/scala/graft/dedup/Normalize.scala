package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Normalization-aware exact dedup — the CCNet/Dolma pre-hash step: URL
  * lists, re-crawls, and boilerplate variants differ only in case,
  * punctuation, or whitespace, so hashing the RAW text undercounts
  * duplicates. Normalize first (casefold, strip punctuation to word
  * boundaries, collapse whitespace), hash the normalized form, and compare
  * the two groupings: the delta is exactly the duplication that raw exact
  * dedup misses.
  *
  * Portability: casefolding is an explicit ASCII `translate` (A-Z → a-z),
  * NOT `lower()` — engine Unicode tailoring can never disagree on a byte
  * mapping. The punctuation strip replaces every non-[a-z0-9 whitespace]
  * run with ONE space (so "foo.bar" → "foo bar", preserving the word
  * boundary), then whitespace collapses to single spaces and trims — all
  * RE2-safe regexes shared verbatim with the DuckDB oracle.
  *
  * Scale shape: normalization is per-row codegen'd string work; both group
  * sizes come from partial-agg'd `groupBy` on a hash-sized key (the md5 of
  * the normalized text, never the text itself, keeps the exchange narrow);
  * canonical selection is `min(doc_id)` inside the same aggregate — one
  * shuffle per grouping, no windows.
  */
object Normalize {

  private val Upper = ('A' to 'Z').mkString
  private val Lower = ('a' to 'z').mkString

  /** the shared normalization: ASCII casefold → punctuation→space →
    * whitespace collapse → trim */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(translate(text, Upper, Lower),
        "[^a-z0-9 \\t\\n\\r\\f]+", " "),
      "[ \\t\\n\\r\\f]+", " "))

  /** The exact-dedup group key: md5 of the UTF-8 bytes of the normalized
    * text (equal to `md5(normalizeText(text))`, whose implicit cast also
    * encodes UTF-8). Every normalized exact-dedup caller, batch and
    * streaming, groups on this one column; a null text hashes to null. */
  private[graft] def contentHash(text: Column): Column =
    md5(encode(normalizeText(text), "UTF-8"))

  /** The canonical document per normalized content hash: the min-`idCol`
    * row of each [[contentHash]] group, as `idCol` plus the `carried`
    * columns (and the hash as `keyAs`, when given). ONE narrow aggregate —
    * `min(struct(id, carried…))` picks the min-id row, since ids are
    * unique and a struct orders by its fields in order — so normalize+md5
    * runs once per document, nothing corpus-sized is persisted or joined
    * back, and the one exchange carries (hash, id, carried…), never text.
    * Callers that read the result more than once persist it.
    */
  private[graft] def canonicalDocs(docs: DataFrame, idCol: String,
      textCol: String, carried: Seq[String],
      keyAs: Option[String] = None): DataFrame = {
    val fields = (idCol +: carried).map(col)
    docs.select(fields :+ contentHash(col(textCol)).as("_graft_grp"): _*)
      .groupBy(col("_graft_grp"))
      .agg(min(struct(fields: _*)).as("_graft_c"))
      .select((idCol +: carried).map(f => col(s"_graft_c.$f").as(f)) ++
        keyAs.map(col("_graft_grp").as(_)): _*)
  }

  /** DuckDB twin of [[normalizeText]] over a SQL expression */
  def normalizeSql(expr: String): String =
    s"trim(regexp_replace(regexp_replace(translate($expr, '$Upper', '$Lower')," +
      s" '[^a-z0-9 \\t\\n\\r\\f]+', ' ', 'g'), '[ \\t\\n\\r\\f]+', ' ', 'g'))"

  /** Per-document dedup audit under raw vs normalized hashing:
    * (doc_id, raw_group_size, norm_group_size, is_canonical, revealed) —
    * `is_canonical` marks the min-id member of each NORMALIZED group (the
    * row a normalized exact dedup would keep), `revealed` the documents
    * whose duplication only normalization exposes.
    */
  def normalizedDedupAudit(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // ONE scan: the normalize regexp chain + both md5s are the dominant
    // cost at scale, and this frame feeds two aggregates plus the final
    // probe (the q62/q119 single-scan lesson)
    val base = df.select(col(idCol).cast("long").as("doc_id"),
        md5(col(textCol)).as("_graft_rh"),
        contentHash(col(textCol)).as("_graft_nh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rawGroups = base.groupBy(col("_graft_rh"))
      .agg(count(lit(1)).as("raw_group_size"))
    val normGroups = base.groupBy(col("_graft_nh"))
      .agg(count(lit(1)).as("norm_group_size"),
        min(col("doc_id")).as("_graft_canon"))
    base
      .join(rawGroups, "_graft_rh")
      .join(normGroups, "_graft_nh")
      .select(col("doc_id"), col("raw_group_size"), col("norm_group_size"),
        (col("doc_id") === col("_graft_canon")).as("is_canonical"),
        (col("norm_group_size") > col("raw_group_size")).as("revealed"))
  }
}
