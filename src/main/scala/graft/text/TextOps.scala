package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data text pipeline operators over the `documents` table
  * (doc_id, text, lang, source, n_chars). All pure `functions._` column
  * expressions — codegen'd, no UDFs in the hot path.
  */
object TextOps {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** The two token-count column expressions, defined ONCE — shared by the
    * per-table operators (q19/q50), the quality rules, and the
    * [[graft.web.Curation]] pipeline, so counting semantics cannot
    * silently diverge between the operator, the filter, and the committed
    * table. */
  def wsTokens(text: Column): Column = size(split(text, " "))
  def bpeTokens(text: Column): Column =
    size(regexp_extract_all(text, lit(BpePattern), lit(0)))

  /** Whitespace token count per document. */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      wsTokens(col("text")).as("n_tokens"))

  /** BPE-ish token count: letter runs, digit runs, and single
    * non-alphanumeric marks as separate tokens — the pre-tokenization a
    * byte-pair encoder applies before merges, so this tracks real LLM
    * token counts far better than whitespace splitting (digits and
    * punctuation inflate BPE counts; whitespace counting misses both).
    * One codegen regexp_extract_all per row; the pattern sticks to
    * character classes only so Java regex (Spark) and RE2 (DuckDB oracle)
    * agree byte-for-byte. */
  val BpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  def bpeTokenCount(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      bpeTokens(col("text")).cast("long").as("n_bpe_tokens"))

  /** Exact dedup: hash-groupBy on text, keep min doc_id as the canonical
    * representative. At 100 TB this is one shuffle on a 128-bit digest —
    * group on md5(text), never on the raw text bytes. */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** The quality signals, defined once for [[qualityScore]] (q21) and
    * [[qualityReason]] (q49, Curation): whitespace token count, mean token
    * length ×100 and "the" share in basis points, in integer math so the
    * DuckDB oracle hashes identically. */
  private def qualitySignals(text: Column, nChars: Column): (Column, Column, Column) = {
    val toks = wsTokens(text)
    (toks,
      floor(nChars * lit(100L) / toks),
      floor(size(filter(split(text, " "), _ === "the")) * lit(10000L) / toks))
  }

  /** Quality scoring: token count, mean token length, stopword-ish ratio in
    * basis points ([[qualitySignals]]). */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val (toks, meanX100, stopBp) = qualitySignals(col("text"), col("n_chars"))
    docs(spark, dir).select(
      col("doc_id"),
      toks.as("n_tokens"),
      meanX100.as("mean_tok_len_x100"),
      stopBp.as("stopword_bp"))
  }

  /** Composed document-quality FILTER (the C4/Gopher-style rule chain a
    * training pipeline runs before dedup): every doc gets keep/drop plus
    * the FIRST failing rule as its reject reason — the operational shape
    * (reason histograms drive threshold tuning; a bare boolean cannot).
    * Pure integer-math column expressions over the same signals as
    * [[qualityScore]], one narrow codegen pass, SQL-expressible (oracle
    * q49). Thresholds are parameters; defaults split the harness corpus
    * non-trivially. */
  def qualityFilter(spark: SparkSession, dir: String,
                    minTokens: Int = 30,
                    minMeanLenX100: Int = 300, maxMeanLenX100: Int = 900,
                    minStopwordBp: Int = 100): DataFrame = {
    val reason = qualityReason(col("text"), col("n_chars"),
      minTokens, minMeanLenX100, maxMeanLenX100, minStopwordBp)
    docs(spark, dir).select(
      col("doc_id"),
      reason.isNull.as("keep"),
      reason.as("reason"))
  }

  /** The rule chain itself, over any (text, n_chars) columns — shared by
    * [[qualityFilter]] (oracle q49) and the end-to-end
    * [[graft.web.Curation]] pipeline. NULL = keep; otherwise the first
    * failing rule's name. */
  def qualityReason(text: Column, nChars: Column,
                    minTokens: Int = 30,
                    minMeanLenX100: Int = 300, maxMeanLenX100: Int = 900,
                    minStopwordBp: Int = 100): Column = {
    val (toks, meanX100, stopBp) = qualitySignals(text, nChars)
    when(toks < minTokens, "too_short")
      .when(meanX100 < minMeanLenX100, "short_tokens")
      .when(meanX100 > maxMeanLenX100, "long_tokens")
      .when(stopBp < minStopwordBp, "low_stopword")
  }

  /** Language distribution (batch stats over the langid column). */
  def langDistribution(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).groupBy(col("lang")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("total_chars"))

  /** Heuristic n-gram language ID: score text against per-language marker
    * token sets and emit argmax. Deterministic, SQL-expressible (CASE chain)
    * so it stays inside whole-stage codegen. A real model would be a
    * broadcast n-gram table join; markers here stand in for the table. */
  def langIdHeuristic(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    def hits(words: Seq[String]) =
      size(filter(toks, t => words.map(w => t === w).reduce(_ || _)))
    docs(spark, dir).select(
      col("doc_id"), col("lang").as("lang_true"),
      hits(Seq("the", "a", "of")).as("en_hits"),
      hits(Seq("der", "und", "die")).as("de_hits"),
      hits(Seq("le", "la", "et")).as("fr_hits"))
  }

  /** Rolling-hash document fingerprint: order-sensitive 64-bit hash of the
    * token stream via rotate-xor folding — overflow-free under ANSI mode,
    * byte-stable content identity. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      aggregate(
        split(col("text"), " "),
        lit(1469598103934665603L), // FNV-1a offset basis
        (acc, tok) =>
          shiftleft(acc, 5).bitwiseOR(shiftrightunsigned(acc, 59))
            .bitwiseXOR(xxhash64(tok))).as("fp"))
}
