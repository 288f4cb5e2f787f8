package graft.textops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: token counting, language
  * identification (stopword heuristic), quality scoring, document
  * fingerprinting. All pure Catalyst expressions (codegen'd; no UDFs).
  */
object TextAnalysis {

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column =
    size(filter(split(text, "\\s+"), t => t =!= ""))

  /** BPE-ish subword token count: GPT-2-style pretokenizer regex —
    * contractions, letter runs, digit runs, punctuation runs, whitespace
    * — each match ≈ one token.
    */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text,
      lit("""'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"""), lit(0)))

  /** Tiny per-language stopword marker sets for the n-gram/stopword
    * language-ID heuristic.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for", "with", "are"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu", "den", "von"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "des", "une", "dans", "que", "pour", "du"),
    "es" -> Seq("el", "la", "los", "las", "es", "una", "del", "que", "por", "con", "para", "como")
  )

  /** Per-language stopword hit count over lowercased whitespace tokens. */
  private def hits(text: Column, lang: String): Column = {
    val sw = array(stopwords(lang).map(lit): _*)
    size(filter(split(lower(text), "\\s+"), t => array_contains(sw, t)))
  }

  /** Language-ID: argmax of stopword hits; "und" (undetermined) when no
    * stopword matches at all. Deterministic ties: language order
    * en > de > fr > es.
    */
  def languageId(text: Column): Column = {
    val langs = Seq("en", "de", "fr", "es")
    val pairs = langs.map(l => struct(hits(text, l).as("h"), lit(l).as("l")))
    // left fold, first-wins on ties -> deterministic language priority
    val folded = pairs.reduceLeft { (a, b) => when(b.getField("h") > a.getField("h"), b).otherwise(a) }
    when(folded.getField("h") === 0, lit("und")).otherwise(folded.getField("l"))
  }

  /** Quality score in [0,1], unrounded: blend of length band, alpha
    * ratio, stopword density, and mean word length band — the usual cheap
    * heuristics for web-scrape filtering. Exactness-sensitive consumers
    * (the q_quality_fp driver check) apply their own bit-stable
    * quantization (`floor(raw*1e6 + 0.5)`) instead of decimal `round`,
    * whose half-tie handling is engine-specific.
    */
  def qualityScoreRaw(text: Column): Column = {
    val nChars = length(text)
    val toks = filter(split(text, "\\s+"), t => t =!= "")
    val nToks = size(toks)
    val alphaRatio = (length(regexp_replace(text, "[^\\p{L}]", "")) + lit(0.0)) /
      (nChars + lit(1.0))
    val swHits = hits(text, "en") + hits(text, "de") + hits(text, "fr") + hits(text, "es")
    val swDensity = least(swHits * lit(8.0) / (nToks + lit(1.0)), lit(1.0))
    val meanWordLen = (nChars + lit(0.0)) / (nToks + lit(1.0))
    val lenScore = when(nChars >= 200 && nChars <= 50000, 1.0)
      .when(nChars >= 50, 0.5).otherwise(0.1)
    val wordLenScore = when(meanWordLen >= 3 && meanWordLen <= 12, 1.0).otherwise(0.3)
    lenScore * 0.3 + alphaRatio * 0.3 + swDensity * 0.2 + wordLenScore * 0.2
  }

  /** Rolling polynomial fingerprint (Rabin-Karp style) of the normalized
    * text: fp = Σ c_i · 31^(n-1-i) mod 2^31-1, expressed with `aggregate`
    * over the char codes (modulus kept < 2^31 so the mul never overflows
    * a long under ANSI mode). Whitespace-normalized + lowercased first,
    * so formatting changes don't change the fingerprint.
    */
  def fingerprint(text: Column): Column = {
    val norm = regexp_replace(lower(text), "\\s+", " ")
    val codes = transform(split(norm, ""), c => ascii(c).cast("long"))
    val M = lit(2147483647L) // 2^31 - 1
    aggregate(codes, lit(0L), (acc, c) => pmod(pmod(acc * 31, M) + c, M))
  }

}
