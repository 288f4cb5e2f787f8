package graft.textops

import graft.functions.VectorOps.dot
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Doc -> k-dimensional embedding producer (M1) — the deterministic
  * stand-in for the reference's Doc2Vec stage
  * (create_field/compute_similarity_features.py:68-97: vector_size=2
  * gensim Doc2Vec over tokenized title+abstract, title weighted by
  * repetition, English stopwords removed; downstream contract: one small
  * dense vector per doc, cosine similarity between edge endpoints).
  *
  * Design: hashing projection. Each token deterministically maps to a
  * point in [-1,1)^k via an md5-derived hash per dimension (SQL-
  * reproducible, same trick as Dedup.md5Hash60); the doc embedding is the
  * token-frequency-weighted sum. This preserves every property the
  * pipeline uses — deterministic, fixed-k, cosine-comparable, similar
  * token multisets => similar vectors — without a learned model (no ML
  * libs in a zero-egress engine; the projection seam swaps for a real
  * encoder by replacing ONE column expression).
  *
  * Scale: pure Catalyst (split + higher-order aggregate), fully codegen'd,
  * no shuffle — embarrassingly parallel over 10^12 rows.
  */
object Embedding {

  /** NLTK-style English stopword core (the reference filters
    * stopwords.words('english'); we pin an explicit subset so results are
    * engine-independent).
    */
  val Stopwords: Seq[String] = Seq(
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "from",
    "had", "has", "have", "he", "her", "his", "i", "if", "in", "is", "it",
    "its", "no", "not", "of", "on", "or", "she", "so", "that", "the",
    "their", "them", "then", "there", "these", "they", "this", "to", "was",
    "we", "were", "what", "when", "which", "who", "will", "with", "you")

  /** gensim utils.tokenize analog: lowercase, alphabetic runs only,
    * stopwords removed.
    */
  def tokens(text: Column): Column =
    filter(
      split(lower(text), "[^a-z]+"),
      t => length(t) > 0 && !t.isInCollection(Stopwords)
    )

  /** Per-token coordinate in [-1,1) for dimension `dim`:
    * md5Hash60(token, seed*131+dim) / 2^60 * 2 - 1.
    */
  def tokenCoord(tok: Column, dim: Int, seed: Int): Column =
    Dedup.md5Hash60(tok, seed * 131 + dim).cast("double") /
      lit(1152921504606846976.0) * lit(2.0) - lit(1.0)

  /** k-dim embedding of a text column: sum of token coordinates
    * (token frequency weighting falls out of summing the raw token list,
    * duplicates included — mirroring the reference's repeated-title
    * weighting, compute_similarity_features.py:54).
    */
  def embed(text: Column, dims: Int = 2, seed: Int = 7): Column =
    array((0 until dims).map { j =>
      aggregate(tokens(text), lit(0.0), (acc, t) => acc + tokenCoord(t, j, seed))
    }: _*)

  /** (id, embedding: array<double>) table from a document table. */
  def embedDocs(
      docs: DataFrame, dims: Int = 2, seed: Int = 7,
      idCol: String = "doc_id", textCol: String = "text"
  ): DataFrame =
    docs.select(col(idCol).as("id"), embed(col(textCol), dims, seed).as("embedding"))

  /** Cosine similarity of two array<double> columns. A zero-norm side
    * (e.g. a doc whose token set is empty) yields NaN — the observable
    * behavior of the reference's cos_sim, which divides by the norm
    * product unconditionally (extract_link_features.py:182-186, numpy
    * 0/0 -> np.nan); the downstream scorer imputes the NaN to -2
    * (LinkProb.imputed) just as the reference's SimpleImputer does.
    * (Spark 4 ANSI mode makes a literal 0/0 an error, so the NaN is
    * emitted explicitly.) Rank-ordering paths that need a total order
    * should use Similarity.cosine (0.0 guard).
    */
  def cosine(a: Column, b: Column): Column = {
    val normProd = sqrt(dot(a, a) * dot(b, b))
    when(normProd === 0.0, lit(Double.NaN)).otherwise(dot(a, b) / normProd)
  }
}
