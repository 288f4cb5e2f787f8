package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** M5 — topic word-probability merge + filter, the engine analog of
  * topic/merge_word.py:39-71 and topic/filter_word.py:14-20:
  *
  *  merge (per topic, in descending-probability order):
  *   - drop the reference's fixed unused-word list;
  *   - lemmatize each word (the reference uses WordNet; the engine ships
  *     a deterministic suffix-rule lemmatizer stand-in — no NLP corpus in
  *     a zero-egress build — including the reference's explicit
  *     "visualisation"->"visualization" special case);
  *   - fold into the running dict: if any EXISTING key CONTAINS the lemma
  *     as a substring, add this word's probability to that key (first
  *     such key in insertion order wins, merge_word.py:60-66), else
  *     insert (lemma -> prob);
  *   - re-sort descending by merged probability.
  *
  *  filter (filter_word.py:17-19): keep a topic's first 5 words
  *  unconditionally, then only words with prob >= 0.01.
  *
  * Scale: one row per topic with a (word, prob) list column; the fold is
  * per-topic sequential by definition (reference semantics), so it runs
  * as a per-row higher-order transform — topics are independent and
  * distribute freely.
  */
object TopicWords {

  val UnusedWords: Set[String] = Set(
    "the", "of", "and", "for", "on", "we", "to", "that", "this", "in",
    "was", "were", "a", "off", "be", "you")

  /** Deterministic suffix-rule lemmatizer stand-in (WordNet seam). */
  def lemma(word: String): String = {
    val w = word match {
      case "visualisation" => "visualization"
      case x => x
    }
    if (w.endsWith("ies") && w.length > 4) w.dropRight(3) + "y"
    else if (w.endsWith("sses")) w.dropRight(2)
    else if (w.endsWith("xes") || w.endsWith("ches") || w.endsWith("shes")) w.dropRight(2)
    else if (w.endsWith("s") && !w.endsWith("ss") && !w.endsWith("us") && w.length > 3) w.dropRight(1)
    else w
  }

  /** Pure per-topic merge (merge_word.py:48-67). Input in descending-prob
    * order; output re-sorted descending, ties by insertion order.
    */
  def mergeTopic(words: Seq[(String, Double)]): Seq[(String, Double)] = {
    val keys = scala.collection.mutable.ArrayBuffer.empty[String]
    val probs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    words.foreach { case (word, prob) =>
      if (!UnusedWords.contains(word)) {
        val res = lemma(word)
        keys.find(_.contains(res)) match {
          case Some(k) => probs(k) += prob
          case None => keys += res; probs(res) = prob
        }
      }
    }
    probs.toSeq.sortBy { case (w, p) => (-p, keys.indexOf(w)) }
  }

  /** filter_word.py:17-19: first 5 words always, then prob >= 0.01. */
  def filterTopic(words: Seq[(String, Double)], minKeep: Int = 5, minProb: Double = 0.01): Seq[(String, Double)] =
    words.zipWithIndex.collect { case ((w, p), i) if i < minKeep || p >= minProb => (w, p) }

  /** DataFrame form: (topicID, words: array<struct<word,prob>>) in, same
    * shape out after merge + filter.
    */
  def mergeAndFilter(topics: DataFrame,
                     idCol: String = "topicID", wordsCol: String = "words"): DataFrame = {
    val mergeUdf = udf { ws: Seq[org.apache.spark.sql.Row] =>
      filterTopic(mergeTopic(ws.map(r => (r.getString(0), r.getDouble(1)))))
    }
    topics.select(col(idCol), mergeUdf(col(wordsCol)).as(wordsCol))
  }
}
