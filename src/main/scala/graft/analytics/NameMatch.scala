package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

import java.text.Normalizer

/** Author-name deduplication: Unicode normalization, normalized
  * Levenshtein with length-band blocking, and the reference's token-based
  * `compare_name` similarity (create_field/match_author.py).
  *
  * Pipeline semantics (match_author.py:227-294):
  *  1. candidate pairs = all (i < j) with length-band filter
  *     |la − lb| / (la + lb) ≤ 0.1 (blocking — the only manual rewrite
  *     Catalyst can't invent, SURVEY.md §4);
  *  2. keep pairs with normalized edit distance
  *     lev(a,b) / (la + lb) ≤ 0.1;
  *  3. token similarity `compareName` > 0.96 → match.
  *
  * Scale: step 1 is a banded self-join on a length bucket key (never a raw
  * cross join); steps 2–3 are codegen'd/UDF filters on the surviving pairs.
  */
object NameMatch {

  /** NFKD normalize + strip combining marks: hajičová → hajicova
    * (match_author.py:20-24).
    */
  def nfkdStrip(s: String): String =
    Normalizer.normalize(s, Normalizer.Form.NFKD).replaceAll("\\p{M}", "")

  /** Plain Levenshtein distance (unit costs). */
  def levenshtein(a: String, b: String): Int = {
    val (s, t) = if (a.length <= b.length) (a, b) else (b, a)
    var prev = (0 to s.length).toArray
    var curr = new Array[Int](s.length + 1)
    var j = 0
    while (j < t.length) {
      curr(0) = j + 1
      var i = 0
      while (i < s.length) {
        curr(i + 1) =
          if (s.charAt(i) == t.charAt(j)) prev(i)
          else 1 + math.min(prev(i), math.min(prev(i + 1), curr(i)))
        i += 1
      }
      val tmp = prev; prev = curr; curr = tmp
      j += 1
    }
    prev(s.length)
  }

  /** python-Levenshtein `ratio`: indel-weighted similarity in [0,1]
    * (substitution cost 2), ratio = (la + lb − dist₂) / (la + lb).
    */
  def levenRatio(a: String, b: String): Double = {
    val lensum = a.length + b.length
    if (lensum == 0) return 1.0
    // dist with substitution cost 2 == lensum - 2 * LCS-ish matches
    var prev = (0 to a.length).toArray
    var curr = new Array[Int](a.length + 1)
    var j = 0
    while (j < b.length) {
      curr(0) = j + 1
      var i = 0
      while (i < a.length) {
        val sub = prev(i) + (if (a.charAt(i) == b.charAt(j)) 0 else 2)
        curr(i + 1) = math.min(sub, math.min(prev(i + 1), curr(i)) + 1)
        i += 1
      }
      val tmp = prev; prev = curr; curr = tmp
      j += 1
    }
    (lensum - prev(a.length)).toDouble / lensum
  }

  /** gensim-style preprocessing as configured by the reference
    * (match_author.py:18-27): lowercase, drop punctuation and digits,
    * NFKD de-accent, whitespace tokenize (no stemming, no stopwords,
    * min token length 1).
    */
  def preprocessName(s: String): Vector[String] = {
    val lower = s.toLowerCase
    val noPunct = lower.replaceAll("(?U)[^\\s\\w]", "")
    val noDigits = noPunct.replaceAll("[0-9_]", "")
    nfkdStrip(noDigits).split("\\s+").filter(_.nonEmpty).toVector
  }

  // --- pinyin segmentation (match_author.py:124-150) -------------------

  private val pinyinSet: Set[String] = {
    val finals = Seq("a","o","e","i","u","v","ai","ei","ui","ao","ou","iu","ie","ue","ve","an","en","in","un","vn","ang","eng","ing","ong","iang","uang","uan","ua","ian")
    val initials = Seq("b","p","m","f","d","t","n","l","g","k","h","j","q","x","zh","ch","sh","r","z","c","s","y","w")
    val extra = Seq("zhi","chi","shi","ri","zi","ci","si","yi","wu","yu","ye","yue","yuan","yin","yun","ying")
    (extra ++ (for (i <- initials; f <- finals) yield i + f)).toSet
  }

  /** Try to split a word into at most two pinyin syllables (greedy,
    * longest-first, ≤ 6 chars per syllable). Returns (parts, isPinyin);
    * on failure parts = [word]. Mirrors parse_pinyin2 exactly, including
    * its quirks (max two rounds; whole-word must be consumed).
    */
  def parsePinyin(word: String): (Vector[String], Boolean) = {
    var w = word
    var out = Vector.empty[String]
    var flag = true
    var rounds = 0
    var done = false
    while (rounds < 2 && !done) {
      var matched = ""
      var i = math.min(6, w.length)
      while (i > 1 && matched.isEmpty) {
        if (pinyinSet.contains(w.substring(0, i))) matched = w.substring(0, i)
        i -= 1
      }
      if (matched.isEmpty) {
        if (out.isEmpty) { flag = false; out = Vector(word); done = true }
        else done = true
      } else {
        out :+= matched
        if (matched.length == w.length) done = true else w = w.substring(matched.length)
      }
      rounds += 1
    }
    if (out.mkString != word) (Vector(word), false) else (out, flag)
  }

  /** Token-based name similarity (match_author.py:36-91): subset test →
    * 1.0; pinyin re-segmentation test → 1.0; per-token best-match with
    * initial/abbreviation (0.9), pinyin-equality (1.0) and
    * levenshtein-ratio penalties; leftover-token merge; final
    * 1 / (min_penalty + 1), capped at 1.0. Match threshold used by the
    * pipeline: > 0.96 (:294).
    */
  def compareName(name1: String, name2: String, levensimrate: Double = 0.7): Double = {
    val n1tb0 = preprocessName(name1).sortBy(t => -t.length)
    val n2tb0 = preprocessName(name2).sortBy(t => -t.length)
    if (n1tb0.toSet.subsetOf(n2tb0.toSet) || n2tb0.toSet.subsetOf(n1tb0.toSet)) return 1.0

    var pinyinFlag1 = true
    var pinyinFlag2 = true
    val n1py = n1tb0.flatMap { w =>
      val (tb, f) = parsePinyin(w)
      if (w.length != 1) pinyinFlag1 &&= f
      tb
    }
    val n2py = n2tb0.flatMap { w =>
      val (tb, f) = parsePinyin(w)
      if (w.length != 1) pinyinFlag2 &&= f
      tb
    }
    val pinyinFlag = pinyinFlag1 && pinyinFlag2
    if ((n1py.length != n1tb0.length || n2py.length != n2tb0.length) &&
        n1py.length == n2py.length && n1py.toSet == n2py.toSet && pinyinFlag) return 1.0

    var penalty1 = n1tb0.length.toDouble
    var penalty2 = n2tb0.length.toDouble
    val n2tb = scala.collection.mutable.ArrayBuffer(n2tb0: _*)
    val n1rest = scala.collection.mutable.ArrayBuffer(n1tb0: _*)
    for (word1 <- n1tb0) {
      var rmflag = ""
      var matched = false
      val it = n2tb.iterator
      while (it.hasNext && !matched) {
        val word2 = it.next()
        if (math.min(word1.length, word2.length) == 1 &&
            (word1.startsWith(word2) || word2.startsWith(word1)) &&
            pinyinFlag1 == pinyinFlag2) {
          rmflag = word2; penalty1 -= 0.9; penalty2 -= 0.9; matched = true
        } else if (parsePinyin(word1)._2 && parsePinyin(word2)._2) {
          if (word1 == word2) { penalty1 -= 1; penalty2 -= 1 }
          // no break — continue scanning (reference `pass`)
        } else if (levenRatio(word1, word2) >= levensimrate) {
          rmflag = word2
          penalty1 -= levenRatio(word1, word2)
          penalty2 -= levenRatio(word1, word2)
          matched = true
        }
      }
      if (rmflag.nonEmpty && n2tb.contains(rmflag)) {
        n2tb -= rmflag
        n1rest -= word1
      }
    }
    val rest1 = n1rest.mkString
    val rest2 = n2tb.mkString
    if (levenRatio(rest1, rest2) >= 0.9 && (!parsePinyin(rest1)._2 || !parsePinyin(rest2)._2)) {
      penalty1 -= levenRatio(rest1, rest2)
      penalty2 -= levenRatio(rest1, rest2)
    }
    val penalty = math.min(penalty1, penalty2) + 1
    math.min(1.0, 1.0 / penalty)
  }

  /** The pinyin syllable table, sorted — public so the DuckDB oracle can
    * embed the identical literal set.
    */
  def pinyinList: Seq[String] = pinyinSet.toSeq.sorted

  // --- Spark pipeline ---------------------------------------------------

  /** compareName as a column function (X3). */
  val similarityUdf: UserDefinedFunction = udf((a: String, b: String) => compareName(a, b))

  private val compareNameUdf = similarityUdf

  /** Normalized edit distance as a pure-Catalyst (codegen'd) expression —
    * Spark's built-in `levenshtein` replaces the former Scala UDF.
    */
  private def levNormCol(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.levenshtein(a, b).cast("double") /
      (length(a) + length(b)).cast("double")

  /** Candidate match pairs from an author table (id, name).
    * Returns (id1, id2, name1, name2, lev_dis, similarity) for pairs with
    * lev_dis ≤ maxLev and similarity > minSim.
    *
    * The length-band blocking |la−lb|/(la+lb) ≤ 0.1 implies
    * lb ∈ [la·9/11, la·11/9]; we bucket names by floor(log(len)/log(11/9))
    * so any qualifying pair shares a bucket or an adjacent one — a banded
    * equi self-join instead of a cross join.
    */
  /** Stages 1+2 only — the banded blocking join + normalized-edit-distance
    * prefilter, without the token-similarity UDF. Result set is provably
    * equal to a cross join with the same two filters (the log-bucket
    * banding over-covers the length band), so it is SQL-oracle-checkable.
    */
  def candidatePairs(
      authors: DataFrame, // columns: id, name
      maxLev: Double = 0.1
  ): DataFrame = {
    val base = math.log(11.0 / 9.0)
    val withBucket = authors
      .select(col("id"), col("name"), length(col("name")).as("len"))
      .withColumn("bucket", floor(log(col("len").cast("double")) / lit(base)).cast("int"))
    val a = withBucket.select(col("id").as("id1"), col("name").as("name1"), col("len").as("len1"), col("bucket"))
    val b = withBucket.select(col("id").as("id2"), col("name").as("name2"), col("len").as("len2"),
      explode(array(col("bucket"), col("bucket") - 1, col("bucket") + 1)).as("bucket"))
    a.join(b, "bucket")
      .filter(col("id1") < col("id2"))
      .filter(abs(col("len1") - col("len2")) / (col("len1") + col("len2")) <= 0.1)
      .withColumn("lev_dis", levNormCol(col("name1"), col("name2")))
      .filter(col("lev_dis") <= maxLev)
      .select("id1", "id2", "name1", "name2", "lev_dis")
  }

  /** The reference's author-match stage (match_author.py:235-294, SURVEY
    * §3.1 with X2 and X3): length-blocked candidate pairs within
    * normalized Levenshtein `maxLev`, kept when compare_name's similarity
    * exceeds `minSim` (the rows of match.csv).
    */
  def matchPairs(
      authors: DataFrame, // columns: id, name
      maxLev: Double = 0.1,
      minSim: Double = 0.96
  ): DataFrame = {
    candidatePairs(authors, maxLev)
      .withColumn("similarity", compareNameUdf(col("name1"), col("name2")))
      .filter(col("similarity") > minSim)
      .select("id1", "id2", "name1", "name2", "lev_dis", "similarity")
  }
}
