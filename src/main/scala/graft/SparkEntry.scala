package graft

import graft.analytics._
import graft.graph._
import graft.ingest.Edge
import graft.textops._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.collection.mutable

/** Driver contract: one `queries` entry per implemented operator
  * (SURVEY.md §2 + the training-data ops), with DuckDB-equivalent oracle
  * SQL in `oracleSql` wherever the operator is SQL-expressible.
  *
  * Conventions shared with the oracles:
  *  - double outputs rounded to 6 (or 4) decimals on BOTH sides;
  *  - counts cast to BIGINT on both sides;
  *  - every aggregate/computed column aliased identically on both sides.
  */
object SparkEntry {

  /** `make`'s value for `key`, kept with the input state `sig` it was made
    * at: a later call at the same state gets the kept value, a call at
    * another state makes it again and replaces it, so `m` holds one entry
    * per key. A None state (an input off the local file system) keeps
    * nothing. */
  private def kept[K, V](m: mutable.Map[K, (Any, V)], key: K, sig: Option[Any])(make: => V): V =
    m.synchronized {
      m.get(key).collect { case (at, v) if sig.contains(at) => v }.getOrElse {
        val v = make
        sig.foreach(at => m(key) = (at, v))
        v
      }
    }

  private val schemas = mutable.Map.empty[String, (Any, StructType)]

  /** Input table `name` of the sf dir, read with the schema inferred for
    * the same file state and session settings (inference runs a job to
    * read a footer, tens of ms warm). Key: the path, at its `fileSig`
    * (names, sizes, mtimes: a rewritten file is inferred again) and every
    * session setting (`spark.sql.parquet.binaryAsString` and others change
    * the inferred schema). JVM-wide: a new session over the same files
    * reuses the schema. */
  private[graft] def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = kept(schemas, path, fileSig(path).map((_, spark.conf.getAll)))(spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** Canonical path plus the name, size and mtime of every file under it;
    * None when nothing is at `path`. */
  private def fileSig(path: String): Option[String] = {
    def entries(f: java.io.File, name: String): Seq[String] =
      if (!f.isDirectory) Seq(s"|$name:${f.length}:${f.lastModified}")
      else Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(c => entries(c, s"$name/${c.getName}"))
    val root = new java.io.File(path)
    Option.when(root.exists())(root.getCanonicalPath + entries(root, ".").mkString)
  }

  /** Co-order part graph: undirected edge (a < b) when two parts appear
    * in the same order — the testdata stand-in for the citation edge
    * derivation (reference J1, create_field/graph.py:28-33). One
    * materialized Dataset per session and lineitem state (`memo`), so the
    * graph leaves share it and its grids (`GridLoop.withGrid`).
    */
  private def partEdges(s: SparkSession, d: String): Dataset[Edge] = memo(s, "part_edges", d, Seq("lineitem")) {
    import s.implicits._
    val li = t(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey")).distinct()
    li.select(col("l_orderkey"), col("l_partkey").as("a"))
      .join(li.select(col("l_orderkey"), col("l_partkey").as("b")), "l_orderkey")
      .filter(col("a") < col("b"))
      .select(col("a").as("src"), col("b").as("dst"))
      .distinct()
      .as[Edge].localCheckpoint(true)
  }

  /** Flagship: PageRank over the derived co-order part graph (sf0.001),
    * top-10 by rank with stable tiebreak. Exercises ingest-style edge
    * derivation + the iterative engine end-to-end.
    */
  def entry(spark: SparkSession): DataFrame = {
    val r = PageRank.run(partEdges(spark, "/root/testdata/sf0.001"), PageRankConfig(tol = 1e-6, maxIter = 60))
    r.ranks.orderBy(desc("rank"), col("id")).limit(10)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- scans, aggregations (S3, A1, A2) -------------------------------
    "q_agg_pricing" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 4).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("n")
        )
    }),
    // --- 3-way join (J1/J2) ---------------------------------------------
    "q_join3_nation" -> ((s, d) => {
      t(s, d, "orders")
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 4).as("total"))
    }),
    // --- semi join (F2) ----------------------------------------------------
    "q_semi_join" -> ((s, d) => {
      val big = t(s, d, "orders").filter(col("o_totalprice") > 100000).select(col("o_orderkey"))
      t(s, d, "lineitem")
        .join(big, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"))
    }),
    // --- anti join (F3) ----------------------------------------------------
    "q_anti_join" -> ((s, d) => {
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"))
    }),
    // --- left join + fill (J3) ---------------------------------------------
    "q_left_join_fill" -> ((s, d) => {
      val cnt = t(s, d, "orders").groupBy(col("o_custkey")).agg(count(lit(1)).as("c"))
      t(s, d, "customer")
        .join(cnt, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), coalesce(col("c"), lit(0L)).as("n_orders"))
    }),
    // --- tie-inclusive top-k (W1) -------------------------------------------
    "q_topk_ties" -> ((s, d) => {
      val spend = t(s, d, "orders").groupBy(col("o_custkey"))
        .agg(round(sum(col("o_totalprice")), 4).as("spend"))
      TopK.withTies(spend, "spend", 10)
    }),
    // --- deterministic HLL cardinality sketch (scaled-integer registers) ----
    "q_hll_distinct" -> ((s, d) => {
      import graft.functions.Sketches
      val li = t(s, d, "lineitem")
      val est = Sketches.hllEstimate(Sketches.hllRegisters(li, col("l_orderkey")))
      val exact = li.agg(count_distinct(col("l_orderkey")).as("n_exact"))
      est.crossJoin(exact)
    }),
    // --- deterministic bottom-k uniform sample ------------------------------
    "q_det_sample" -> ((s, d) => {
      import graft.functions.Sketches
      Sketches.deterministicSample(
        t(s, d, "customer").select(col("c_custkey"), col("c_name")),
        col("c_custkey"), 20)
    }),
    // --- per-group tie-inclusive head-k (W5) --------------------------------
    "q_head_k" -> ((s, d) => {
      TopK.withTiesPerGroup(
        t(s, d, "customer").select(col("c_nationkey"), col("c_custkey"), col("c_acctbal")),
        Seq("c_nationkey"), "c_acctbal", 5)
    }),
    // --- h-index (A8) ---------------------------------------------------------
    "q_hindex" -> ((s, d) => {
      val cites = t(s, d, "lineitem").groupBy(col("l_orderkey")).agg(count(lit(1)).as("c"))
        .join(t(s, d, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
      HIndex.perGroup(cites, "o_custkey", "c")
    }),
    // --- window running sum (W3) ------------------------------------------------
    "q_window_cumsum" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        round(sum(col("o_totalprice")).over(w), 4).as("running")
      )
    }),
    // --- gap-filled year series (T1) ----------------------------------------------
    "q_gap_fill" -> ((s, d) => {
      val yrs = t(s, d, "orders")
        .select(col("o_custkey").as("paperID"), year(col("o_orderdate")).as("year"))
      TimeSeries.gapFilledSeries(yrs)
        .select(col("paperID").as("o_custkey"), col("citeStartYear"),
          posexplode(col("citationCountByYear")).as(Seq("pos", "cnt")))
        .select(col("o_custkey"), (col("citeStartYear") + col("pos")).cast("long").as("year"),
          col("cnt").cast("long").as("n_orders"))
    }),
    // --- distinct / dedup (A6) ----------------------------------------------------
    "q_distinct_pairs" -> ((s, d) =>
      t(s, d, "lineitem").select(col("l_partkey"), col("l_suppkey")).distinct()),
    // --- union + dedup (U2/U3) -------------------------------------------------------
    "q_union_nodes" -> ((s, d) => {
      t(s, d, "customer").select(col("c_nationkey").cast("long").as("nationkey"))
        .union(t(s, d, "supplier").select(col("s_nationkey").cast("long").as("nationkey")))
        .distinct()
    }),
    // --- histogram (A7) + date func (X8) ------------------------------------------------
    "q_hist_year_priority" -> ((s, d) => {
      t(s, d, "orders")
        .groupBy(year(col("o_orderdate")).cast("long").as("y"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
    }),
    // --- distribution stats (A9) ----------------------------------------------------------
    "q_stats_disc" -> ((s, d) => {
      val c = col("l_discount")
      t(s, d, "lineitem").agg(
        count(lit(1)).as("n"),
        round(avg(when(c === 0.0, 1.0).otherwise(0.0)), 6).as("p_zero"),
        round(avg(when(c >= 0.05, 1.0).otherwise(0.0)), 6).as("p_ge_half_decile"),
        round(avg(c), 6).as("mean"),
        round(var_pop(c), 6).as("variance"),
        round(expr("percentile(l_discount, 0.5)"), 6).as("median")
      )
    }),
    // --- common-neighbor metrics (A10) ------------------------------------------------------
    "q_common_neighbors" -> ((s, d) => {
      val keys = t(s, d, "part").filter(col("p_partkey") <= 40).select(col("p_partkey"))
      // Pre-filter the adjacency to the pair endpoints before the metric
      // joins (guide §3.2): every metric term reads only rows whose node
      // is one of the 40 keys, so the broadcast semi join drops ~99.8% of
      // lineitem rows ahead of the distinct/degree shuffles. Results are
      // identical — degrees are per-node and the pair joins are keyed on
      // the same node ids.
      val adj = t(s, d, "lineitem").select(col("l_partkey").as("node"), col("l_orderkey").as("nbr"))
        .join(broadcast(keys.select(col("p_partkey").as("node"))), Seq("node"), "left_semi")
      val pairs = keys.select(col("p_partkey").as("a"))
        .crossJoin(keys.select(col("p_partkey").as("b")))
        .filter(col("a") < col("b"))
      CommonNeighbors.metrics(adj, pairs)
        .filter(col("raw") > 0)
        .select(col("a"), col("b"), col("raw"),
          round(col("cosine"), 6).as("cosine"), round(col("jaccard"), 6).as("jaccard"))
    }),
    // --- triangle count ------------------------------------------------------------------------
    "q_triangle_count" -> ((s, d) =>
      // counted on the part graph's undirected CSR grid by sorted
      // successor-list intersection, listing no wedge (TriangleCount.count)
      TriangleCount.countDf(partEdges(s, d))),
    // --- connected components (exact SQL oracle via recursive closure) --------------------------
    "q_cc_parts" -> ((s, d) =>
      ConnectedComponents.run(partEdges(s, d)).components
        .select(col("id").cast("long").as("id"), col("component").cast("long").as("component"))),
    // --- PageRank (oracle: 20 unrolled Jacobi iterations in SQL) ----------------------------------
    "q_pagerank_parts" -> ((s, d) =>
      PageRank.run(partEdges(s, d), PageRankConfig(tol = 0.0, maxIter = 20)).ranks
        .select(col("id"), round(col("rank"), 6).as("rank"))),
    // --- CSR-block PageRank (scale path; same oracle semantics) -----------------------------------
    "q_pagerank_csr" -> ((s, d) =>
      CsrPageRank.run(partEdges(s, d), PageRankConfig(tol = 0.0, maxIter = 20)).ranks
        .select(col("id"), round(col("rank"), 6).as("rank"))),
    // --- label propagation (oracle: 10 unrolled sync votes in SQL) --------------------------------
    "q_lpa_parts" -> ((s, d) => LabelPropagation.run(partEdges(s, d), maxIter = 10).labels),
    // --- exact dedup ---------------------------------------------------------------------------------
    "q_dedup_exact" -> ((s, d) => Dedup.exact(t(s, d, "documents"))),
    // --- n-gram jaccard near-dup ------------------------------------------------------------------------
    "q_ngram_jaccard" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") < 100)
      Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.3)
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
    }),
    // --- minhash LSH (rows-only; verified in ScalaTest) -----------------------------------------------------
    "q_minhash_lsh" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") < 200)
      Dedup.minhashLshPairs(docs, n = 5, numHashes = 32, bands = 8, threshold = 0.5)
        .select(col("a"), col("b"), round(col("est_jaccard"), 6).as("est_jaccard"))
    }),
    // --- simhash signatures (rows-only; crc32 not available in DuckDB) ----------------------------------------
    "q_simhash" -> ((s, d) =>
      Dedup.simhash(t(s, d, "documents").filter(col("doc_id") < 500))),
    // --- token counting --------------------------------------------------------------------------------------------
    "q_token_counts" -> ((s, d) => {
      t(s, d, "documents").select(
        col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).cast("long").as("n_ws"),
        TextAnalysis.bpeTokenCount(col("text")).cast("long").as("n_bpe")
      )
    }),
    // --- language id -----------------------------------------------------------------------------------------------
    "q_lang_id" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"), TextAnalysis.languageId(col("text")).as("lang_id"))),
    // --- substring filter (F4/F5-style predicate) ------------------------------------------------------------------------
    "q_substr_filter" -> ((s, d) => {
      t(s, d, "documents")
        .filter(instr(lower(col("text")), "data") > 0)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"))
    }),
    // --- ANN: brute-force cosine top-k -------------------------------------------------------------------------------------
    "q_ann_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.bruteForceTopK(emb, queries, k = 5)
        .select(col("query_id"), col("vec_id"), col("rank").cast("long").as("rank"))
    }),
    // --- levenshtein pair mining (X2) -------------------------------------------------------------------------------------------
    "q_levenshtein_pairs" -> ((s, d) => {
      val p = t(s, d, "part").filter(col("p_partkey") <= 100)
        .select(col("p_partkey"), col("p_name"))
      p.select(col("p_partkey").as("a"), col("p_name").as("na"))
        .crossJoin(p.select(col("p_partkey").as("b"), col("p_name").as("nb")))
        .filter(col("a") < col("b"))
        .select(col("a"), col("b"), levenshtein(col("na"), col("nb")).cast("long").as("lev"))
        .filter(col("lev") <= 12)
    }),
    // --- band (ratio-range) join (F6) ----------------------------------------------------------------------------------------------
    "q_band_join" -> ((s, d) => {
      val sup = t(s, d, "supplier").select(col("s_suppkey"), col("s_acctbal"))
      val cus = t(s, d, "customer").select(col("c_custkey"), col("c_acctbal"))
      sup.join(cus,
        col("c_acctbal") >= col("s_acctbal") * 0.995 &&
        col("c_acctbal") <= col("s_acctbal") * 1.005 &&
        col("s_acctbal") > 0)
        .select(col("s_suppkey"), col("c_custkey"))
    }),
    // --- event-time bucketing ---------------------------------------------------------------------------------------------------------
    "q_events_hourly" -> ((s, d) => {
      t(s, d, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"), round(avg(col("value")), 6).as("avg_value"))
    }),
    // --- ordered join + group-concat (J6) -----------------------------------------------------------------------------------------------
    "q_group_concat" -> ((s, d) => {
      t(s, d, "lineitem")
        .join(t(s, d, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_orderkey"))
        .agg(
          array_join(
            transform(
              array_sort(collect_list(struct(col("l_linenumber"), col("p_name")))),
              x => x.getField("p_name")
            ), ", ").as("part_names")
        )
    }),
    // --- first-row-per-group (W2/W5) ----------------------------------------------------------------------------------------------------
    "q_first_per_group" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey").as("first_orderkey"),
          round(col("o_totalprice"), 4).as("first_total"))
    }),
    // --- M1: doc -> 2-d embedding producer ---------------------------------------------------------------------------------------------
    "q_embed" -> ((s, d) => {
      Embedding.embedDocs(t(s, d, "documents").filter(col("doc_id") < 300))
        .select(col("id").as("doc_id"),
          round(element_at(col("embedding"), 1), 6).as("e0"),
          round(element_at(col("embedding"), 2), 6).as("e1"))
    }),
    // --- all_features: SQL-expressible 11-feature block over a derived citation universe ----------------------------------------------
    "q_link_features" -> ((s, d) => {
      linkUniverse(s, d).features
        .select(
          col("citingpaperID"), col("citedpaperID"), col("authorID"),
          col("year_diff"), col("citing_paper_citationcount"), col("cited_paper_citationcount"),
          col("self_cite"), round(col("similarity"), 6).as("similarity"),
          col("raw_cocitation"), round(col("cosine_cocitation"), 6).as("cosine_cocitation"),
          round(col("jaccard_cocitation"), 6).as("jaccard_cocitation"),
          col("raw_bibcoupling"), round(col("cosine_bibcoupling"), 6).as("cosine_bibcoupling"),
          round(col("jaccard_bibcoupling"), 6).as("jaccard_bibcoupling"))
    }),
    // --- M2: edge_proba — logistic scorer with -2 imputation over the same universe ---------------------------------------------------
    "q_link_prob" -> ((s, d) => {
      LinkProb.edgeProba(linkUniverse(s, d).features)
        .select(col("citingpaperID"), col("citedpaperID"), col("authorID"),
          round(col("proba"), 6).as("proba"))
    }),
    // --- M2 nonlinear backend: extra-trees scorer over the same universe ---------------------------------------------------------------
    "q_link_prob_tree" -> ((s, d) => {
      LinkProb.scoreTree(linkUniverse(s, d).features, graft.analytics.TreeModel64.Model)
        .select(col("citingpaperID"), col("citedpaperID"), col("authorID"),
          round(col("proba"), 6).as("proba"))
    }),
    // --- T3-T5 driver check: full per-edge correlation bundle (Pearson + sliding-window + time-lag variants) over derived citation
    //     series with real (non-null) values — the event derivation is tuned so every semantic regime appears at sf0.01: dense papers
    //     (non-null correlations), peak-then-silence papers (tail truncation), late-start papers (start gate), sparse papers (total
    //     gate). Reference semantics: extract_link_features.py:56-180.
    "q_link_corr" -> ((s, d) => {
      val o = t(s, d, "orders").select(
        (col("o_orderkey") % 700).as("pid"),
        col("o_orderkey").as("ok"),
        year(col("o_orderdate")).cast("int").as("yr"))
      val ev = o.filter(
        when(col("pid") < 20, col("yr").isin(1995, 2001))
          .when(col("pid").between(30, 39), col("yr") >= 1999 && col("ok") % 4 =!= 3)
          .when(col("pid") >= 690, col("ok") % 11 === 0)
          .otherwise(col("ok") % 4 =!= 3))
        .select(col("pid").as("paperID"), col("yr").as("year"))
      val series = TimeSeries.gapFilledSeries(ev, "paperID", "year")
      val pids = series.select(col("paperID").as("pid"))
        .filter(col("pid") < 50 || col("pid") >= 690)
      val edges = pids.select(col("pid").as("citing"))
        .crossJoin(broadcast(pids.select(col("pid").as("cited"))))
        .filter(col("citing") =!= col("cited") &&
          (col("citing") * 31 + col("cited")) % 5 === 0)
      // cross_correlation may be a genuine NaN (zero variance, numpy
      // semantics); split it into a null + flag pair so the hash compare
      // is engine-portable. The window/lag variants are never NaN.
      TimeSeries.edgeFeatures(edges, series).select(
        col("citing"), col("cited"),
        round(when(isnan(col("cross_correlation")), lit(null))
          .otherwise(col("cross_correlation")), 6).as("cc"),
        isnan(col("cross_correlation")).cast("long").as("cc_nan"),
        round(col("window_cross_correlation"), 6).as("wcc"),
        round(col("negativetimelagged_cross_correlation"), 6).as("ntl"),
        round(col("timelagged_cross_correlation"), 6).as("tl"),
        round(col("window_negativetimelagged_cross_correlation"), 6).as("wntl"),
        round(col("window_timelagged_cross_correlation"), 6).as("wtl"))
    }),
    // --- X12: abstract prefix strip + dedup merge --------------------------------------------------------------------------------------
    "q_abstract_merge" -> ((s, d) => {
      val abs = t(s, d, "documents").select(
        (col("doc_id") % 100).as("paperID"),
        when(col("doc_id") % 3 === 0, concat(lit("Abstract "), col("text")))
          .otherwise(col("text")).as("abstract"))
      Abstracts.mergedPerPaper(abs)
    }),
    // --- venue fuzzy resolution (cascade: exact > contains > pattern rewrites) ---------------------------------------------------------
    "q_venue_match" -> ((s, d) => {
      val p = t(s, d, "part")
      val dim = p.select(col("p_partkey").as("id"), col("p_name").as("name"))
      val requests =
        p.filter(col("p_partkey").isin(1, 3)).select(col("p_name").as("original"))
          .union(p.filter(col("p_partkey").isin(8, 10))
            .select(element_at(split(col("p_name"), " "), 2).as("original")))
          .union(p.filter(col("p_partkey") === 9)
            .select(regexp_replace(col("p_name"), " ", "/").as("original")))
          .union(p.filter(col("p_partkey") === 2)
            .select(regexp_replace(col("p_name"), " ", "_").as("original")))
          .distinct()
      VenueMatch.resolve(requests, dim)
    }),
    // --- X7: scholar name reformatting --------------------------------------------------------------------------------------------------
    "q_scholar_names" -> ((s, d) => {
      val p = t(s, d, "part").filter(col("p_partkey") <= 200)
      val names = p.select(
        when(col("p_partkey") % 4 === 0, col("p_name")) // no comma: unchanged
          .otherwise(concat(
            element_at(split(col("p_name"), " "), 2), lit(", "),
            element_at(split(col("p_name"), " "), 1), lit(" "),
            col("p_brand"))).as("name")).distinct()
      ScholarNames.lookupKeys(names)
    }),
    // --- author-merge remap + stats recompute --------------------------------------------------------------------------------------------
    "q_author_merge" -> ((s, d) => {
      val pa = t(s, d, "orders").select(col("o_orderkey").as("paperID"), col("o_custkey").as("authorID"))
      val papers = t(s, d, "lineitem").groupBy(col("l_orderkey").as("paperID"))
        .agg(count(lit(1)).as("citationCount"))
      val custs = t(s, d, "customer").select(col("c_custkey"))
      val matches = custs.filter(col("c_custkey") % 10 === 7)
        .select((col("c_custkey") - 4).as("id1"), col("c_custkey").as("id2"))
      val (_, stats) = AuthorMerge(pa, papers, matches)
      stats.select(col("authorID"), col("PaperCount"), col("CitationCount"), col("hIndex"))
    }),
    // --- M5: topic word merge + filter (rows-only: per-topic substring fold is not SQL-expressible) ------------------------------------
    "q_topic_words" -> ((s, d) => {
      val toks = t(s, d, "documents")
        .select((col("doc_id") % 5).as("topicID"),
          explode(split(lower(col("text")), "[^a-z]+")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy(col("topicID"), col("word")).agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("topicID")).orderBy(col("n").desc, col("word"))
      val tot = Window.partitionBy(col("topicID"))
      val topics = toks
        .withColumn("rn", row_number().over(w))
        .withColumn("prob", col("n") / sum(col("n")).over(tot))
        .filter(col("rn") <= 20)
        .groupBy(col("topicID"))
        .agg(array_sort(collect_list(struct(col("rn"), col("word"), col("prob")))).as("ordered"))
        .select(col("topicID"),
          transform(col("ordered"), x => struct(x.getField("word").as("word"), x.getField("prob").as("prob"))).as("words"))
      TopicWords.mergeAndFilter(topics)
        .select(col("topicID"), explode(col("words")).as("wp"))
        .select(col("topicID"), col("wp._1").as("word"), round(col("wp._2"), 6).as("prob"))
    }),
    // --- S3/U5: CSV sink + glob-concat source round-trip ---------------------------------------------------------------------------------
    // Writes documents partitioned by lang as CSV (multiple files), reads
    // them back through a glob path (the reference's per-author file
    // concat, analysis/main.py:75), and aggregates — proving the CSV
    // source/sink and glob union preserve the data.
    "q_csv_roundtrip" -> ((s, d) => {
      val out = s"/tmp/graft_csv_roundtrip_${new java.io.File(d).getName}"
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        // cluster by the partition column before the write (guide §6:
        // small files hurt twice): one file per lang instead of
        // tasks x langs, so the glob read back lists/opens ~#langs files
        .repartition(col("lang"))
        .write.mode("overwrite").partitionBy("lang")
        .option("header", "true").csv(out)
      s.read.option("header", "true").option("inferSchema", "false").csv(s"$out/lang=*/")
        .select(col("doc_id").cast("long").as("doc_id"), col("n_chars").cast("long").as("n_chars"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("total_chars"),
          count_distinct(col("doc_id")).as("n_docs"))
    }),
    // --- F5: regex predicate (rlike) ------------------------------------------------------------------------------------------------------
    "q_regex_filter" -> ((s, d) => {
      t(s, d, "documents")
        .filter(col("text").rlike("(?i)\\bdata\\w*\\b"))
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
    }),
    // --- X2: banded name-match candidate pairs (blocking + normalized lev prefilter) ------------------------------------------------------
    "q_name_pairs" -> ((s, d) => {
      val authors = t(s, d, "part").filter(col("p_partkey") <= 400)
        .select(col("p_partkey").as("id"), col("p_name").as("name"))
      NameMatch.candidatePairs(authors, maxLev = 0.1)
        .select(col("id1"), col("id2"), round(col("lev_dis"), 6).as("lev_dis"))
    }),
    // --- X1: NFKD normalize + combining-mark strip (match_author.py:20-24). Accented inputs are derived deterministically from customer
    //     names (translate injects five distinct diacritic classes: acute, grave, circumflex, tilde, diaeresis), so the DuckDB
    //     strip_accents twin checks the de-accenting byte-for-byte. ------------------------------------------------------------------------
    "q_nfkd" -> ((s, d) => {
      val strip = udf((x: String) => NameMatch.nfkdStrip(x))
      t(s, d, "customer").filter(col("c_custkey") <= 500)
        .select(col("c_custkey"),
          translate(lower(col("c_name")), "aeiou", "áèîõü").as("accented"))
        .select(col("c_custkey"), col("accented"), strip(col("accented")).as("stripped"))
    }),
    // --- X3: compare_name token similarity (match_author.py:36-91), driver-checked end-to-end. Pair families are constructed so every
    //     branch of the algorithm fires on deterministic testdata-derived names: token-subset fast path (fam 0), single-letter initial
    //     match (fam 1), cross-name token replacement → unmatched leftovers (fam 2), in-token typo → fractional leven-ratio penalty
    //     (fam 3), pinyin re-segmentation fast path ("wei zhang" vs "weizhang"), pinyin-equality-without-removal quirk (differing
    //     surnames), and a typo'd surname that exercises the exact float penalty order (1/(2−10/11−1+1)). The DuckDB twin transcribes
    //     the FULL algorithm: preprocessing, stable length-sort, greedy 2-syllable pinyin parse over the literal syllable table,
    //     LCS-based indel ratio (recursive DP), the sequential scan/penalty loop (one micro-step per recursion row so float op order
    //     matches), and the leftover merge. ---------------------------------------------------------------------------------------------------
    "q_compare_name" -> ((s, d) => {
      val tk = split(col("p_name"), " ")
      val parts = t(s, d, "part").select(col("p_partkey"), col("p_name"), tk.as("tk"))
      val prev = parts.select((col("p_partkey") + 1).as("pk2"), element_at(col("tk"), 2).as("ptok"))
      val pp = parts.filter(col("p_partkey").between(2, 400))
        .join(prev, col("p_partkey") === col("pk2"))
        .select(col("p_partkey").as("id"), col("p_name").as("name1"),
          when(col("p_partkey") % 4 === 0,
            concat(upper(element_at(col("tk"), 2)), lit("#")))
          .when(col("p_partkey") % 4 === 1,
            concat_ws(" ", substring(element_at(col("tk"), 1), 1, 1), element_at(col("tk"), 2)))
          .when(col("p_partkey") % 4 === 2,
            concat_ws(" ", element_at(col("tk"), 1), col("ptok")))
          .otherwise(
            concat_ws(" ", concat(element_at(col("tk"), 1), lit("x")), element_at(col("tk"), 2)))
          .as("name2"))
      val givenNames = array(Seq("wei", "fang", "min", "jun", "lei", "na").map(lit): _*)
      val sur = array(Seq("zhang", "wang", "li", "zhao", "chen", "yang").map(lit): _*)
      val gi = (col("c_custkey") % 6 + 1).cast("int")
      val si = (expr("(c_custkey % 36) div 6") + 1).cast("int")
      val s2i = (expr("((c_custkey % 36) div 6 + 1) % 6") + 1).cast("int")
      val cust = t(s, d, "customer").filter(col("c_custkey") <= 150)
        .select((col("c_custkey") + 10000).as("id"),
          concat_ws(" ", element_at(givenNames, gi), element_at(sur, si)).as("name1"),
          when(col("c_custkey") % 2 === 0,
            concat(element_at(givenNames, gi), element_at(sur, si)))
          .when(col("c_custkey") % 4 === 1,
            concat_ws(" ", element_at(givenNames, gi), element_at(sur, s2i)))
          .otherwise(
            concat_ws(" ", element_at(givenNames, gi), concat(element_at(sur, si), lit("x"))))
          .as("name2"))
      pp.unionByName(cust)
        .select(col("id"), col("name1"), col("name2"),
          round(NameMatch.similarityUdf(col("name1"), col("name2")), 6).as("similarity"))
    }),
    // --- J7: union of two different-key joins ----------------------------------------------------------------------------------------------
    "q_union_two_joins" -> ((s, d) => {
      val nation = t(s, d, "nation").select(col("n_nationkey"), col("n_name"))
      val a = t(s, d, "supplier").join(nation, col("s_nationkey") === col("n_nationkey"))
        .select(col("n_name"), lit("supplier").as("kind"))
      val b = t(s, d, "customer").join(nation, col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), lit("customer").as("kind"))
      a.union(b).groupBy(col("n_name"), col("kind")).agg(count(lit(1)).as("n"))
    }),
    // --- per-author graph JSON export. The comparable columns are PARSED
    // BACK OUT of the produced JSON (node count, edge count, edge-prob
    // sum), so the DuckDB base-table oracle verifies the export is
    // well-formed and content-complete while the exact string formatting
    // stays engine-specific. ------------------------------------------------------------------------------------------------------------
    "q_export_graph" -> ((s, d) => {
      val links = linkUniverse(s, d).edges.select(
        col("authorID"), col("citingpaperID").as("childrenID"),
        col("citedpaperID").as("parentID"),
        (col("citingpaperID") % 100 / 100.0).as("extendsProb"))
      val papers = t(s, d, "orders").select(
        col("o_custkey").as("authorID"), col("o_orderkey").as("paperID"),
        (col("o_orderkey") % 2).cast("double").as("isKeyPaper"))
      val g = GraphExport.perAuthorJson(links, papers, minProb = 0.3)
      val edgesSchema = org.apache.spark.sql.types.DataType.fromDDL(
        "array<struct<source:bigint,target:bigint,prob:double>>")
      val parsedEdges = from_json(get_json_object(col("graph_json"), "$.edges"), edgesSchema)
      g.select(
        col("authorID"),
        size(json_object_keys(get_json_object(col("graph_json"), "$.nodes"))).cast("long").as("n_nodes"),
        size(parsedEdges).cast("long").as("n_edges"),
        round(aggregate(parsedEdges, lit(0.0), (acc, x) => acc + x.getField("prob")), 6).as("sum_prob"))
    }),
    // --- isKeyPaper end-to-end: W3/W4 coupled prefix sums + windowed-max
    // supervisor rate, with the 1.0 first-author and 1/authorOrder
    // fallback paths (compute_key_papers.py:107-206,231-259) --------------------------------------------------------------------------
    "q_key_papers" -> ((s, d) =>
      keyPapersResult(s, d).select(col("authorID"), col("paperID"),
        col("year").cast("long").as("year"),
        col("authorOrder").cast("long").as("authorOrder"),
        round(col("isKeyPaper"), 6).as("isKeyPaper"))),
    // --- distribution stats over the isKeyPaper product (analyse_distribution.py:22-42) ----------------------------------------------
    "q_key_papers_dist" -> ((s, d) => {
      val v = round(col("isKeyPaper"), 6)
      keyPapersResult(s, d).agg(
        count(lit(1)).as("n"),
        round(avg(when(v === 0.0, 1.0).otherwise(0.0)), 6).as("p_zero"),
        round(avg(when(v > 0.0 && v < 1.0, 1.0).otherwise(0.0)), 6).as("p_mid"),
        round(avg(when(v === 1.0, 1.0).otherwise(0.0)), 6).as("p_one"),
        round(avg(when(v >= 0.5, 1.0).otherwise(0.0)), 6).as("p_ge_half"),
        round(avg(v), 6).as("mean"),
        round(var_samp(v), 6).as("variance"),
        round(expr("percentile(round(isKeyPaper, 6), 0.5)"), 6).as("median"))
    }),
    // --- S5: keyed upsert (REPLACE INTO analog) through the atomic version-pointer commit, read back through the pointer -------------
    "q_upsert" -> ((s, d) => {
      val dir = s"/tmp/graft_upsert_${new java.io.File(d).getName}"
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true) // fresh table each run
      val base = t(s, d, "documents").select(col("doc_id"), col("n_chars"))
      sources.TableUpsert.upsert(s, dir, base, Seq("doc_id"))
      val updates = t(s, d, "documents").filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), (col("n_chars") + 1000).as("n_chars"))
      sources.TableUpsert.upsert(s, dir, updates, Seq("doc_id"))
      sources.TableUpsert.read(s, dir).get
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("total_chars"))
    }),
    // --- X10: HSV -> RGB hex over the topic-layout color wheel (vis/process.py:38-67, color_topic.py:26-32) --------------------------
    // x/y derived deterministically from part keys; hue = atan2 angle,
    // saturation = distance over the table max, hex via the engine's
    // hsvToHex. The oracle replicates the piecewise HSV sextant math in
    // pure SQL — sextant-boundary hues (multiples of 60) are color-
    // continuous, so ulp-level libm differences cannot flip a byte.
    "q_hsv_hex" -> ((s, d) => {
      val base = t(s, d, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey"),
          (col("p_partkey") % 21 - lit(10)).cast("double").as("x"),
          (col("p_partkey") % 17 - lit(8)).cast("double").as("y"))
        .filter(col("x") =!= 0.0 || col("y") =!= 0.0)
      val mx = base.agg(max(sqrt(col("x") * col("x") + col("y") * col("y"))).as("maxNorm"))
      val j = base.crossJoin(broadcast(mx))
      val (h, sat, v) = graft.functions.ColorFunctions.xyToHsv(col("x"), col("y"), col("maxNorm"))
      j.select(col("p_partkey"), round(h, 6).as("hue"), round(sat, 6).as("sat"),
        graft.functions.ColorFunctions.hsvToHexUdf(h, sat, v).as("hex"))
    }),
    // --- X11: embedded-JSON inverted index -> abstract text (utils/extract_abstract.py:12-36) ---------------------------------------
    // The engine path builds the REAL OpenAlex-style JSON inverted index
    // from each document (word -> positions), then round-trips it:
    // to_json -> parseInvertedIndex (from_json) -> invertedIndexToText
    // (explode/sort/join, pure Catalyst). Reconstruction inverts
    // inversion, so the oracle is the whitespace-normalized text — any
    // position-ordering or duplicate-word bug breaks the hash.
    "q_inverted_abstract" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("text"))
        .filter(trim(col("text")) =!= "")
      val toks = docs
        .select(col("doc_id"), posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "word")))
        .filter(col("word") =!= "")
      val inv = toks
        .groupBy(col("doc_id"), col("word"))
        .agg(sort_array(collect_list(col("pos"))).as("positions"))
        .groupBy(col("doc_id"))
        .agg(map_from_entries(sort_array(collect_list(struct(col("word"), col("positions"))))).as("m"))
      inv.select(col("doc_id"), to_json(col("m")).as("inv_json"))
        .select(col("doc_id"),
          sources.SemiStructured.invertedIndexToText(
            sources.SemiStructured.parseInvertedIndex(col("inv_json"))).as("rebuilt"))
    }),
    // --- S8: N-Triples multi-line parser, driver-checked end-to-end. Each supplier renders to a 3-triple block whose third triple's
    //     literal embeds a REAL newline (so the record spans two physical lines — exercises mergeTripleLines) plus a ^^<datatype>
    //     suffix (exercises the literal-suffix strip). The lines feed the production merger+parser on one ordered partition (= one
    //     file, the reference's per-file framing); the DuckDB twin states what a correct parse must recover straight from the table. --
    "q_ntriples" -> ((s, d) => {
      import s.implicits._
      val blocks = t(s, d, "supplier").filter(col("s_suppkey") <= 200)
        .select(col("s_suppkey").as("k"),
          concat(
            lit("<urn:sup:"), col("s_suppkey").cast("string"), lit("> <urn:p:name> \""), col("s_name"), lit("\" .\n"),
            lit("<urn:sup:"), col("s_suppkey").cast("string"), lit("> <urn:p:nation> <urn:nat:"), col("s_nationkey").cast("string"), lit("> .\n"),
            lit("<urn:sup:"), col("s_suppkey").cast("string"), lit("> <urn:p:contact> \""), col("s_name"), lit("\nnation "), col("s_nationkey").cast("string"),
            lit("\"^^<urn:t:text> .")).as("block"))
      val lines = blocks.repartition(1).sortWithinPartitions(col("k"))
        .select(explode(split(col("block"), "\n")).as("value")).as[String]
      sources.SemiStructured.parseTriples(sources.SemiStructured.mergeTripleLines(lines))
    }),
    // --- ANN random-hyperplane LSH (banded sign-bit signatures + exact cosine re-rank). The oracle is GENERATED from the identical
    //     md5-derived plane constants (same pattern as the tree scorer's CASE oracle), recomputing signatures, the band-bucket equi
    //     join, and the re-rank in SQL. Rank output only (like q_ann_topk): integer-exact against fp noise. ---------------------------
    "q_ann_lsh" -> ((s, d) => {
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.lshTopK(emb, queries, k = 5, dim = 64, numPlanes = 16, bands = 4)
        .select(col("query_id"), col("vec_id"), col("rank").cast("long").as("rank"))
    }),
    // --- M4: deterministic Lloyd k-means over integer-valued 2-d points (exact BIGINT centroid sums -> bit-reproducible trajectory);
    //     the DuckDB twin unrolls the same 2 iterations + final assignment as materialized CTEs. -----------------------------------------
    "q_kmeans" -> ((s, d) => {
      val pts = t(s, d, "customer").filter(col("c_custkey") <= 500)
        .select(col("c_custkey").as("id"),
          (col("c_custkey") * 13 % 97).cast("double").as("x"),
          (col("c_custkey") * 29 % 89).cast("double").as("y"))
      Clustering.lloydXY(pts, k = 4, iters = 2)
        .select(col("id"), col("x"), col("y"), col("cluster").cast("long").as("cluster"))
    }),
    // --- ANN IVF-Flat, driver-checked end-to-end (VERDICT r5 #4): integer-coordinate embeddings (the q_kmeans trick) + the
    //     bit-deterministic N-dim Lloyd quantizer (BIGINT centroid sums) feed the PRODUCTION ivfSearch path — broadcast-centroid argmin
    //     assignment, nprobe cell probing, exact-cosine re-rank — with normalize=false so every float transcribes op-for-op to the
    //     DuckDB twin (which re-derives the same centroids from unrolled CTEs). Rank-only output. -------------------------------------------
    "q_ann_ivf" -> ((s, d) => {
      val primes = Seq(3, 7, 11, 17, 23, 31, 43, 59)
      val mods = Seq(97, 89, 83, 79, 73, 71, 67, 61)
      val emb = t(s, d, "customer").filter(col("c_custkey") <= 400)
        .select(col("c_custkey").as("vec_id"),
          array(primes.zip(mods).map { case (p, m) =>
            (lit(1) + (col("c_custkey") * p) % m).cast("double") }: _*).as("embedding"))
      val cents = Clustering.lloydND(
        emb.select(col("vec_id").as("id"), col("embedding").as("e")), k = 4, iters = 2)
      val queries = emb.filter(col("vec_id") <= 3)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.ivfSearch(emb, queries, k = 5, centroids = cents, nprobe = 2, normalize = false)
        .select(col("query_id"), col("vec_id"), col("rank").cast("long").as("rank"))
    }),
    // --- Multimodal image path, driver-checked end-to-end (VERDICT r5 #5): deterministic cell-painted PNGs (pure-integer pixel
    //     formulas) go through the REAL ImageIO decode inside Multimodal.extractFeatures (size-balanced repartition + per-partition
    //     batches); the luminance-grid features are then an exact closed-form function of (id, w, h) the DuckDB twin recomputes
    //     without PNG bytes. Per-cell pixel counts are the decode loop's actual fold lengths, transcribed term-for-term. ------------------
    "q_media_features" -> ((s, d) => {
      val mk = udf((id: Long, w: Int, h: Int) => Multimodal.syntheticCellPng(id, w, h))
      val rows = t(s, d, "supplier").filter(col("s_suppkey") <= 120)
        .select(col("s_suppkey").cast("long").as("media_id"),
          lit("image").as("kind"),
          mk(col("s_suppkey").cast("long"),
            (lit(8) + lit(8) * pmod(col("s_suppkey"), lit(2))).cast("int"),
            when(pmod(col("s_suppkey"), lit(3)) === 0, lit(8)).otherwise(lit(4)).cast("int")).as("media"),
          concat(lit("synth-png://"), col("s_suppkey")).as("source"))
      val feats = Multimodal.extractFeatures(rows).toDF()
      val outCols = Seq(
        col("media_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height")) ++
        (0 until 8).map(j => round(element_at(col("feature"), j + 1).cast("double"), 6).as(s"f$j"))
      feats.select(outCols: _*)
    }),
    // --- Skew primitives, driver-checked for value-identity: salting must be invisible in the RESULT. Quantities cast to long so the
    //     two-phase sum is order-proof (integer-valued TPC-H quantities). --------------------------------------------------------------------
    "q_salted_agg" -> ((s, d) => {
      val li = t(s, d, "lineitem").select(
        col("l_partkey").as("pk"), col("l_quantity").cast("long").as("qty"), col("l_orderkey"))
      graph.Skew.saltedSum(li, col("pk"), col("qty"), salts = 8, saltSource = col("l_orderkey"))
    }),
    "q_salted_join" -> ((s, d) => {
      val li = t(s, d, "lineitem").select(
        col("l_partkey").as("pk"), col("l_quantity").cast("long").as("qty"), col("l_orderkey"))
      val dim = t(s, d, "part").select(col("p_partkey").as("pk"), col("p_brand"))
      graph.Skew.saltedJoin(li, dim, "pk", salts = 8, saltSource = col("l_orderkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), sum(col("qty")).as("tq"))
    }),
    // --- quality scoring + document fingerprint, driver-checked end-to-end (VERDICT r5: last spec-only text-analysis
    //     components). The quality blend is quantized to integer micro-units via floor(raw*1e6 + 0.5) — identical
    //     double op order on both engines makes the integer bit-stable, sidestepping decimal round()'s engine-specific
    //     half-tie handling — and the rolling Rabin-Karp fingerprint is already an exact BIGINT. --------------------------------------
    "q_quality_fp" -> ((s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        floor(TextAnalysis.qualityScoreRaw(col("text")) * lit(1e6) + lit(0.5)).cast("long").as("quality_micro"),
        TextAnalysis.fingerprint(col("text")).as("fp"))),
    // --- embedding-cosine near-dup pairs, driver-checked end-to-end (last spec-only dedup component): the natural
    //     corpus has no pair above 0.95 cosine, so deterministic perturbed twins are PLANTED (vec_id+10000, first
    //     component nudged by an id-dependent step); the oracle regenerates the identical md5 plane constants and
    //     replays signatures -> band join -> exact-cosine verify in SQL. --------------------------------------------------------------
    "q_near_dup" -> ((s, d) => {
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val delta = (pmod(col("vec_id"), lit(5)) + lit(1)).cast("double") * lit(0.01)
      val planted = emb.filter(col("vec_id") < 20).select(
        (col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, (x.cast("double") + delta).cast("float")).otherwise(x)).as("embedding"))
      Similarity.nearDupPairs(emb.union(planted), threshold = 0.95, dim = 64)
        .select(col("a"), col("b"), round(col("cosine"), 6).as("cosine"))
    }),
    // --- Multimodal AUDIO path, driver-checked end-to-end: deterministic PCM WAVs (pure-integer sample formula) go through the
    //     REAL RIFF chunk-walk decode inside Multimodal.extractFeatures; every per-window RMS partial sum is exact in double
    //     (numerators < 2^52), so the DuckDB twin recomputes the features from plain integer sums without WAV bytes. ---------------------
    "q_audio_features" -> ((s, d) => {
      val mk = udf((id: Long, frames: Int) => Multimodal.syntheticWav(id, frames))
      val rows = t(s, d, "supplier").filter(col("s_suppkey") <= 120)
        .select(col("s_suppkey").cast("long").as("media_id"),
          lit("audio").as("kind"),
          mk(col("s_suppkey").cast("long"),
            (lit(800) + lit(400) * pmod(col("s_suppkey"), lit(5))).cast("int")).as("media"),
          concat(lit("synth-wav://"), col("s_suppkey")).as("source"))
      val feats = Multimodal.extractFeatures(rows).toDF()
      val outCols = Seq(col("media_id"), col("duration_ms")) ++
        (0 until 8).map(j => round(element_at(col("feature"), j + 1).cast("double"), 6).as(s"f$j"))
      feats.select(outCols: _*)
    }),
    // --- Multimodal VIDEO path, driver-checked end-to-end: deterministic animated GIFs (solid integer-formula frames, explicit
    //     GraphicControlExtension delays) go through the REAL multi-frame ImageIO decode — frame sampling, metadata-delay duration,
    //     per-frame luminance — and the DuckDB twin replays the 64-term luma fold per sampled frame (q_media_features precedent). ---------
    "q_video_frames" -> ((s, d) => {
      val mk = udf((id: Long, frames: Int) => Multimodal.syntheticGif(id, frames))
      val rows = t(s, d, "supplier").filter(col("s_suppkey") <= 60)
        .select(col("s_suppkey").cast("long").as("media_id"),
          lit("video").as("kind"),
          mk(col("s_suppkey").cast("long"),
            (lit(2) + pmod(col("s_suppkey"), lit(9))).cast("int")).as("media"),
          concat(lit("synth-gif://"), col("s_suppkey")).as("source"))
      val feats = Multimodal.extractFeatures(rows).toDF()
      val outCols = Seq(col("media_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("duration_ms")) ++
        (0 until 8).map(j => round(element_at(col("feature"), j + 1).cast("double"), 6).as(s"f$j"))
      feats.select(outCols: _*)
    }),
    // --- A9 extension: EXACT interpolated percentiles (Spark `percentile` <-> DuckDB `quantile_cont`, the same 1-based
    //     (n-1)p rank + linear interpolation; round(6) absorbs any last-ULP interpolation-order difference). -----------------------------
    "q_quantiles" -> ((s, d) =>
      t(s, d, "lineitem").groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.25)"), 6).as("q25"),
          round(expr("percentile(l_quantity, 0.5)"), 6).as("q50"),
          round(expr("percentile(l_quantity, 0.75)"), 6).as("q75"),
          round(expr("percentile(l_extendedprice, 0.9)"), 6).as("p90_price")))
  )

  /** Shared key-papers universe: orders are papers, lineitems are author
    * credits (l_linenumber = authorOrder), suppliers <= 25 the "top
    * authors"; papers with paperID % 7 == 0 lose their first-author row
    * to exercise the 1/authorOrder fallback. Built once per session and
    * materialized (`memo` below).
    */
  private def keyPapersResult(s: SparkSession, d: String): DataFrame = memo(s, "key_papers", d, Seq("orders", "lineitem", "supplier")) {
    val papers = t(s, d, "orders").select(
      col("o_orderkey").as("paperID"), col("o_orderpriority").as("title"),
      year(col("o_orderdate")).cast("int").as("year"))
    val pa = t(s, d, "lineitem")
      .filter(!(col("l_linenumber") === 1 && col("l_orderkey") % 7 === 0))
      .select(col("l_orderkey").as("paperID"), col("l_suppkey").as("authorID"),
        col("l_linenumber").as("authorOrder"))
    val top = t(s, d, "supplier").filter(col("s_suppkey") <= 25)
      .select(col("s_suppkey").as("authorID"))
    KeyPapers.isKeyPaper(papers, pa, top).localCheckpoint(true)
  }

  /** Shared derived citation universe for the link-feature queries:
    * orders are "papers" (paperID = o_orderkey, year = year(o_orderdate),
    * citationCount = #lineitems); two orders sharing a part (l_partkey <=
    * 30) form a citation from the LATER (greater key) to the EARLIER;
    * each order has its customer as single author; embeddings are a
    * deterministic 2-d function of the keys.
    */
  private final class LinkUniverse(
      val edges: DataFrame, papers: DataFrame, authors: DataFrame, emb: DataFrame) {
    /** The 17-feature `all_features` table over this universe (the
      * reference's `all_features.csv`), built once and materialized. */
    lazy val features: DataFrame =
      LinkFeatures.allFeatures(edges, papers, authors, emb, edges.sparkSession.emptyDataFrame.select())
        .localCheckpoint(true)
  }

  // Shared sub-results, one entry per (session, name, canonical dir),
  // kept with the `fileSig` of every input table it reads (`kept`): a
  // rewritten table makes the next call rebuild the entry and replace it.
  //  - "part_edges" (lineitem): the part graph's Dataset[Edge], read by
  //    the five graph leaves and `entry`. One object, so `GridLoop`
  //    keeps its grids for all of them: CC, LPA and the triangle count
  //    share the undirected grid, both PageRanks the directed one;
  //  - "key_papers" (orders, lineitem, supplier): the isKeyPaper product,
  //    read by q_key_papers (a projection) and q_key_papers_dist (an
  //    aggregate), as the reference's distribution step reads the table
  //    compute_key_papers wrote;
  //  - "link_universe" (orders, lineitem): the LinkUniverse read by
  //    q_export_graph (`edges`) and by q_link_features, q_link_prob and
  //    q_link_prob_tree (`features`).
  // Whichever leaf of a group runs first on a session pays for the build
  // (for the part graph the lineitem self-join + distinct; for key papers
  // about 20 jobs; for the universe the lineitem self-join +
  // distinct with `edges` and `papers` materialized eagerly, and the
  // first feature leaf also pays for `features`, about 15 jobs: five
  // shuffles, the rest broadcasts); the others only read the
  // materialized tables. Results do not depend on the order the leaves
  // run in.
  //
  // The memo is IN-SESSION: its tables are eager localCheckpoint blocks
  // on the session's SparkContext. No cache()/persist(): the
  // CacheManager is shared by every session of a SparkContext, so a
  // cached plan would leak into sibling sessions. Every new session
  // computes them from the parquet inputs again, inside the first timed
  // query that needs them. There is no cross-JVM copy: the part graph is
  // one self-join away from lineitem, and a file cache would need its own
  // key, lock, publish protocol and eviction for a derivation a session
  // runs once. An entry is never released while the SparkContext lives:
  // every value holds DataFrames that reference their session strongly,
  // so the WeakHashMap's key never becomes weakly reachable and the entry
  // (with its checkpoint blocks) stays until the JVM exits, even after
  // the caller drops the session.
  private val sessionMemo = new java.util.WeakHashMap[SparkSession, mutable.Map[(String, String), (Any, AnyRef)]]()

  private def memo[A <: AnyRef](s: SparkSession, name: String, d: String, tables: Seq[String])(build: => A): A = {
    val entries = sessionMemo.synchronized(sessionMemo.computeIfAbsent(s, _ => mutable.Map.empty))
    val sigs = tables.flatMap(n => fileSig(s"$d/$n.parquet"))
    kept(entries, (name, new java.io.File(d).getCanonicalPath), Option.when(sigs.size == tables.size)(sigs))(build)
      .asInstanceOf[A]
  }

  private def linkUniverse(s: SparkSession, d: String): LinkUniverse = memo(s, "link_universe", d, Seq("orders", "lineitem")) {
    val orders = t(s, d, "orders")
    val li = t(s, d, "lineitem").filter(col("l_partkey") <= 30)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val custOf = orders.select(col("o_orderkey"), col("o_custkey"))
    val e = li.select(col("l_partkey").as("pk"), col("l_orderkey").as("x"))
      .join(li.select(col("l_partkey").as("pk"), col("l_orderkey").as("y")), "pk")
      .filter(col("x") > col("y"))
      .select(col("x").as("citingpaperID"), col("y").as("citedpaperID"))
      .distinct()
      .join(custOf.withColumnRenamed("o_orderkey", "citingpaperID"), "citingpaperID")
      .withColumnRenamed("o_custkey", "authorID")
    val counts = t(s, d, "lineitem").groupBy(col("l_orderkey")).agg(count(lit(1)).as("citationCount"))
    val p = orders
      .join(counts, col("o_orderkey") === col("l_orderkey"), "left")
      .select(col("o_orderkey").as("paperID"), year(col("o_orderdate")).cast("long").as("year"),
        coalesce(col("citationCount"), lit(0L)).as("citationCount"))
    // authors/emb are plain projections of orders: cheap to re-plan,
    // not worth holding materialized
    val authors = orders.select(col("o_orderkey").as("paperID"), col("o_custkey").as("authorID"))
    val emb = orders.select(col("o_orderkey").as("paperID"),
      array((col("o_custkey") % 7).cast("double") + lit(1.0),
        (col("o_orderkey") % 5).cast("double")).as("embedding"))
    new LinkUniverse(e.localCheckpoint(true), p.localCheckpoint(true), authors, emb)
  }

  // ---------------------------------------------------------------------
  // Programmatic oracle builders (unrolled iterations / wide hash blocks)
  // ---------------------------------------------------------------------

  /** 20 unrolled Jacobi PageRank iterations over the part graph —
    * byte-for-byte the semantics of graph.PageRank (teleport 0.15/n,
    * dangling mass redistributed uniformly, rank_0 = 1/n).
    */
  private def pagerankOracle(iters: Int): String = {
    val header =
      """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         e AS MATERIALIZED (SELECT DISTINCT x.l_partkey AS src, y.l_partkey AS dst
               FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
         verts AS (SELECT DISTINCT v FROM (SELECT src AS v FROM e UNION ALL SELECT dst FROM e)),
         outd AS (SELECT src AS id, count(*) AS outdeg FROM e GROUP BY 1),
         vd AS MATERIALIZED (SELECT v AS id, coalesce(outdeg, 0) AS outdeg FROM verts LEFT JOIN outd ON v = outd.id),
         nn AS MATERIALIZED (SELECT count(*) AS n FROM vd),
         r0 AS MATERIALIZED (SELECT id, outdeg, 1.0 / (SELECT n FROM nn) AS rank FROM vd)"""
    val steps = (1 to iters).map { i =>
      val p = i - 1
      s""",
         d$p AS MATERIALIZED (SELECT coalesce(sum(rank) FILTER (WHERE outdeg = 0), 0) AS dang FROM r$p),
         r$i AS MATERIALIZED (
           SELECT vd.id, vd.outdeg,
                  (1.0 - 0.85) / (SELECT n FROM nn) +
                  0.85 * (coalesce(c.contrib, 0) + (SELECT dang FROM d$p) / (SELECT n FROM nn)) AS rank
           FROM vd LEFT JOIN (
             SELECT e.dst AS id, sum(r.rank / r.outdeg) AS contrib
             FROM r$p r JOIN e ON e.src = r.id WHERE r.outdeg > 0 GROUP BY 1) c
           ON vd.id = c.id)"""
    }.mkString
    s"$header$steps\n SELECT CAST(id AS BIGINT) AS id, round(rank, 6) AS rank FROM r$iters"
  }

  /** `iters` unrolled synchronous label-propagation votes (count desc,
    * label asc tie-break) — the semantics of graph.LabelPropagation.
    */
  private def lpaOracle(iters: Int): String = {
    val header =
      """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         e AS MATERIALIZED (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
               FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
         bidir AS MATERIALIZED (SELECT a AS u, b AS v FROM e UNION SELECT b, a FROM e),
         l0 AS MATERIALIZED (SELECT DISTINCT u AS id, u AS label FROM bidir)"""
    val steps = (1 to iters).map { i =>
      val p = i - 1
      s""",
         l$i AS MATERIALIZED (
           SELECT u AS id, label FROM (
             SELECT b.u, l.label,
                    row_number() OVER (PARTITION BY b.u ORDER BY count(*) DESC, l.label ASC) AS rn
             FROM bidir b JOIN l$p l ON b.v = l.id
             GROUP BY b.u, l.label)
           WHERE rn = 1)"""
    }.mkString
    s"$header$steps\n SELECT CAST(id AS BIGINT) AS id, CAST(label AS BIGINT) AS label FROM l$iters"
  }

  /** DuckDB equivalent of Dedup.md5Hash60(expr, seed). */
  private def md5h60(expr: String, seed: Int): String =
    s"CAST(concat('0x', substr(md5(concat('$seed:', $expr)), 1, 15)) AS BIGINT)"

  /** HLL oracle: identical register math in DuckDB — md5-derived 60-bit
    * hash, integer bit-length ranks (`length(bin(w))`, no float log),
    * BIGINT-scaled register sum, and the float expressions (raw estimate
    * + the small-range linear-counting branch m·ln(m/V), ADVICE r4) built
    * from the same Scala-printed literals as the engine's, so the
    * estimate hash-matches in BOTH regimes — not just when the data is
    * large enough to stay on the raw branch. Constants: 2^52-1 mask, 2^53
    * scale, alpha·m²·2^53 numerator from graft.functions.Sketches.
    */
  private def hllOracle: String = {
    import graft.functions.Sketches
    val mask = (1L << 52) - 1
    val numer = Sketches.Alpha * Sketches.M.toDouble * Sketches.M.toDouble * 9007199254740992.0
    s"""WITH h AS (SELECT ${md5h60("CAST(l_orderkey AS VARCHAR)", 0)} AS h FROM lineitem),
        br AS (SELECT h >> 52 AS bucket,
                      CASE WHEN (h & $mask) = 0 THEN 53
                           ELSE 53 - length(bin(h & $mask)) END AS rank
               FROM h),
        regs AS (SELECT bucket, max(rank) AS r FROM br GROUP BY 1),
        agg AS (SELECT count(*) AS occupied,
                       CAST(sum(1::BIGINT << (53 - r)) AS BIGINT) AS s_occupied
                FROM regs),
        est AS (SELECT occupied,
                       s_occupied + (${Sketches.M}::BIGINT - occupied) * ${1L << 53}::BIGINT AS s_scaled,
                       $numer / CAST(s_occupied + (${Sketches.M}::BIGINT - occupied) * ${1L << 53}::BIGINT AS DOUBLE) AS raw
                FROM agg)
        SELECT CAST(occupied AS BIGINT) AS occupied,
               CAST(s_scaled AS BIGINT) AS s_scaled,
               round(CASE WHEN raw <= ${2.5 * Sketches.M} AND occupied < ${Sketches.M}
                          THEN ${Sketches.M.toDouble} * ln(${Sketches.M.toDouble} / (${Sketches.M} - occupied))
                          ELSE raw END, 6) AS estimate,
               (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) FROM lineitem) AS n_exact
        FROM est"""
  }

  /** MinHash+LSH oracle: recompute the 32 md5-based minhashes, band into
    * 8 bands of 4, candidate pairs share a band tuple, verify estimated
    * jaccard >= 0.5 — mirrors Dedup.minhashLshPairs(n=5, 32, 8, 0.5).
    */
  private def minhashOracle: String = {
    val numHashes = 32
    val bands = 8
    val rows = numHashes / bands
    val mins = (0 until numHashes).map(k => s"min(${md5h60("shingle", k)}) AS s$k").mkString(", ")
    val bandJoin = (0 until bands).map { b =>
      val eqs = (0 until rows).map(r => s"x.s${b * rows + r} = y.s${b * rows + r}").mkString(" AND ")
      s"SELECT x.id AS a, y.id AS b FROM sigs x JOIN sigs y ON x.id < y.id AND $eqs"
    }.mkString(" UNION ")
    val est = (0 until numHashes).map(k => s"CASE WHEN sa.s$k = sb.s$k THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH docs AS (SELECT doc_id AS id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS t
                      FROM documents WHERE doc_id < 200),
        sh AS (SELECT DISTINCT id, substr(t, i, 5) AS shingle
               FROM docs, LATERAL (SELECT unnest(generate_series(1, len(t) - 4)) AS i)
               WHERE len(t) >= 5),
        sigs AS (SELECT id, $mins FROM sh GROUP BY id),
        cand AS ($bandJoin)
        SELECT c.a, c.b, round(($est) / 32.0, 6) AS est_jaccard
        FROM cand c JOIN sigs sa ON sa.id = c.a JOIN sigs sb ON sb.id = c.b
        WHERE ($est) / 32.0 >= 0.5"""
  }

  /** SimHash oracle: md5-based token hash, weighted bit sums, sign -> bit
    * — mirrors Dedup.simhash(bits = 32).
    */
  private def simhashOracle: String = {
    val sums = (0 until 32).map(b =>
      s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN w ELSE -w END) AS s$b").mkString(", ")
    val fold = (0 until 32).map(b =>
      s"CASE WHEN s$b > 0 THEN ${1L << b}::BIGINT ELSE 0 END").mkString(" + ")
    s"""WITH toks AS (
          SELECT doc_id AS id, tok, count(*) AS w
          FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
                FROM documents WHERE doc_id < 500)
          WHERE tok <> '' GROUP BY 1, 2),
        h AS (SELECT id, ${md5h60("tok", 0)} AS h, w FROM toks),
        bitsums AS (SELECT id, $sums FROM h GROUP BY id)
        SELECT id, CAST($fold AS BIGINT) AS simhash FROM bitsums"""
  }

  /** Embedding oracle: same tokenization + md5-derived 2-d projection as
    * textops.Embedding (dims = 2, seed = 7 -> per-dim seeds 917, 918).
    */
  private def embedOracle: String = {
    val stop = graft.textops.Embedding.Stopwords.map(w => s"'$w'").mkString(", ")
    def dim(j: Int) = {
      val seed = 7 * 131 + j
      s"round(coalesce(list_sum(list_transform(tk, t -> ${md5h60("t", seed)} / 1152921504606846976.0 * 2.0 - 1.0)), 0.0), 6)"
    }
    s"""WITH toks AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'),
                 t -> len(t) > 0 AND t NOT IN ($stop)) AS tk
          FROM documents WHERE doc_id < 300)
        SELECT doc_id, ${dim(0)} AS e0, ${dim(1)} AS e1 FROM toks"""
  }

  /** DuckDB twin of the FULL correlation bundle (TimeSeries.features,
    * reference extract_link_features.py:56-180): gap-filled series, tail
    * truncation (consecutive-below counter with reset, first-hit cut),
    * overlap-aligned Pearson (NaN on zero variance), sliding-window
    * max-|corr| with the `>=` later-window tie-break and `or None` on a
    * final 0.0, and the four time-lag folds (skip 0.0/NaN, later lag wins
    * ties). Sequential folds are transcribed as argmax-with-latest-index
    * over DuckDB list lambdas — valid because the running-max fold's
    * final value is exactly the LAST element attaining the global max —
    * and every float op (incl. `mx * 0.1::DOUBLE` and the slice→DOUBLE
    * casts) mirrors the Scala op order so round(…,6) can't straddle.
    */
  /** DuckDB twin of the FULL compare_name algorithm (NameMatch.compareName,
    * reference match_author.py:36-91), transcribed for the constructed
    * q_compare_name pair families:
    *  - preprocessing (lower → punct strip → digit strip → de-accent →
    *    tokenize) and the STABLE sort by descending token length
    *    (struct-sort on (-len, original index));
    *  - the greedy ≤2-syllable pinyin parse (parse_pinyin2,
    *    match_author.py:124-150) over the identical literal syllable
    *    table, in closed form: the longest matching prefix either IS the
    *    word, or its remainder (2..6 chars) is itself a syllable;
    *  - python-Levenshtein `ratio` = 2·LCS/(la+lb) via a recursive-CTE DP
    *    (indel distance with substitution cost 2 equals la+lb−2·LCS); the
    *    prefix-max row update makes each DP step a pure list expression;
    *  - the sequential scan/penalty loop as a micro-step recursion — ONE
    *    scan event per recursion row, so every 0.9/1.0/ratio decrement
    *    applies to both penalties in exactly the Scala float op order,
    *    including the pinyin-equality-decrements-but-never-removes quirk;
    *  - the leftover merge (concat unmatched tokens, ratio ≥ 0.9 gate,
    *    skipped when both leftovers re-parse as pinyin) and the final
    *    min(1, 1/(min(p1,p2)+1)) with the 1/0 → 1.0 cap.
    */
  private def compareNameOracle: String = {
    val py = graft.analytics.NameMatch.pinyinList.map(s => s"'$s'").mkString("[", ",", "]")
    // Greedy longest prefix (2..6 chars) of `w` in the syllable table; 0 when none.
    def greedy(w: String): String =
      s"""coalesce(list_aggregate(list_filter(generate_series(2, least(6, len($w))), gi0 ->
            list_contains($py, substr($w, 1, CAST(gi0 AS INT)))), 'max'), 0)"""
    // parse_pinyin2 flag: whole word consumed by 1 or 2 greedy syllables.
    def pin(w: String): String =
      s"""(len($w) >= 2 AND list_transform([${greedy(w)}], pp ->
            CASE WHEN pp = len($w) THEN TRUE
                 WHEN pp >= 2 AND len($w) - pp BETWEEN 2 AND 6
                   THEN list_contains($py, substr($w, CAST(pp + 1 AS INT), CAST(len($w) - pp AS INT)))
                 ELSE FALSE END)[1])"""
    // parse_pinyin2 parts: [syl1, syl2] on a 2-syllable success, else [w].
    def parts(w: String): String =
      s"""list_transform([${greedy(w)}], pq ->
            CASE WHEN pq >= 2 AND pq < len($w) AND len($w) - pq BETWEEN 2 AND 6
                      AND list_contains($py, substr($w, CAST(pq + 1 AS INT), CAST(len($w) - pq AS INT)))
                 THEN [substr($w, 1, CAST(pq AS INT)), substr($w, CAST(pq + 1 AS INT), CAST(len($w) - pq AS INT))]
                 ELSE [$w] END)[1]"""
    // preprocessName + stable sort by (-token length, original position).
    def srt(x: String): String =
      s"""list_transform([list_filter(string_split_regex(strip_accents(
             regexp_replace(regexp_replace(lower($x), '[^\\s\\w]', '', 'g'), '[0-9_]', '', 'g')), '\\s+'), t0 -> t0 <> '')], tl ->
           list_transform(list_sort(list_transform(generate_series(1, len(tl)), si0 ->
             struct_pack(sl := -len(tl[si0]), si := si0, st := tl[si0]))), ss -> ss.st))[1]"""
    // AND of isPinyin over tokens of length != 1 (true when none).
    def flagOf(l: String): String =
      s"""coalesce(list_aggregate(list_transform(list_filter($l, fw -> len(fw) <> 1), fw2 -> ${pin("fw2")}), 'bool_and'), TRUE)"""
    // One LCS DP step: new row = prefix running max of the candidate row.
    def dpStep(a: String, b: String): String =
      s"""list_prepend(0, list_transform(generate_series(2, len($a) + 1), kk ->
            greatest(0, list_max(list_transform(generate_series(2, kk), k2 ->
              CASE WHEN substr($a, CAST(k2 - 1 AS INT), 1) = substr($b, CAST(j + 1 AS INT), 1)
                   THEN dp[k2 - 1] + 1 ELSE dp[k2] END)))))"""
    def zeroRow(a: String): String =
      s"list_transform(generate_series(1, len($a) + 1), z0 -> 0)"
    def ratioOf(a: String, b: String): String =
      s"""CASE WHEN len($a) + len($b) = 0 THEN 1.0::DOUBLE
              ELSE CAST(2 * dp[len($a) + 1] AS DOUBLE) / (len($a) + len($b)) END"""
    s"""WITH RECURSIVE
       gvsr AS (SELECT ['wei','fang','min','jun','lei','na'] AS gv,
                       ['zhang','wang','li','zhao','chen','yang'] AS sr),
       base AS (
         SELECT p.p_partkey AS id, p.p_name AS name1,
                CASE WHEN p.p_partkey % 4 = 0 THEN upper(p.tk[2]) || '#'
                     WHEN p.p_partkey % 4 = 1 THEN concat_ws(' ', substr(p.tk[1], 1, 1), p.tk[2])
                     WHEN p.p_partkey % 4 = 2 THEN concat_ws(' ', p.tk[1], q.tk2)
                     ELSE concat_ws(' ', p.tk[1] || 'x', p.tk[2]) END AS name2
         FROM (SELECT p_partkey, p_name, string_split(p_name, ' ') AS tk FROM part) p
         JOIN (SELECT p_partkey + 1 AS pk2, string_split(p_name, ' ')[2] AS tk2 FROM part) q
           ON p.p_partkey = q.pk2
         WHERE p.p_partkey BETWEEN 2 AND 400
         UNION ALL
         SELECT c_custkey + 10000,
                gv[CAST(c_custkey % 6 + 1 AS INT)] || ' ' || sr[CAST((c_custkey % 36) // 6 + 1 AS INT)],
                CASE WHEN c_custkey % 2 = 0
                       THEN gv[CAST(c_custkey % 6 + 1 AS INT)] || sr[CAST((c_custkey % 36) // 6 + 1 AS INT)]
                     WHEN c_custkey % 4 = 1
                       THEN gv[CAST(c_custkey % 6 + 1 AS INT)] || ' ' || sr[CAST(((c_custkey % 36) // 6 + 1) % 6 + 1 AS INT)]
                     ELSE gv[CAST(c_custkey % 6 + 1 AS INT)] || ' ' || (sr[CAST((c_custkey % 36) // 6 + 1 AS INT)] || 'x') END
         FROM customer, gvsr WHERE c_custkey <= 150),
       prep AS (SELECT id, name1, name2, ${srt("name1")} AS n1, ${srt("name2")} AS n2 FROM base),
       flags AS (SELECT *, len(n1) AS l1, len(n2) AS l2,
                        ${flagOf("n1")} AS f1, ${flagOf("n2")} AS f2
                 FROM prep),
       fast AS (SELECT *,
                  (list_has_all(n2, n1) OR list_has_all(n1, n2)) AS subsetq,
                  list_transform([flatten(list_transform(n1, pw1 -> ${parts("pw1")}))], py1 ->
                    list_transform([flatten(list_transform(n2, pw2 -> ${parts("pw2")}))], py2 ->
                      (len(py1) <> len(n1) OR len(py2) <> len(n2)) AND len(py1) = len(py2)
                      AND list_has_all(py1, py2) AND list_has_all(py2, py1) AND f1 AND f2)[1])[1] AS resegq
                FROM flags),
       u AS (SELECT DISTINCT id, w FROM (SELECT id, unnest(n1) AS w FROM flags
                                         UNION ALL SELECT id, unnest(n2) FROM flags)),
       tp AS (SELECT DISTINCT a.id, a.w AS w1, b.w AS w2
              FROM (SELECT DISTINCT id, w FROM (SELECT id, unnest(n1) AS w FROM flags)) a
              JOIN (SELECT DISTINCT id, w FROM (SELECT id, unnest(n2) AS w FROM flags)) b USING (id)),
       lcs AS (
         SELECT id, w1, w2, 0 AS j, ${zeroRow("w1")} AS dp FROM tp
         UNION ALL
         SELECT id, w1, w2, j + 1, ${dpStep("w1", "w2")} FROM lcs WHERE j < len(w2)),
       rat AS (SELECT id, w1, w2, ${ratioOf("w1", "w2")} AS r FROM lcs WHERE j = len(w2)),
       rmm AS (SELECT id, map(list(w1 || chr(1) || w2), list(r)) AS m FROM rat GROUP BY id),
       pmm AS (SELECT id, map(list(w), list(${pin("w")})) AS m FROM u GROUP BY id),
       loop AS (
         SELECT f.id, 1 AS k, 1 AS j, n2 AS n2tb, n1 AS n1rest,
                CAST(l1 AS DOUBLE) AS pen1, CAST(l2 AS DOUBLE) AS pen2,
                CAST(NULL AS VARCHAR) AS rmf
         FROM fast f WHERE NOT subsetq AND NOT coalesce(resegq, FALSE)
         UNION ALL
         SELECT id, CASE WHEN act = 'fin' THEN k + 1 ELSE k END,
                CASE WHEN act = 'fin' THEN 1 WHEN act IN ('m1','m3') THEN j ELSE j + 1 END,
                CASE WHEN act = 'fin' AND rmf IS NOT NULL
                     THEN list_concat(list_slice(n2tb, 1, list_position(n2tb, rmf) - 1),
                                      list_slice(n2tb, list_position(n2tb, rmf) + 1, len(n2tb)))
                     ELSE n2tb END,
                CASE WHEN act = 'fin' AND rmf IS NOT NULL
                     THEN list_concat(list_slice(n1rest, 1, list_position(n1rest, w1) - 1),
                                      list_slice(n1rest, list_position(n1rest, w1) + 1, len(n1rest)))
                     ELSE n1rest END,
                CASE act WHEN 'm1' THEN pen1 - 0.9::DOUBLE WHEN 'eq' THEN pen1 - 1.0::DOUBLE
                         WHEN 'm3' THEN pen1 - rr ELSE pen1 END,
                CASE act WHEN 'm1' THEN pen2 - 0.9::DOUBLE WHEN 'eq' THEN pen2 - 1.0::DOUBLE
                         WHEN 'm3' THEN pen2 - rr ELSE pen2 END,
                CASE WHEN act = 'fin' THEN NULL WHEN act IN ('m1','m3') THEN w2 ELSE rmf END
         FROM (
           SELECT s.*,
                  CASE WHEN s.rmf IS NOT NULL OR s.j > len(s.n2tb) THEN 'fin'
                       WHEN least(len(s.w1), len(s.w2)) = 1
                            AND (starts_with(s.w1, s.w2) OR starts_with(s.w2, s.w1))
                            AND s.f1 = s.f2 THEN 'm1'
                       WHEN s.pw1 AND s.pw2 AND s.w1 = s.w2 THEN 'eq'
                       WHEN s.pw1 AND s.pw2 THEN 'no'
                       WHEN s.rr >= 0.7::DOUBLE THEN 'm3'
                       ELSE 'no' END AS act
           FROM (
             SELECT l.id, l.k, l.j, l.n2tb, l.n1rest, l.pen1, l.pen2, l.rmf,
                    f.n1[l.k] AS w1, l.n2tb[l.j] AS w2, f.f1, f.f2,
                    (p.m[f.n1[l.k]])[1] AS pw1,
                    (p.m[coalesce(l.n2tb[l.j], chr(2))])[1] AS pw2,
                    (r.m[f.n1[l.k] || chr(1) || coalesce(l.n2tb[l.j], chr(2))])[1] AS rr
             FROM loop l JOIN fast f ON l.id = f.id
                  JOIN pmm p ON l.id = p.id JOIN rmm r ON l.id = r.id
             WHERE l.k <= f.l1) s)),
       fs AS (SELECT l.id, array_to_string(l.n1rest, '') AS r1, array_to_string(l.n2tb, '') AS r2,
                     l.pen1, l.pen2
              FROM loop l JOIN fast f USING (id) WHERE l.k = f.l1 + 1),
       lo AS (
         SELECT id, r1, r2, 0 AS j, ${zeroRow("r1")} AS dp FROM fs
         UNION ALL
         SELECT id, r1, r2, j + 1, ${dpStep("r1", "r2")} FROM lo WHERE j < len(r2)),
       lor AS (SELECT id, ${ratioOf("r1", "r2")} AS lr, ${pin("r1")} AS pr1, ${pin("r2")} AS pr2
               FROM lo WHERE j = len(r2)),
       pens AS (SELECT fs.id,
                  CASE WHEN lor.lr >= 0.9::DOUBLE AND (NOT lor.pr1 OR NOT lor.pr2)
                       THEN least(fs.pen1 - lor.lr, fs.pen2 - lor.lr) + 1.0::DOUBLE
                       ELSE least(fs.pen1, fs.pen2) + 1.0::DOUBLE END AS pen
                FROM fs JOIN lor USING (id))
       SELECT f.id, f.name1, f.name2,
              round(CASE WHEN f.subsetq THEN 1.0::DOUBLE
                         WHEN coalesce(f.resegq, FALSE) THEN 1.0::DOUBLE
                         WHEN p.pen = 0 THEN 1.0::DOUBLE
                         ELSE least(1.0::DOUBLE, 1.0::DOUBLE / p.pen) END, 6) AS similarity
       FROM fast f LEFT JOIN pens p USING (id)"""
  }

  private def linkCorrOracle: String = {
    // Pearson of two bound DOUBLE lists s1, s2 of length n: NULL encodes
    // the zero-variance NaN (numpy corrcoef) for skip/flag handling.
    def pearson(s1: String, s2: String, n: String): String =
      s"""list_transform([struct_pack(ma := list_sum($s1) / $n, mb := list_sum($s2) / $n)], m ->
          list_transform([struct_pack(
             cov := list_sum(list_transform(generate_series(1, $n), i -> (($s1)[i] - m.ma) * (($s2)[i] - m.mb))),
             va := list_sum(list_transform(generate_series(1, $n), i2 -> (($s1)[i2] - m.ma) * (($s1)[i2] - m.ma))),
             vb := list_sum(list_transform(generate_series(1, $n), i3 -> (($s2)[i3] - m.mb) * (($s2)[i3] - m.mb))))], v ->
            CASE WHEN v.va * v.vb = 0 THEN NULL ELSE v.cov / sqrt(v.va * v.vb) END)[1])[1]"""
    // Zero-variance test on the same bound lists (the NaN flag).
    def varZero(s1: String, s2: String, n: String): String =
      s"""list_transform([struct_pack(ma := list_sum($s1) / $n, mb := list_sum($s2) / $n)], m ->
          list_sum(list_transform(generate_series(1, $n), i4 -> (($s1)[i4] - m.ma) * (($s1)[i4] - m.ma))) *
          list_sum(list_transform(generate_series(1, $n), i5 -> (($s2)[i5] - m.mb) * (($s2)[i5] - m.mb))) = 0)[1]"""
    // Overlap alignment: bind (st, en), then the two DOUBLE slices, then
    // apply `body` (which sees q.s1, q.s2, q.n). `onShort` is the value
    // when the overlap is under MinYearSpan.
    def bindSlices(gs: String, ge: String, gc: String,
                   cs: String, ce: String, cc: String,
                   onShort: String, body: String): String =
      s"""list_transform([struct_pack(st := greatest($gs, $cs), en := least($ge, $ce))], p ->
           CASE WHEN p.en - p.st + 1 < 5 THEN $onShort ELSE
             list_transform([struct_pack(
                 n := p.en - p.st + 1,
                 s1 := list_transform(list_slice($gc, p.st - ($gs) + 1, p.en - ($gs) + 1), vv -> CAST(vv AS DOUBLE)),
                 s2 := list_transform(list_slice($cc, p.st - ($cs) + 1, p.en - ($cs) + 1), vv2 -> CAST(vv2 AS DOUBLE)))], q ->
               $body)[1]
           END)[1]"""
    val plainBody =
      s"""CASE WHEN list_sum(q.s1) / q.n < 2.0 OR list_sum(q.s2) / q.n < 2.0 THEN NULL
              ELSE ${pearson("q.s1", "q.s2", "q.n")} END"""
    val nanBody =
      s"""CASE WHEN list_sum(q.s1) / q.n < 2.0 OR list_sum(q.s2) / q.n < 2.0 THEN FALSE
              ELSE ${varZero("q.s1", "q.s2", "q.n")} END"""
    // Sliding-window fold: candidates per offset (NULL = gated/NaN skip),
    // winner = latest offset attaining max |c|; a 0.0 winner -> NULL.
    val winBody =
      s"""list_transform([list_filter(list_transform(generate_series(0, q.n - 5), off ->
             list_transform([struct_pack(w1 := list_slice(q.s1, off + 1, off + 5),
                                         w2 := list_slice(q.s2, off + 1, off + 5))], w ->
               CASE WHEN list_sum(w.w1) / 5 < 2.0 OR list_sum(w.w2) / 5 < 2.0 THEN NULL
                    ELSE ${pearson("w.w1", "w.w2", "5")} END)[1]), xx -> xx IS NOT NULL)], vl ->
           list_transform([list_filter(vl, x2 -> abs(x2) = list_aggregate(list_transform(vl, y2 -> abs(y2)), 'max'))], wn ->
             CASE WHEN len(wn) = 0 OR wn[-1] = 0.0 THEN NULL ELSE wn[-1] END)[1])[1]"""
    def xcorr(lag: String, body: String, onShort: String = "NULL"): String =
      bindSlices(s"(gs + $lag)", s"(ge + $lag)", "gc", "cs", "ce", "cc2", onShort, body)
    // Lag fold: candidates skip NULL and exact 0.0; later lag wins ties.
    def lagFold(lo: Int, hi: Int, body: String): String =
      s"""list_transform([list_filter(list_transform(generate_series($lo, $hi), lg -> ${xcorr("lg", body)}), x3 -> x3 IS NOT NULL AND x3 <> 0.0)], vl2 ->
           list_transform([list_filter(vl2, x4 -> abs(x4) = list_aggregate(list_transform(vl2, y4 -> abs(y4)), 'max'))], wn2 ->
             CASE WHEN len(wn2) = 0 THEN NULL ELSE wn2[-1] END)[1])[1]"""
    def gate(expr: String, onGate: String = "NULL") =
      s"CASE WHEN gt < 5 OR ct < 5 OR gs + 3 < cs OR gs <= 1900 OR cs <= 1900 THEN $onGate ELSE $expr END"
    s"""WITH ev AS (
          SELECT o_orderkey % 700 AS pid, CAST(year(o_orderdate) AS INT) AS yr
          FROM orders
          WHERE CASE
            WHEN o_orderkey % 700 < 20 THEN year(o_orderdate) IN (1995, 2001)
            WHEN o_orderkey % 700 BETWEEN 30 AND 39 THEN year(o_orderdate) >= 1999 AND o_orderkey % 4 != 3
            WHEN o_orderkey % 700 >= 690 THEN o_orderkey % 11 = 0
            ELSE o_orderkey % 4 != 3 END),
        hist AS (SELECT pid, yr, count(*) AS c FROM ev GROUP BY 1, 2),
        ser AS (SELECT pid, min(yr) AS s, max(yr) AS e, CAST(sum(c) AS BIGINT) AS total,
                       list(struct_pack(y := yr, c := c) ORDER BY yr) AS ents
                FROM hist GROUP BY 1),
        ser2 AS (SELECT pid, s, e, total,
          list_transform(generate_series(s, e), yy ->
            coalesce(list_sum(list_transform(ents, en2 -> CASE WHEN en2.y = yy THEN en2.c ELSE 0 END)), 0)) AS cnt
          FROM ser),
        ser3 AS (SELECT pid, s, e, total, cnt,
          len(cnt) AS L,
          list_aggregate(cnt, 'max') AS mx,
          list_position(cnt, list_aggregate(cnt, 'max')) AS peak
          FROM ser2),
        ser4 AS (SELECT pid, s, e, total, cnt, L,
          coalesce(L - list_aggregate(list_filter(generate_series(peak + 4, L), i6 ->
             5 = list_sum(list_transform(generate_series(i6 - 4, i6), j2 ->
               CASE WHEN cnt[j2] < mx * (0.1::DOUBLE) THEN 1 ELSE 0 END))), 'min'), 0) AS trunc
          FROM ser3),
        ser5 AS (SELECT pid, s, e - trunc AS e2, total, list_slice(cnt, 1, L - trunc) AS cnt2 FROM ser4),
        pids AS (SELECT pid FROM ser5 WHERE pid < 50 OR pid >= 690),
        edges AS (SELECT a.pid AS citing, b.pid AS cited
                  FROM pids a, pids b
                  WHERE a.pid != b.pid AND (a.pid * 31 + b.pid) % 5 = 0),
        j AS (SELECT e.citing, e.cited,
                g.s AS gs, g.e2 AS ge, g.total AS gt, g.cnt2 AS gc,
                c.s AS cs, c.e2 AS ce, c.total AS ct, c.cnt2 AS cc2
              FROM edges e JOIN ser5 g ON e.citing = g.pid JOIN ser5 c ON e.cited = c.pid)
        SELECT citing, cited,
          round(${gate(xcorr("0", plainBody))}, 6) AS cc,
          CAST(${gate(xcorr("0", nanBody, onShort = "FALSE"), onGate = "FALSE")} AS BIGINT) AS cc_nan,
          round(${gate(xcorr("0", winBody))}, 6) AS wcc,
          round(${gate(lagFold(-5, -1, plainBody))}, 6) AS ntl,
          round(${gate(lagFold(1, 5, plainBody))}, 6) AS tl,
          round(${gate(lagFold(-5, -1, winBody))}, 6) AS wntl,
          round(${gate(lagFold(1, 5, winBody))}, 6) AS wtl
        FROM j"""
  }

  /** Shared CTE block for the link-feature oracles — the SQL twin of
    * `linkUniverse` + the CommonNeighbors metric conventions.
    */
  private def linkUniverseSql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_partkey <= 30),
       raw_e AS (SELECT DISTINCT x.l_orderkey AS citing, y.l_orderkey AS cited
                 FROM li x JOIN li y ON x.l_partkey = y.l_partkey AND x.l_orderkey > y.l_orderkey),
       edges AS (SELECT r.citing, r.cited, o.o_custkey AS authorID
                 FROM raw_e r JOIN orders o ON o.o_orderkey = r.citing),
       cnts AS (SELECT l_orderkey, count(*) AS c FROM lineitem GROUP BY 1),
       papers AS (SELECT o_orderkey AS paperID, CAST(year(o_orderdate) AS BIGINT) AS year,
                         CAST(coalesce(c, 0) AS BIGINT) AS citationCount
                  FROM orders LEFT JOIN cnts ON o_orderkey = l_orderkey),
       emb AS (SELECT o_orderkey AS paperID,
                      CAST(o_custkey % 7 AS DOUBLE) + 1.0 AS ex, CAST(o_orderkey % 5 AS DOUBLE) AS ey
               FROM orders),
       pairs AS (SELECT DISTINCT citing AS a, cited AS b FROM raw_e),
       adj_in AS (SELECT DISTINCT cited AS node, citing AS nbr FROM raw_e),
       adj_out AS (SELECT DISTINCT citing AS node, cited AS nbr FROM raw_e),
       deg_in AS (SELECT node, count(*) AS deg FROM adj_in GROUP BY 1),
       deg_out AS (SELECT node, count(*) AS deg FROM adj_out GROUP BY 1),
       raw_coc AS (SELECT p.a, p.b, count(*) AS raw FROM pairs p
                   JOIN adj_in x ON x.node = p.a JOIN adj_in y ON y.node = p.b AND y.nbr = x.nbr
                   GROUP BY 1, 2),
       raw_bib AS (SELECT p.a, p.b, count(*) AS raw FROM pairs p
                   JOIN adj_out x ON x.node = p.a JOIN adj_out y ON y.node = p.b AND y.nbr = x.nbr
                   GROUP BY 1, 2),
       coc AS (SELECT p.a, p.b, CAST(coalesce(r.raw, 0) AS BIGINT) AS raw_cocitation,
                 CASE WHEN coalesce(da.deg, 0) <= 0 OR coalesce(db.deg, 0) <= 0 THEN 0.0
                      ELSE coalesce(r.raw, 0) / sqrt(da.deg * db.deg) END AS cosine_cocitation,
                 CASE WHEN coalesce(da.deg, 0) + coalesce(db.deg, 0) - coalesce(r.raw, 0) <= 0 THEN 0.0
                      ELSE coalesce(r.raw, 0) / (coalesce(da.deg, 0) + coalesce(db.deg, 0) - coalesce(r.raw, 0)) END AS jaccard_cocitation
               FROM pairs p LEFT JOIN raw_coc r ON r.a = p.a AND r.b = p.b
               LEFT JOIN deg_in da ON da.node = p.a LEFT JOIN deg_in db ON db.node = p.b),
       bib AS (SELECT p.a, p.b, CAST(coalesce(r.raw, 0) AS BIGINT) AS raw_bibcoupling,
                 CASE WHEN coalesce(da.deg, 0) <= 0 OR coalesce(db.deg, 0) <= 0 THEN 0.0
                      ELSE coalesce(r.raw, 0) / sqrt(da.deg * db.deg) END AS cosine_bibcoupling,
                 CASE WHEN coalesce(da.deg, 0) + coalesce(db.deg, 0) - coalesce(r.raw, 0) <= 0 THEN 0.0
                      ELSE coalesce(r.raw, 0) / (coalesce(da.deg, 0) + coalesce(db.deg, 0) - coalesce(r.raw, 0)) END AS jaccard_bibcoupling
               FROM pairs p LEFT JOIN raw_bib r ON r.a = p.a AND r.b = p.b
               LEFT JOIN deg_out da ON da.node = p.a LEFT JOIN deg_out db ON db.node = p.b),
       feat AS (SELECT e.citing AS citingpaperID, e.cited AS citedpaperID, e.authorID,
                 CASE WHEN pa.year >= pb.year THEN pa.year - pb.year ELSE NULL END AS year_diff,
                 pa.citationCount AS citing_paper_citationcount,
                 pb.citationCount AS cited_paper_citationcount,
                 CASE WHEN aa.paperID IS NULL OR ab.paperID IS NULL THEN NULL
                      WHEN aa.authorID = ab.authorID THEN 1 ELSE 0 END AS self_cite,
                 CASE WHEN ea.paperID IS NULL OR eb.paperID IS NULL THEN NULL
                      ELSE (ea.ex * eb.ex + ea.ey * eb.ey) /
                           (sqrt(ea.ex * ea.ex + ea.ey * ea.ey) * sqrt(eb.ex * eb.ex + eb.ey * eb.ey)) END AS similarity,
                 c.raw_cocitation, c.cosine_cocitation, c.jaccard_cocitation,
                 b2.raw_bibcoupling, b2.cosine_bibcoupling, b2.jaccard_bibcoupling
               FROM edges e
               LEFT JOIN papers pa ON pa.paperID = e.citing
               LEFT JOIN papers pb ON pb.paperID = e.cited
               LEFT JOIN (SELECT o_orderkey AS paperID, o_custkey AS authorID FROM orders) aa ON aa.paperID = e.citing
               LEFT JOIN (SELECT o_orderkey AS paperID, o_custkey AS authorID FROM orders) ab ON ab.paperID = e.cited
               LEFT JOIN emb ea ON ea.paperID = e.citing
               LEFT JOIN emb eb ON eb.paperID = e.cited
               LEFT JOIN coc c ON c.a = e.citing AND c.b = e.cited
               LEFT JOIN bib b2 ON b2.a = e.citing AND b2.b = e.cited)"""

  private def linkFeaturesOracle: String =
    s"""$linkUniverseSql
        SELECT citingpaperID, citedpaperID, authorID,
               CAST(year_diff AS BIGINT) AS year_diff,
               citing_paper_citationcount, cited_paper_citationcount,
               CAST(self_cite AS BIGINT) AS self_cite,
               round(similarity, 6) AS similarity,
               raw_cocitation, round(cosine_cocitation, 6) AS cosine_cocitation,
               round(jaccard_cocitation, 6) AS jaccard_cocitation,
               raw_bibcoupling, round(cosine_bibcoupling, 6) AS cosine_bibcoupling,
               round(jaccard_bibcoupling, 6) AS jaccard_bibcoupling
        FROM feat"""

  private def linkProbOracle: String = {
    val w = graft.analytics.LinkProb.DefaultWeights
    def imp(c: String) = s"coalesce(CAST($c AS DOUBLE), -2.0)"
    val z = s"(${graft.analytics.LinkProb.DefaultBias}" +
      s" + ${w("cross_correlation")} * (-2.0)" + // correlation features are null in this universe
      s" + ${w("window_cross_correlation")} * (-2.0)" +
      s" + ${w("year_diff")} * ${imp("year_diff")}" +
      s" + ${w("citing_paper_citationcount")} * ${imp("citing_paper_citationcount")}" +
      s" + ${w("cited_paper_citationcount")} * ${imp("cited_paper_citationcount")}" +
      s" + ${w("self_cite")} * ${imp("self_cite")}" +
      s" + ${w("similarity")} * ${imp("similarity")}" +
      s" + ${w("jaccard_cocitation")} * ${imp("jaccard_cocitation")}" +
      s" + ${w("jaccard_bibcoupling")} * ${imp("jaccard_bibcoupling")})"
    s"""$linkUniverseSql
        SELECT citingpaperID, citedpaperID, authorID,
               round(1.0 / (1.0 + exp(-$z)), 6) AS proba
        FROM feat"""
  }

  /** Tree-backend oracle: the shipped 16-tree literal model transcribed
    * to nested CASE expressions over the same imputed features — the
    * expression tree (and so the IEEE addition order) matches
    * TreeEnsemble.predictCol exactly, which is what lets round(...,6)
    * hash-match.
    */
  private def linkProbTreeOracle: String = {
    val m = graft.analytics.TreeModel64.Model
    def imp(f: String): String = f match {
      // correlation features are null in this universe, like linkProbOracle
      case "cross_correlation" | "window_cross_correlation" => "(-2.0)"
      case c => s"coalesce(CAST($c AS DOUBLE), -2.0)"
    }
    def node(t: Array[graft.analytics.TreeEnsemble.Node], i: Int): String = {
      val nd = t(i)
      if (nd.feature < 0) nd.prob.toString
      else s"(CASE WHEN ${imp(m.features(nd.feature))} < ${nd.threshold} " +
        s"THEN ${node(t, 2 * i)} ELSE ${node(t, 2 * i + 1)} END)"
    }
    val sum = m.trees.map(t => node(t, 1)).mkString(" + ")
    s"""$linkUniverseSql
        SELECT citingpaperID, citedpaperID, authorID,
               round(($sum) / ${m.numTrees}.0, 6) AS proba
        FROM feat"""
  }

  /** Venue-cascade oracle: stage table (0 exact, 1 contains, 2+k rewrite
    * k) joined to the dim with the same case-insensitive predicates, min
    * stage wins, unmatched keeps a null row — the SQL twin of
    * VenueMatch.resolve over the q_venue_match request construction.
    */
  private def venueMatchOracle: String = {
    val rewriteRows = graft.analytics.VenueMatch.Rewrites.zipWithIndex.map { case ((from, to), i) =>
      s"""SELECT original, replace(original, '$from', '$to') AS variant, ${i + 2} AS stage
          FROM req WHERE position('$from' IN original) > 0"""
    }.mkString(" UNION ALL ")
    s"""WITH p AS (SELECT p_partkey, p_name FROM part),
        req AS (
          SELECT p_name AS original FROM p WHERE p_partkey IN (1, 3)
          UNION SELECT string_split(p_name, ' ')[2] FROM p WHERE p_partkey IN (8, 10)
          UNION SELECT replace(p_name, ' ', '/') FROM p WHERE p_partkey = 9
          UNION SELECT replace(p_name, ' ', '_') FROM p WHERE p_partkey = 2),
        variants AS (
          SELECT original, original AS variant, 0 AS stage FROM req
          UNION ALL SELECT original, original, 1 FROM req
          UNION ALL $rewriteRows),
        matched AS (
          SELECT v.original, v.stage, p.p_partkey AS id, p.p_name AS name
          FROM variants v JOIN p ON
            CASE WHEN v.stage = 0 THEN lower(p.p_name) = lower(v.variant)
                 ELSE position(lower(v.variant) IN lower(p.p_name)) > 0 END),
        winners AS (
          SELECT DISTINCT original, id, name FROM (
            SELECT original, stage, id, name, min(stage) OVER (PARTITION BY original) AS best
            FROM matched) WHERE stage = best)
        SELECT r.original, w.id, w.name FROM req r LEFT JOIN winners w ON w.original = r.original"""
  }

  /** Scholar-name oracle: the comma-reorder has exactly two given tokens
    * by construction, so formatName unrolls to scalar string ops.
    */
  private def scholarNamesOracle: String =
    """WITH names AS (
         SELECT DISTINCT CASE WHEN p_partkey % 4 = 0 THEN p_name
           ELSE concat(string_split(p_name, ' ')[2], ', ', string_split(p_name, ' ')[1], ' ', p_brand)
         END AS name
         FROM part WHERE p_partkey <= 200),
       fmt AS (
         SELECT name AS original,
           CASE WHEN position(',' IN name) = 0 THEN name
             ELSE concat(
               CASE WHEN len(t1) = 1 THEN concat(t1, '. ') ELSE concat(t1, ' ') END,
               substr(t2, 1, 1), '. ', last)
           END AS formatted
         FROM (SELECT name,
                 string_split(name, ',')[1] AS last,
                 string_split(trim(string_split(name, ',')[2]), ' ')[1] AS t1,
                 string_split(trim(string_split(name, ',')[2]), ' ')[2] AS t2
               FROM names)),
       parts AS (SELECT original, formatted, string_split(trim(formatted), ' ') AS pp FROM fmt)
       SELECT original, formatted,
         CASE WHEN len(pp) = 2 THEN formatted
              ELSE concat(pp[1], ' ', pp[len(pp)]) END AS no_middle,
         concat(substr(pp[1], 1, 2), ' ', pp[len(pp)]) AS short2,
         concat(substr(pp[1], 1, 3), ' ', pp[len(pp)]) AS short3
       FROM parts"""

  /** Topic word merge+filter oracle: the per-topic sequential fold of
    * TopicWords.mergeTopic (merge_word.py:48-67) as a DuckDB RECURSIVE
    * CTE over the descending-prob word list, carrying the ordered
    * (key, prob) dict as a STRUCT list; lemma + unused-word + first-
    * containing-key semantics mirrored exactly, then filter_word.py's
    * first-5-or-prob>=0.01 keep rule.
    */
  private def topicWordsOracle: String = {
    val unused = graft.analytics.TopicWords.UnusedWords.toSeq.sorted.map(w => s"'$w'").mkString(", ")
    val empty = "CAST([] AS STRUCT(k VARCHAR, p DOUBLE)[])"
    s"""WITH RECURSIVE toks AS MATERIALIZED (
          SELECT doc_id % 5 AS topicID, tok AS word, count(*) AS n
          FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok FROM documents)
          WHERE len(tok) > 0 GROUP BY 1, 2),
        tot AS (SELECT topicID, sum(n) AS t FROM toks GROUP BY 1),
        ranked AS MATERIALIZED (
          SELECT t.topicID, t.word, t.n / CAST(tot.t AS DOUBLE) AS prob,
                 row_number() OVER (PARTITION BY t.topicID ORDER BY t.n DESC, t.word) AS rn
          FROM toks t JOIN tot USING (topicID)),
        lemmed AS MATERIALIZED (
          SELECT topicID, rn, word, prob,
            CASE
              WHEN w LIKE '%ies' AND len(w) > 4 THEN substr(w, 1, len(w) - 3) || 'y'
              WHEN w LIKE '%sses' THEN substr(w, 1, len(w) - 2)
              WHEN w LIKE '%xes' OR w LIKE '%ches' OR w LIKE '%shes' THEN substr(w, 1, len(w) - 2)
              WHEN w LIKE '%s' AND w NOT LIKE '%ss' AND w NOT LIKE '%us' AND len(w) > 3 THEN substr(w, 1, len(w) - 1)
              ELSE w END AS lem
          FROM (SELECT topicID, rn, word, prob,
                  CASE WHEN word = 'visualisation' THEN 'visualization' ELSE word END AS w
                FROM ranked WHERE rn <= 20)),
        fold(topicID, i, st) AS (
          SELECT topicID, 0, $empty FROM (SELECT DISTINCT topicID FROM lemmed)
          UNION ALL
          SELECT f.topicID, f.i + 1,
            CASE
              WHEN o.word IN ($unused) THEN f.st
              WHEN len(coalesce(list_filter(f.st, x -> position(o.lem IN x.k) > 0), $empty)) > 0 THEN
                list_transform(f.st, (x, j) -> CASE
                  WHEN j = list_filter(list_transform(f.st, (y, jj) ->
                         CASE WHEN position(o.lem IN y.k) > 0 THEN jj END), z -> z IS NOT NULL)[1]
                  THEN struct_pack(k := x.k, p := x.p + o.prob) ELSE x END)
              ELSE list_append(f.st, struct_pack(k := o.lem, p := o.prob))
            END
          FROM fold f JOIN lemmed o ON o.topicID = f.topicID AND o.rn = f.i + 1),
        final AS (SELECT topicID, max_by(st, i) AS st FROM fold GROUP BY 1),
        filt AS (
          SELECT topicID, list_filter(
            list_sort(list_transform(st, (x, i) -> struct_pack(np := -x.p, i := i, k := x.k, p := x.p))),
            (x, i) -> i <= 5 OR x.p >= 0.01) AS keep
          FROM final)
        SELECT topicID, u.k AS word, round(u.p, 6) AS prob
        FROM (SELECT topicID, unnest(keep) AS u FROM filt)"""
  }

  /** Export oracle: the per-author node/edge counts + prob sum computed
    * straight from the base tables (the Spark side parses the same three
    * numbers back out of its JSON export).
    */
  private def exportGraphOracle: String =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_partkey <= 30),
       raw_e AS (SELECT DISTINCT x.l_orderkey AS citing, y.l_orderkey AS cited
                 FROM li x JOIN li y ON x.l_partkey = y.l_partkey AND x.l_orderkey > y.l_orderkey),
       edges AS (SELECT r.citing, r.cited, o.o_custkey AS authorID
                 FROM raw_e r JOIN orders o ON o.o_orderkey = r.citing),
       kept AS (SELECT authorID, (citing % 100) / 100.0 AS prob FROM edges
                WHERE (citing % 100) / 100.0 >= 0.3),
       eagg AS (SELECT authorID, CAST(count(*) AS BIGINT) AS n_edges,
                       round(sum(prob), 6) AS sum_prob
                FROM kept GROUP BY 1),
       nagg AS (SELECT o_custkey AS authorID, CAST(count(*) AS BIGINT) AS n_nodes
                FROM orders GROUP BY 1)
       SELECT n.authorID, n.n_nodes, coalesce(e.n_edges, 0) AS n_edges,
              coalesce(e.sum_prob, 0.0) AS sum_prob
       FROM nagg n LEFT JOIN eagg e USING (authorID)"""

  /** isKeyPaper oracle: the full supervisor-rate pipeline
    * (compute_key_papers.py:107-206 via analytics.KeyPapers) in DuckDB
    * list SQL — per-author year/count lists, coupled prefix sums with
    * year/paper decay modifiers, the O(Y^2) windowed max over [s,e]
    * spans, and the supervising-rate back-off, plus the 1.0 first-author
    * and 1/authorOrder fallback paths.
    */
  private def keyPapersOracle: String = {
    import graft.analytics.KeyPapers._
    // supervisedYearModifier(j0) / supervisedPaperModifier(x) as SQL over
    // a 0-based index j0 / a truncated running count x
    def ym(j0: String) =
      s"(CASE WHEN ($j0) < $MaxSupervisedYear THEN 1.0 ELSE exp(-ln(2) * (($j0) - ${MaxSupervisedYear - 1}) / $HalfSupervisedYear) END)"
    def pm(x: String) =
      s"(CASE WHEN ($x) < $MaxSupervisedPaper THEN 1.0 ELSE exp(-ln(2) * (($x) - ${MaxSupervisedPaper - 1}) / $HalfSupervisedPaper) END)"
    val maxYears = MaxAcademicYear + 1
    s"""WITH pa AS MATERIALIZED (
          SELECT l_orderkey AS paperID, l_suppkey AS authorID, l_linenumber AS authorOrder
          FROM lineitem WHERE NOT (l_linenumber = 1 AND l_orderkey % 7 = 0)),
        papers AS MATERIALIZED (
          SELECT o_orderkey AS paperID, year(o_orderdate) AS year FROM orders),
        top AS (SELECT s_suppkey AS authorID FROM supplier WHERE s_suppkey <= 25),
        pairsAll AS MATERIALIZED (
          SELECT pa.authorID, pa.paperID, p.year, min(pa.authorOrder) AS authorOrder
          FROM pa JOIN top USING (authorID) JOIN papers p USING (paperID)
          GROUP BY 1, 2, 3),
        firstAuthor AS (SELECT paperID, authorID AS firstAuthorID FROM pa WHERE authorOrder = 1),
        faPairs AS MATERIALIZED (
          SELECT DISTINCT pf.authorID, fa.firstAuthorID AS authorID_first
          FROM (SELECT pa.paperID, pa.authorID FROM pa JOIN top USING (authorID) WHERE pa.authorOrder > 1) pf
          JOIN firstAuthor fa USING (paperID)),
        pjoined AS MATERIALIZED (
          SELECT pa.authorID, pa.authorOrder, p.year, CAST(count(*) AS DOUBLE) AS cnt
          FROM pa JOIN papers p USING (paperID) GROUP BY 1, 2, 3),
        pcnt AS (SELECT authorID, year, sum(cnt) AS c FROM pjoined GROUP BY 1, 2),
        wcnt AS (SELECT authorID, year, sum(cnt * 6 / authorOrder) / 6 AS c FROM pjoined
                 WHERE authorOrder <= $MinStudentAuthorOrder GROUP BY 1, 2),
        codist AS MATERIALIZED (
          SELECT DISTINCT fp.authorID_first, fp.authorID, pa1.paperID, pa1.authorOrder, p.year
          FROM faPairs fp
          JOIN (SELECT paperID, authorID AS af, authorOrder FROM pa
                WHERE authorOrder <= $MinStudentAuthorOrder) pa1 ON pa1.af = fp.authorID_first
          JOIN pa pa2 ON pa2.authorID = fp.authorID AND pa2.paperID = pa1.paperID
          JOIN papers p ON p.paperID = pa1.paperID
          WHERE pa1.authorOrder < pa2.authorOrder),
        cojoined AS (SELECT authorID_first, authorID, authorOrder, year, CAST(count(*) AS DOUBLE) AS cnt
                     FROM codist GROUP BY 1, 2, 3, 4),
        cow AS (SELECT authorID_first, authorID, year, sum(cnt * 6 / authorOrder) / 6 AS c FROM cojoined GROUP BY 1, 2, 3),
        cop AS (SELECT authorID_first, authorID, year, sum(cnt) AS c FROM cojoined GROUP BY 1, 2, 3),
        sylist AS (SELECT authorID, list_sort(list_distinct(list(year))) AS years
                   FROM (SELECT pa.authorID, p.year FROM pa JOIN papers p USING (paperID))
                   GROUP BY 1),
        falist AS (SELECT authorID, list(struct_pack(year := year, c := c) ORDER BY year) AS l FROM wcnt GROUP BY 1),
        suplist AS (SELECT authorID, list(struct_pack(year := year, c := c) ORDER BY year) AS l FROM pcnt GROUP BY 1),
        cwlist AS (SELECT authorID_first, authorID, list(struct_pack(year := year, c := c) ORDER BY year) AS l
                   FROM cow GROUP BY 1, 2),
        cplist AS (SELECT authorID_first, authorID, list(struct_pack(year := year, c := c) ORDER BY year) AS l
                   FROM cop GROUP BY 1, 2),
        base AS MATERIALIZED (
          SELECT pr.authorID, pr.paperID, pr.year, pr.authorOrder, fa.firstAuthorID,
                 list_slice(coalesce(sy.years, CAST([] AS BIGINT[])), 1, $maxYears) AS sy2,
                 fw.l AS faw, sp.l AS supc, cw.l AS caw, cp.l AS coc
          FROM pairsAll pr
          LEFT JOIN firstAuthor fa USING (paperID)
          LEFT JOIN sylist sy ON sy.authorID = fa.firstAuthorID
          LEFT JOIN falist fw ON fw.authorID = fa.firstAuthorID
          LEFT JOIN suplist sp ON sp.authorID = pr.authorID
          LEFT JOIN cwlist cw ON cw.authorID_first = fa.firstAuthorID AND cw.authorID = pr.authorID
          LEFT JOIN cplist cp ON cp.authorID_first = fa.firstAuthorID AND cp.authorID = pr.authorID),
        c2 AS MATERIALIZED (
          SELECT *, len(sy2) AS L, list_position(sy2, year) AS yi1,
            list_transform(sy2, y -> coalesce(list_filter(faw, s -> s.year = y)[1].c, 0.0)) AS fav,
            list_transform(sy2, y -> coalesce(list_filter(caw, s -> s.year = y)[1].c, 0.0)) AS cav
          FROM base),
        c3 AS MATERIALIZED (
          SELECT *,
            list_transform(generate_series(1, L), i -> coalesce(list_sum(list_slice(fav, 1, i - 1)), 0.0)) AS ss,
            list_transform(generate_series(1, L), i ->
              coalesce(list_sum(list_slice(list_reverse(fav), 1, L - i)), 0.0)) AS es
          FROM c2),
        c4 AS MATERIALIZED (
          SELECT *,
            list_transform(generate_series(1, L), i ->
              coalesce(list_sum(list_transform(generate_series(1, i - 1), j ->
                cav[j] * least(${ym("j - 1")}, ${pm("trunc(ss[j])")}))), 0.0)) AS sc,
            list_transform(generate_series(1, L), i ->
              coalesce(list_sum(list_slice(list_transform(generate_series(1, L), k ->
                cav[L - k + 1] * least(${ym("k - 1")}, ${pm("trunc(ss[k])")})), 1, L - i)), 0.0)) AS ec
          FROM c3),
        c5 AS MATERIALIZED (
          SELECT *,
            ss[yi1] + es[yi1] + coalesce(list_filter(faw, s -> s.year = year)[1].c, 0.0) AS ts,
            sc[yi1] + ec[yi1] + coalesce(list_filter(caw, s -> s.year = year)[1].c, 0.0) *
              least(${ym("yi1 - 1")}, ${pm("trunc(ss[yi1])")}) AS tc
          FROM c4),
        c6 AS MATERIALIZED (
          SELECT *,
            greatest(coalesce(list_max(list_filter(flatten(list_transform(generate_series(1, yi1), s1 ->
              list_transform(generate_series(yi1, L), e1 -> CASE
                WHEN (e1 - s1 + 1) >= $MinSupervisedYearSpan
                     AND (ts - ss[s1] - es[e1]) >= $MinSupervisedPaperSpan
                THEN (tc - sc[s1] - ec[e1]) / (ts - ss[s1] - es[e1]) END))),
              x -> x IS NOT NULL)), 0.0), 0.0) AS maxrate0,
            coalesce(list_sum(list_transform(list_filter(supc, s -> s.year < year), s -> s.c)), 0.0) AS tsup,
            coalesce(list_sum(list_transform(list_filter(coc, s -> s.year < year), s -> s.c)), 0.0) AS tcop
          FROM c5)
        SELECT authorID, paperID, CAST(year AS BIGINT) AS year,
          CAST(authorOrder AS BIGINT) AS authorOrder,
          round(CASE
            WHEN firstAuthorID IS NULL THEN 1.0 / authorOrder
            WHEN firstAuthorID = authorID THEN 1.0
            WHEN coalesce(yi1, 0) < 1 OR caw IS NULL OR len(caw) = 0 THEN 0.0
            ELSE least(1.0, maxrate0 / $MinSupervisedRate) *
                 (CASE WHEN tsup - tcop <= 0 THEN 0.0
                       WHEN tcop = 0 THEN least(1.0, $MinSupervisingRate / $MinSupervisingRate)
                       ELSE least(1.0, ((tsup - tcop) / tcop) / $MinSupervisingRate) END)
            END, 6) AS isKeyPaper
        FROM c6"""
  }

  private def keyPapersDistOracle: String =
    s"""SELECT CAST(count(*) AS BIGINT) AS n,
        round(avg(CASE WHEN isKeyPaper = 0.0 THEN 1.0 ELSE 0.0 END), 6) AS p_zero,
        round(avg(CASE WHEN isKeyPaper > 0.0 AND isKeyPaper < 1.0 THEN 1.0 ELSE 0.0 END), 6) AS p_mid,
        round(avg(CASE WHEN isKeyPaper = 1.0 THEN 1.0 ELSE 0.0 END), 6) AS p_one,
        round(avg(CASE WHEN isKeyPaper >= 0.5 THEN 1.0 ELSE 0.0 END), 6) AS p_ge_half,
        round(avg(isKeyPaper), 6) AS mean,
        round(var_samp(isKeyPaper), 6) AS variance,
        round(CAST(median(isKeyPaper) AS DOUBLE), 6) AS median
        FROM ($keyPapersOracle) kp"""

  def oracleSql: Map[String, String] = Map(
    "q_link_corr" -> linkCorrOracle,
    "q_compare_name" -> compareNameOracle,
    "q_topic_words" -> topicWordsOracle,
    "q_export_graph" -> exportGraphOracle,
    "q_key_papers" -> keyPapersOracle,
    "q_key_papers_dist" -> keyPapersDistOracle,
    "q_upsert" ->
      """SELECT count(*) AS n,
         CAST(sum(CASE WHEN doc_id % 3 = 0 THEN n_chars + 1000 ELSE n_chars END) AS BIGINT) AS total_chars
         FROM documents""",
    "q_abstract_merge" ->
      """WITH abs AS (SELECT doc_id % 100 AS paperID,
           CASE WHEN doc_id % 3 = 0 THEN concat('Abstract ', text) ELSE text END AS abstract
           FROM documents),
         cleaned AS (SELECT paperID,
           CASE WHEN substr(abstract, 1, 8) IN ('Abstract', 'ABSTRACT', 'abstract')
                THEN trim(substr(abstract, 9)) ELSE abstract END AS abstract
           FROM abs WHERE len(abstract) > 0)
         SELECT paperID, string_agg(DISTINCT abstract, chr(10) ORDER BY abstract) AS abstract
         FROM cleaned GROUP BY 1""",
    "q_csv_roundtrip" ->
      """SELECT count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total_chars,
         count(DISTINCT doc_id) AS n_docs FROM documents""",
    "q_regex_filter" ->
      """SELECT lang, count(*) AS n FROM documents
         WHERE regexp_matches(text, '(?i)\bdata\w*\b') GROUP BY 1""",
    "q_nfkd" ->
      """SELECT c_custkey,
         translate(lower(c_name), 'aeiou', 'áèîõü') AS accented,
         strip_accents(translate(lower(c_name), 'aeiou', 'áèîõü')) AS stripped
         FROM customer WHERE c_custkey <= 500""",
    "q_name_pairs" ->
      """SELECT a.p_partkey AS id1, b.p_partkey AS id2,
         round(CAST(levenshtein(a.p_name, b.p_name) AS DOUBLE) /
               (len(a.p_name) + len(b.p_name)), 6) AS lev_dis
         FROM part a, part b
         WHERE a.p_partkey <= 400 AND b.p_partkey <= 400 AND a.p_partkey < b.p_partkey
           AND abs(len(a.p_name) - len(b.p_name)) / CAST(len(a.p_name) + len(b.p_name) AS DOUBLE) <= 0.1
           AND CAST(levenshtein(a.p_name, b.p_name) AS DOUBLE) / (len(a.p_name) + len(b.p_name)) <= 0.1""",
    "q_union_two_joins" ->
      """SELECT n_name, kind, count(*) AS n FROM (
           SELECT n_name, 'supplier' AS kind FROM supplier JOIN nation ON s_nationkey = n_nationkey
           UNION ALL
           SELECT n_name, 'customer' FROM customer JOIN nation ON c_nationkey = n_nationkey)
         GROUP BY 1, 2""",
    "q_venue_match" -> venueMatchOracle,
    "q_scholar_names" -> scholarNamesOracle,
    "q_author_merge" ->
      """WITH pa AS (
           SELECT DISTINCT o_orderkey AS paperID,
             CASE WHEN o_custkey % 10 = 7 THEN o_custkey - 4 ELSE o_custkey END AS authorID
           FROM orders),
         papers AS (SELECT l_orderkey AS paperID, count(*) AS c FROM lineitem GROUP BY 1),
         wc AS (SELECT pa.authorID, coalesce(p.c, 0) AS c FROM pa LEFT JOIN papers p USING (paperID)),
         ranked AS (SELECT authorID, c, row_number() OVER (PARTITION BY authorID ORDER BY c DESC) AS rn FROM wc)
         SELECT authorID,
           count(*) AS PaperCount,
           CAST(sum(c) AS BIGINT) AS CitationCount,
           CAST(sum(CASE WHEN c >= rn THEN 1 ELSE 0 END) AS BIGINT) AS hIndex
         FROM ranked GROUP BY 1""",
    "q_pagerank_parts" -> pagerankOracle(20),
    "q_pagerank_csr" -> pagerankOracle(20),
    "q_lpa_parts" -> lpaOracle(10),
    "q_minhash_lsh" -> minhashOracle,
    "q_simhash" -> simhashOracle,
    "q_embed" -> embedOracle,
    "q_link_features" -> linkFeaturesOracle,
    "q_link_prob" -> linkProbOracle,
    "q_link_prob_tree" -> linkProbTreeOracle,
    "q_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 4) AS sum_qty,
         round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
         round(avg(l_discount), 6) AS avg_disc,
         count(*) AS n
         FROM lineitem GROUP BY 1, 2""",
    "q_join3_nation" ->
      """SELECT n_name, count(*) AS n_orders, round(sum(o_totalprice), 4) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY 1""",
    "q_semi_join" ->
      """SELECT l_returnflag, count(*) AS n FROM lineitem
         WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 100000)
         GROUP BY 1""",
    "q_anti_join" ->
      """SELECT c_custkey FROM customer
         WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""",
    "q_left_join_fill" ->
      """SELECT c_custkey, CAST(coalesce(c, 0) AS BIGINT) AS n_orders
         FROM customer LEFT JOIN
         (SELECT o_custkey, count(*) AS c FROM orders GROUP BY 1) o
         ON c_custkey = o_custkey""",
    "q_topk_ties" ->
      """WITH spend AS (SELECT o_custkey, round(sum(o_totalprice), 4) AS spend
                        FROM orders GROUP BY 1)
         SELECT o_custkey, spend FROM
         (SELECT o_custkey, spend, rank() OVER (ORDER BY spend DESC) AS r FROM spend)
         WHERE r <= 10""",
    "q_hll_distinct" -> hllOracle,
    "q_det_sample" ->
      s"""SELECT c_custkey, c_name FROM customer
          ORDER BY ${md5h60("CAST(c_custkey AS VARCHAR)", 0)}, CAST(c_custkey AS VARCHAR)
          LIMIT 20""",
    "q_head_k" ->
      """SELECT c_nationkey, c_custkey, c_acctbal FROM
         (SELECT c_nationkey, c_custkey, c_acctbal,
            rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS r
          FROM customer)
         WHERE r <= 5""",
    "q_hindex" ->
      """WITH cites AS (
           SELECT o_custkey, count(*) AS c FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey GROUP BY o_custkey, l_orderkey),
         ranked AS (
           SELECT o_custkey, c, row_number() OVER (PARTITION BY o_custkey ORDER BY c DESC) AS rn
           FROM cites)
         SELECT o_custkey, CAST(sum(CASE WHEN c >= rn THEN 1 ELSE 0 END) AS BIGINT) AS h_index
         FROM ranked GROUP BY 1""",
    "q_window_cumsum" ->
      """SELECT o_custkey, o_orderkey,
         round(sum(o_totalprice) OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running
         FROM orders""",
    "q_gap_fill" ->
      """WITH per AS (SELECT o_custkey, year(o_orderdate) AS y, count(*) AS c
                      FROM orders GROUP BY 1, 2),
         span AS (SELECT o_custkey, min(y) AS y0, max(y) AS y1 FROM per GROUP BY 1),
         yrs AS (SELECT o_custkey, unnest(generate_series(y0, y1)) AS year FROM span)
         SELECT yrs.o_custkey, CAST(yrs.year AS BIGINT) AS year,
                CAST(coalesce(per.c, 0) AS BIGINT) AS n_orders
         FROM yrs LEFT JOIN per ON per.o_custkey = yrs.o_custkey AND per.y = yrs.year""",
    "q_distinct_pairs" ->
      "SELECT DISTINCT l_partkey, l_suppkey FROM lineitem",
    "q_union_nodes" ->
      """SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
         UNION SELECT DISTINCT CAST(s_nationkey AS BIGINT) FROM supplier""",
    "q_hist_year_priority" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS y, o_orderpriority, count(*) AS n
         FROM orders GROUP BY 1, 2""",
    "q_stats_disc" ->
      """SELECT count(*) AS n,
         round(avg(CASE WHEN l_discount = 0.0 THEN 1.0 ELSE 0.0 END), 6) AS p_zero,
         round(avg(CASE WHEN l_discount >= 0.05 THEN 1.0 ELSE 0.0 END), 6) AS p_ge_half_decile,
         round(avg(l_discount), 6) AS mean,
         round(var_pop(l_discount), 6) AS variance,
         round(CAST(median(l_discount) AS DOUBLE), 6) AS median
         FROM lineitem""",
    "q_common_neighbors" ->
      """WITH adj AS (SELECT DISTINCT l_partkey AS node, l_orderkey AS nbr FROM lineitem),
         deg AS (SELECT node, count(*) AS deg FROM adj GROUP BY 1),
         keys AS (SELECT p_partkey FROM part WHERE p_partkey <= 40),
         pairs AS (SELECT a.p_partkey AS a, b.p_partkey AS b
                   FROM keys a, keys b WHERE a.p_partkey < b.p_partkey),
         raw AS (SELECT p.a, p.b, count(*) AS raw
                 FROM pairs p
                 JOIN adj x ON x.node = p.a
                 JOIN adj y ON y.node = p.b AND y.nbr = x.nbr
                 GROUP BY 1, 2)
         SELECT r.a, r.b, r.raw,
                round(r.raw / sqrt(da.deg * db.deg), 6) AS cosine,
                round(r.raw / (da.deg + db.deg - r.raw), 6) AS jaccard
         FROM raw r JOIN deg da ON da.node = r.a JOIN deg db ON db.node = r.b
         WHERE r.raw > 0""",
    "q_triangle_count" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         e AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
               FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey)
         SELECT count(*) AS n_triangles
         FROM e e1 JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
         JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b""",
    "q_cc_parts" ->
      """WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         e AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
               FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
         bidir AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
         reach(v, u) AS (
           SELECT a, a FROM bidir
           UNION
           SELECT reach.v, bidir.b FROM reach JOIN bidir ON reach.u = bidir.a)
         SELECT CAST(v AS BIGINT) AS id, CAST(min(u) AS BIGINT) AS component
         FROM reach GROUP BY 1""",
    "q_dedup_exact" ->
      """SELECT md5(text) AS text_md5, min(doc_id) AS keep_id, count(*) AS dup_count
         FROM documents GROUP BY 1""",
    "q_ngram_jaccard" ->
      """WITH docs AS (SELECT doc_id AS id,
                       regexp_replace(lower(text), '\s+', ' ', 'g') AS t
                       FROM documents WHERE doc_id < 100),
         sh AS (SELECT DISTINCT id, substr(t, i, 3) AS shingle
                FROM docs, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i)
                WHERE len(t) >= 3),
         df AS (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 1000),
         pruned AS (SELECT sh.id, sh.shingle FROM sh JOIN df USING (shingle)),
         sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY 1),
         inter AS (SELECT x.id AS a, y.id AS b, count(*) AS raw
                   FROM pruned x JOIN pruned y ON x.shingle = y.shingle AND x.id < y.id
                   GROUP BY 1, 2)
         SELECT a, b, round(raw / (sa.sz + sb.sz - raw), 6) AS jaccard
         FROM inter JOIN sizes sa ON sa.id = a JOIN sizes sb ON sb.id = b
         WHERE raw / (sa.sz + sb.sz - raw) >= 0.3""",
    "q_token_counts" ->
      """SELECT doc_id,
         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_ws,
         CAST(len(regexp_extract_all(text,
           '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+')) AS BIGINT) AS n_bpe
         FROM documents""",
    "q_lang_id" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS tk FROM documents),
         scores AS (SELECT doc_id,
           len(list_filter(tk, x -> x IN ('the','and','of','to','in','is','that','it','was','for','with','are'))) AS h_en,
           len(list_filter(tk, x -> x IN ('der','die','das','und','ist','nicht','mit','ein','eine','zu','den','von'))) AS h_de,
           len(list_filter(tk, x -> x IN ('le','la','les','et','est','pas','des','une','dans','que','pour','du'))) AS h_fr,
           len(list_filter(tk, x -> x IN ('el','la','los','las','es','una','del','que','por','con','para','como'))) AS h_es
           FROM toks)
         SELECT doc_id, CASE
           WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
           WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es THEN 'en'
           WHEN h_de >= h_fr AND h_de >= h_es THEN 'de'
           WHEN h_fr >= h_es THEN 'fr'
           ELSE 'es' END AS lang_id
         FROM scores""",
    "q_substr_filter" ->
      """SELECT lang, count(*) AS n FROM documents
         WHERE position('data' IN lower(text)) > 0 GROUP BY 1""",
    "q_ann_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
                    FROM embeddings WHERE vec_id < 3),
         emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings),
         scored AS (SELECT q.query_id, e.vec_id,
             CASE WHEN list_dot_product(e.embedding, e.embedding) = 0
                    OR list_dot_product(q.qe, q.qe) = 0 THEN 0.0
                  ELSE list_dot_product(q.qe, e.embedding) /
                       (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(e.embedding, e.embedding)))
             END AS cosine
             FROM q, emb e WHERE e.vec_id <> q.query_id)
         SELECT query_id, vec_id, rank FROM
         (SELECT query_id, vec_id,
            CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank
          FROM scored)
         WHERE rank <= 5""",
    "q_levenshtein_pairs" ->
      """SELECT a.p_partkey AS a, b.p_partkey AS b,
         CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS lev
         FROM part a, part b
         WHERE a.p_partkey <= 100 AND b.p_partkey <= 100 AND a.p_partkey < b.p_partkey
           AND levenshtein(a.p_name, b.p_name) <= 12""",
    "q_band_join" ->
      """SELECT s_suppkey, c_custkey FROM supplier JOIN customer
         ON c_acctbal >= s_acctbal * 0.995 AND c_acctbal <= s_acctbal * 1.005
         AND s_acctbal > 0""",
    "q_events_hourly" ->
      """SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n,
         round(avg(value), 6) AS avg_value
         FROM events GROUP BY 1, 2""",
    "q_group_concat" ->
      """SELECT l_orderkey, string_agg(p_name, ', ' ORDER BY l_linenumber, p_name) AS part_names
         FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1""",
    "q_first_per_group" ->
      """SELECT o_custkey, first_orderkey, first_total FROM
         (SELECT o_custkey, o_orderkey AS first_orderkey,
            round(o_totalprice, 4) AS first_total,
            row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
          FROM orders)
         WHERE rn = 1""",
    "q_hsv_hex" ->
      """WITH base AS (
           SELECT p_partkey,
                  CAST(p_partkey % 21 - 10 AS DOUBLE) AS x,
                  CAST(p_partkey % 17 - 8 AS DOUBLE) AS y
           FROM part WHERE p_partkey <= 200),
         nz AS (SELECT * FROM base WHERE x <> 0 OR y <> 0),
         mx AS (SELECT max(sqrt(x*x + y*y)) AS maxnorm FROM nz),
         hsv AS (
           SELECT p_partkey,
                  fmod(degrees(atan2(y, x)) + 360.0, 360.0) AS h,
                  least(sqrt(x*x + y*y) / maxnorm, 1.0) AS s,
                  1.0 AS v
           FROM nz, mx),
         c1 AS (SELECT *, fmod(fmod(h, 360) + 360, 360) / 60.0 AS hh FROM hsv),
         c2 AS (SELECT *, CAST(floor(hh) AS INT) % 6 AS i, hh - floor(hh) AS f FROM c1),
         c3 AS (SELECT *, v*(1-s) AS p, v*(1-f*s) AS q, v*(1-(1-f)*s) AS t FROM c2),
         rgb AS (
           SELECT p_partkey, h, s,
                  CASE i WHEN 0 THEN v WHEN 1 THEN q WHEN 2 THEN p WHEN 3 THEN p WHEN 4 THEN t ELSE v END AS r,
                  CASE i WHEN 0 THEN t WHEN 1 THEN v WHEN 2 THEN v WHEN 3 THEN q WHEN 4 THEN p ELSE p END AS g,
                  CASE i WHEN 0 THEN p WHEN 1 THEN p WHEN 2 THEN t WHEN 3 THEN v WHEN 4 THEN v ELSE q END AS b
           FROM c3)
         SELECT p_partkey, round(h, 6) AS hue, round(s, 6) AS sat,
                printf('#%02x%02x%02x',
                       CAST(round(r*255) AS INT),
                       CAST(round(g*255) AS INT),
                       CAST(round(b*255) AS INT)) AS hex
         FROM rgb""",
    "q_inverted_abstract" ->
      """SELECT doc_id,
                array_to_string(list_filter(regexp_split_to_array(trim(text), '\s+'), w -> w <> ''), ' ') AS rebuilt
         FROM documents WHERE trim(text) <> ''""",
    "q_ntriples" ->
      """SELECT concat('urn:sup:', s_suppkey) AS subject, 'urn:p:name' AS predicate, s_name AS obj
         FROM supplier WHERE s_suppkey <= 200
         UNION ALL
         SELECT concat('urn:sup:', s_suppkey), 'urn:p:nation', concat('urn:nat:', s_nationkey)
         FROM supplier WHERE s_suppkey <= 200
         UNION ALL
         SELECT concat('urn:sup:', s_suppkey), 'urn:p:contact', concat(s_name, chr(10), 'nation ', s_nationkey)
         FROM supplier WHERE s_suppkey <= 200""",
    "q_ann_lsh" -> annLshOracle,
    "q_kmeans" -> kmeansOracle,
    "q_ann_ivf" -> annIvfOracle,
    "q_media_features" -> mediaFeaturesOracle,
    "q_salted_agg" ->
      """SELECT l_partkey AS key, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum
         FROM lineitem GROUP BY 1""",
    "q_salted_join" ->
      """SELECT p_brand, count(*) AS n, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS tq
         FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1""",
    "q_quality_fp" -> qualityFpOracle,
    "q_near_dup" -> nearDupOracle,
    "q_audio_features" -> audioFeaturesOracle,
    "q_video_frames" -> videoFramesOracle,
    "q_quantiles" ->
      """SELECT l_returnflag,
         round(quantile_cont(l_quantity, 0.25), 6) AS q25,
         round(quantile_cont(l_quantity, 0.5), 6) AS q50,
         round(quantile_cont(l_quantity, 0.75), 6) AS q75,
         round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price
         FROM lineitem GROUP BY 1"""
  )

  /** DuckDB twin of the q_quality_fp pipeline: the quality blend's four
    * components re-derived with the IDENTICAL double op order as
    * TextAnalysis.qualityScoreRaw (left-to-right blend, same int→double
    * promotions), quantized to integer micro-units; the fingerprint
    * replays the Rabin-Karp fold ((acc*31) mod M + c) mod M over the
    * char codes of the whitespace-normalized lowercased text (documents
    * are ASCII, so ascii() agrees between engines on every char).
    * Stopword lists are generated from TextAnalysis.stopwords — one
    * source of truth.
    */
  private def qualityFpOracle: String = {
    def hits(lang: String) = {
      val inList = TextAnalysis.stopwords(lang).map(w => s"'$w'").mkString(", ")
      s"len(list_filter(str_split_regex(lower(text), '\\s+'), t -> t IN ($inList)))"
    }
    s"""WITH base AS (
           SELECT doc_id, text,
             length(text) AS nchars,
             len(list_filter(str_split_regex(text, '\\s+'), t -> t <> '')) AS ntoks,
             length(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS nalpha,
             (${hits("en")} + ${hits("de")} + ${hits("fr")} + ${hits("es")}) AS swhits
           FROM documents),
         parts AS (
           SELECT doc_id, text,
             CASE WHEN nchars >= 200 AND nchars <= 50000 THEN 1.0
                  WHEN nchars >= 50 THEN 0.5 ELSE 0.1 END AS len_score,
             (nalpha + 0.0) / (nchars + 1.0) AS alpha_ratio,
             least(swhits * 8.0 / (ntoks + 1.0), 1.0) AS sw_density,
             CASE WHEN (nchars + 0.0) / (ntoks + 1.0) >= 3
                   AND (nchars + 0.0) / (ntoks + 1.0) <= 12 THEN 1.0 ELSE 0.3 END AS wl_score
           FROM base)
       SELECT doc_id,
         CAST(floor((len_score*0.3 + alpha_ratio*0.3 + sw_density*0.2 + wl_score*0.2)*1e6 + 0.5) AS BIGINT) AS quality_micro,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(str_split_regex(regexp_replace(lower(text), '\\s+', ' ', 'g'), ''),
               c -> CAST(ascii(c) AS BIGINT))),
           (acc, c) -> ((acc * 31) % 2147483647 + c) % 2147483647) AS fp
       FROM parts"""
  }

  /** DuckDB twin of the q_near_dup pipeline: re-plants the perturbed
    * twins (same float rounding: double nudge, CAST back to FLOAT),
    * regenerates the IDENTICAL seeded md5 plane constants, and replays
    * signatures → banded bucket join → exact-cosine verify in SQL.
    */
  private def nearDupOracle: String = {
    val pl = Similarity.planes(numPlanes = 16, dim = 64, seed = 42)
    val planeRows = pl.zipWithIndex
      .map { case (v, p) => s"($p, [${v.mkString(", ")}])" }
      .mkString(",\n             ")
    s"""WITH planes AS MATERIALIZED (SELECT * FROM (VALUES
             $planeRows) t(p, v)),
         base AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
         planted AS MATERIALIZED (
           SELECT vec_id + 10000 AS vec_id,
                  list_concat([CAST(embedding[1] + (vec_id % 5 + 1) * 0.01 AS FLOAT)],
                              embedding[2:]) AS embedding
           FROM base WHERE vec_id < 20),
         corpus AS MATERIALIZED (
           SELECT * FROM base UNION ALL SELECT * FROM planted),
         emb AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM corpus),
         sig AS MATERIALIZED (
           SELECT m.vec_id,
                  CAST(sum(CASE WHEN list_dot_product(m.e, pl.v) >= 0
                                THEN (CAST(1 AS BIGINT) << pl.p) ELSE 0 END) AS BIGINT) AS bucket
           FROM emb m, planes pl GROUP BY m.vec_id),
         banded AS MATERIALIZED (
           SELECT s.vec_id, b.band, (s.bucket >> (CAST(b.band AS INT) * 4)) & 15 AS key
           FROM sig s, (SELECT unnest(range(4)) AS band) b),
         cand AS MATERIALIZED (
           SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
           FROM banded x JOIN banded y ON x.band = y.band AND x.key = y.key
           WHERE x.vec_id < y.vec_id),
         scored AS (
           SELECT cand.a, cand.b,
             CASE WHEN sqrt(list_dot_product(ea.e, ea.e)) = 0 OR sqrt(list_dot_product(eb.e, eb.e)) = 0 THEN 0.0
                  ELSE list_dot_product(ea.e, eb.e) /
                       (sqrt(list_dot_product(ea.e, ea.e)) * sqrt(list_dot_product(eb.e, eb.e))) END AS cosine
           FROM cand JOIN emb ea ON ea.vec_id = cand.a JOIN emb eb ON eb.vec_id = cand.b)
       SELECT a, b, round(cosine, 6) AS cosine FROM scored WHERE cosine >= 0.95"""
  }

  /** DuckDB twin of Similarity.lshTopK(k=5, dim=64, numPlanes=16,
    * bands=4): the plane constants are generated from the IDENTICAL
    * seeded md5 values the engine uses, then signatures, the banded
    * bucket join, and the exact-cosine re-rank are recomputed in SQL.
    * Rank-only output keeps the compare integer-exact.
    */
  private def annLshOracle: String = {
    val pl = Similarity.planes(numPlanes = 16, dim = 64, seed = 42)
    val planeRows = pl.zipWithIndex
      .map { case (v, p) => s"($p, [${v.mkString(", ")}])" }
      .mkString(",\n             ")
    s"""WITH planes AS MATERIALIZED (SELECT * FROM (VALUES
             $planeRows) t(p, v)),
         emb AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         sig AS MATERIALIZED (
           SELECT m.vec_id,
                  CAST(sum(CASE WHEN list_dot_product(m.e, pl.v) >= 0
                                THEN (CAST(1 AS BIGINT) << pl.p) ELSE 0 END) AS BIGINT) AS bucket
           FROM emb m, planes pl GROUP BY m.vec_id),
         banded AS MATERIALIZED (
           SELECT s.vec_id, b.band, (s.bucket >> (CAST(b.band AS INT) * 4)) & 15 AS key
           FROM sig s, (SELECT unnest(range(4)) AS band) b),
         cand AS MATERIALIZED (
           SELECT DISTINCT q.vec_id AS query_id, c.vec_id
           FROM banded q JOIN banded c ON q.band = c.band AND q.key = c.key
           WHERE q.vec_id < 3 AND c.vec_id <> q.vec_id),
         scored AS (
           SELECT cand.query_id, cand.vec_id,
             CASE WHEN sqrt(list_dot_product(eq.e, eq.e)) = 0 OR sqrt(list_dot_product(ec.e, ec.e)) = 0 THEN 0.0
                  ELSE list_dot_product(eq.e, ec.e) /
                       (sqrt(list_dot_product(eq.e, eq.e)) * sqrt(list_dot_product(ec.e, ec.e))) END AS cosine
           FROM cand
           JOIN emb eq ON eq.vec_id = cand.query_id
           JOIN emb ec ON ec.vec_id = cand.vec_id)
       SELECT query_id, vec_id, rank FROM (
         SELECT query_id, vec_id,
           CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank
         FROM scored) WHERE rank <= 5"""
  }

  /** DuckDB twin of the q_ann_ivf pipeline: re-derives the integer
    * embeddings, the lloydND(k=4, iters=2) centroids (exact BIGINT sums,
    * dimension-ascending squared-distance folds), then the ivfSearch
    * stages — cell assignment and nprobe=2 probing under the |c|^2 -
    * 2*dot metric with the SAME left-to-right float op order as the
    * Catalyst expressions, and the exact-cosine re-rank. Rank-only
    * output keeps the compare integer-exact.
    */
  private def annIvfOracle: String = {
    val primes = Seq(3, 7, 11, 17, 23, 31, 43, 59)
    val mods = Seq(97, 89, 83, 79, 73, 71, 67, 61)
    val dims = primes.length
    val embCols = primes.zip(mods).zipWithIndex.map { case ((p, m), j) =>
      s"CAST(1 + (c_custkey*$p)%$m AS DOUBLE) AS e$j"
    }.mkString(", ")
    val centFromEmb = (0 until dims).map(j => s"e$j AS c$j").mkString(", ")
    // lloydND assignment: dimension-ascending fold of squared diffs
    def lloydDist = (0 until dims).map(j => s"(m.e$j - c.c$j)*(m.e$j - c.c$j)").mkString(" + ")
    def lloydAssign(cents: String): String =
      s"""SELECT vid, ci AS cluster FROM (
            SELECT m.vid, c.ci,
              row_number() OVER (PARTITION BY m.vid ORDER BY $lloydDist, c.ci) AS rn
            FROM emb m, $cents c) WHERE rn = 1"""
    def lloydUpdate(cents: String, assigned: String): String = {
      val sums = (0 until dims).map(j => s"SUM(CAST(m.e$j AS BIGINT)) AS s$j").mkString(", ")
      val news = (0 until dims).map(j => s"COALESCE(CAST(s.s$j AS DOUBLE)/s.n, c.c$j) AS c$j").mkString(", ")
      s"""SELECT c.ci, $news
          FROM $cents c LEFT JOIN (
            SELECT a.cluster, $sums, count(*) AS n
            FROM $assigned a JOIN emb m ON m.vid = a.vid GROUP BY 1) s ON s.cluster = c.ci"""
    }
    // ivfSearch cell metric: |c|^2 (ascending) - 2.0 * dot (ascending)
    val cellD = s"(${(0 until dims).map(j => s"c.c$j*c.c$j").mkString(" + ")})" +
      s" - 2.0*(${(0 until dims).map(j => s"m.e$j*c.c$j").mkString(" + ")})"
    def dot(a: String, b: String) = (0 until dims).map(j => s"$a.e$j*$b.e$j").mkString(" + ")
    s"""WITH emb AS MATERIALIZED (
           SELECT c_custkey AS vid, $embCols FROM customer WHERE c_custkey <= 400),
         k0 AS MATERIALIZED (
           SELECT row_number() OVER (ORDER BY vid) - 1 AS ci, $centFromEmb
           FROM (SELECT * FROM emb ORDER BY vid LIMIT 4)),
         a1 AS MATERIALIZED (${lloydAssign("k0")}),
         k1 AS MATERIALIZED (${lloydUpdate("k0", "a1")}),
         a2 AS MATERIALIZED (${lloydAssign("k1")}),
         k2 AS MATERIALIZED (${lloydUpdate("k1", "a2")}),
         assigned AS MATERIALIZED (
           SELECT vid, ci AS cell FROM (
             SELECT m.vid, c.ci,
               row_number() OVER (PARTITION BY m.vid ORDER BY $cellD, c.ci) AS rn
             FROM emb m, k2 c) WHERE rn = 1),
         probes AS MATERIALIZED (
           SELECT vid AS query_id, ci AS cell FROM (
             SELECT m.vid, c.ci,
               row_number() OVER (PARTITION BY m.vid ORDER BY $cellD, c.ci) AS rn
             FROM emb m, k2 c WHERE m.vid <= 3) WHERE rn <= 2),
         cand AS MATERIALIZED (
           SELECT p.query_id, a.vid AS vec_id
           FROM probes p JOIN assigned a ON a.cell = p.cell
           WHERE a.vid <> p.query_id),
         scored AS (
           SELECT cand.query_id, cand.vec_id,
             CASE WHEN sqrt(${dot("q", "q")}) = 0 OR sqrt(${dot("m", "m")}) = 0 THEN 0.0
                  ELSE (${dot("q", "m")}) / (sqrt(${dot("q", "q")}) * sqrt(${dot("m", "m")})) END AS cosine
           FROM cand
           JOIN emb q ON q.vid = cand.query_id
           JOIN emb m ON m.vid = cand.vec_id)
       SELECT query_id, vec_id, rank FROM (
         SELECT query_id, vec_id,
           CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank
         FROM scored) WHERE rank <= 5"""
  }

  /** DuckDB twin of q_media_features: the decoded luminance features are
    * a closed-form function of (id, w, h) because the painted PNG cells
    * align exactly with the decoder's 4x2 grid — per cell the BT.601
    * luma term t_j repeats cnt = (w/4)*(h/2) times, so the decoder's
    * running float sum is the left-assoc fold of cnt equal terms,
    * transcribed term-for-term per shape (float literals cast to DOUBLE
    * so DuckDB doesn't slip into DECIMAL arithmetic).
    */
  private def mediaFeaturesOracle: String = {
    def fold(term: String, n: Int): String = Seq.fill(n)(term).mkString(" + ")
    val tCols = (0 until 8).map { j =>
      s"(CAST(0.299 AS DOUBLE)*((media_id*31 + $j*97)%256) + " +
      s"CAST(0.587 AS DOUBLE)*((media_id*57 + $j*13)%256)) + " +
      s"CAST(0.114 AS DOUBLE)*((media_id*89 + $j*41)%256) AS t$j"
    }.mkString(",\n           ")
    val fCols = (0 until 8).map { j =>
      s"""round(CAST(CAST((CASE WHEN cnt = 4 THEN ${fold(s"t$j", 4)}
                               WHEN cnt = 8 THEN ${fold(s"t$j", 8)}
                               ELSE ${fold(s"t$j", 16)} END)
                 / (cnt * CAST(255.0 AS DOUBLE)) AS REAL) AS DOUBLE), 6) AS f$j"""
    }.mkString(",\n         ")
    s"""WITH base AS MATERIALIZED (
           SELECT CAST(s_suppkey AS BIGINT) AS media_id,
                  8 + 8*(s_suppkey%2) AS w,
                  CASE WHEN s_suppkey%3 = 0 THEN 8 ELSE 4 END AS h
           FROM supplier WHERE s_suppkey <= 120),
         shaped AS MATERIALIZED (
           SELECT media_id, w, h, (w//4)*(h//2) AS cnt,
           $tCols
           FROM base)
       SELECT media_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
         $fCols
       FROM shaped"""
  }

  /** DuckDB twin of q_audio_features: re-derives the synthetic PCM
    * samples s_i = ((id*31 + i*17) mod 2001) - 1000 and the decoder's
    * per-window RMS. Every decoder partial sum of (s/32768)^2 is EXACT
    * in double — each term is s^2/2^30 with numerator < 2^52 — so a
    * plain integer SUM(s*s) reproduces the left-assoc float fold
    * bit-for-bit (no term-by-term transcription needed, unlike the luma
    * folds of q_media_features / q_video_frames).
    */
  private def audioFeaturesOracle: String = {
    val fCols = (0 until 8).map { j =>
      s"round(CAST(max(CASE WHEN w = $j THEN f END) AS DOUBLE), 6) AS f$j"
    }.mkString(",\n         ")
    s"""WITH ids AS MATERIALIZED (
           SELECT CAST(s_suppkey AS BIGINT) AS media_id,
                  CAST(800 + 400 * (s_suppkey % 5) AS BIGINT) AS frames
           FROM supplier WHERE s_suppkey <= 120),
         vals AS MATERIALIZED (
           SELECT media_id, frames, (i * 8) // frames AS w,
                  ((media_id*31 + i*17) % 2001) - 1000 AS s
           FROM ids, LATERAL (SELECT unnest(range(frames)) AS i)),
         win AS MATERIALIZED (
           SELECT media_id, frames, w,
                  CAST(sum(s*s) AS DOUBLE) / 1073741824.0 AS ss, count(*) AS cnt
           FROM vals GROUP BY 1, 2, 3),
         feat AS (
           SELECT media_id, frames, w, CAST(sqrt(ss / cnt) AS REAL) AS f FROM win)
       SELECT media_id, CAST(frames // 8 AS BIGINT) AS duration_ms,
         $fCols
       FROM feat GROUP BY 1, 2"""
  }

  /** DuckDB twin of q_video_frames: slot s of a clip with n frames
    * samples frame fr = (s*n)//min(8,n); each sampled 8x8 solid frame's
    * feature is the decoder's 64-term left-assoc fold of one BT.601 luma
    * value, transcribed term-for-term (the q_media_features pattern);
    * duration is the sum of the explicit 10 cs per-frame delays; slots
    * past the clip's frame count stay -1.
    */
  private def videoFramesOracle: String = {
    val fold64 = Seq.fill(64)("t").mkString(" + ")
    val fCols = (0 until 8).map { j =>
      s"round(COALESCE(max(CASE WHEN s = $j THEN f END), CAST(-1.0 AS DOUBLE)), 6) AS f$j"
    }.mkString(",\n         ")
    s"""WITH ids AS MATERIALIZED (
           SELECT CAST(s_suppkey AS BIGINT) AS media_id,
                  CAST(2 + (s_suppkey % 9) AS BIGINT) AS n
           FROM supplier WHERE s_suppkey <= 60),
         slots AS MATERIALIZED (
           SELECT media_id, n, s, (s * n) // least(8, n) AS fr
           FROM ids, LATERAL (SELECT unnest(range(least(8, n))) AS s)),
         terms AS MATERIALIZED (
           SELECT media_id, n, s,
             (CAST(0.299 AS DOUBLE)*((media_id*31 + fr*97)%256) +
              CAST(0.587 AS DOUBLE)*((media_id*57 + fr*13)%256)) +
              CAST(0.114 AS DOUBLE)*((media_id*89 + fr*41)%256) AS t
           FROM slots),
         feats AS MATERIALIZED (
           SELECT media_id, n, s,
             CAST(CAST(($fold64) / (64 * CAST(255.0 AS DOUBLE)) AS REAL) AS DOUBLE) AS f
           FROM terms)
       SELECT media_id, CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
         CAST(n * 100 AS BIGINT) AS duration_ms,
         $fCols
       FROM feats GROUP BY 1, 2, 3, 4"""
  }

  /** DuckDB twin of Clustering.lloydXY(k=4, iters=2) on the q_kmeans
    * point set: init = 4 smallest ids, two exact-BIGINT-sum centroid
    * updates unrolled as materialized CTEs, final assignment under the
    * updated centroids. Integer coordinates keep every centroid sum
    * order-proof, so even the IEEE mean divisions and distance
    * comparisons match bit-for-bit.
    */
  private def kmeansOracle: String = {
    def assign(cents: String, pts: String): String =
      s"""SELECT id, x, y, ci AS cluster FROM (
            SELECT p.id, p.x, p.y, c.ci,
              row_number() OVER (PARTITION BY p.id
                ORDER BY (p.x-c.cx)*(p.x-c.cx)+(p.y-c.cy)*(p.y-c.cy), c.ci) AS rn
            FROM $pts p, $cents c) WHERE rn = 1"""
    def update(cents: String, assigned: String): String =
      s"""SELECT c.ci,
            COALESCE(CAST(s.sx AS DOUBLE)/s.n, c.cx) AS cx,
            COALESCE(CAST(s.sy AS DOUBLE)/s.n, c.cy) AS cy
          FROM $cents c LEFT JOIN (
            SELECT cluster, SUM(CAST(x AS BIGINT)) AS sx, SUM(CAST(y AS BIGINT)) AS sy, count(*) AS n
            FROM $assigned GROUP BY 1) s ON s.cluster = c.ci"""
    s"""WITH pts AS MATERIALIZED (
           SELECT c_custkey AS id,
                  CAST((c_custkey*13)%97 AS DOUBLE) AS x,
                  CAST((c_custkey*29)%89 AS DOUBLE) AS y
           FROM customer WHERE c_custkey <= 500),
         c0 AS MATERIALIZED (
           SELECT row_number() OVER (ORDER BY id) - 1 AS ci, x AS cx, y AS cy
           FROM (SELECT * FROM pts ORDER BY id LIMIT 4)),
         a1 AS MATERIALIZED (${assign("c0", "pts")}),
         c1 AS MATERIALIZED (${update("c0", "a1")}),
         a2 AS MATERIALIZED (${assign("c1", "pts")}),
         c2 AS MATERIALIZED (${update("c1", "a2")})
       SELECT id, x, y, CAST(cluster AS BIGINT) AS cluster
       FROM (${assign("c2", "pts")})"""
  }
}
