package perfbench

import java.io.File

import scala.collection.mutable

import graft.SparkEntry
import graft.graph._
import graft.ingest._
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** A correctness check's outcome. */
final case class Check(name: String, ok: Boolean, detail: String)

/** One benchmark workload. Inputs are generated from the seed by
  * `generate` (repeatable, timed as set-up); `pass` is the unit of timed
  * work; `repeat` times the headline stage again after the passes;
  * `checks` runs once, outside the timed region.
  */
trait Workload {
  def generate(): Unit
  /** Runs one pass; returns its stage figures by name (printed with every
    * run, per-layer metrics of a traced run).
    */
  def pass(k: Int): Map[String, Double]
  def checks(): Seq[Check]
  /** Walls of the headline stage: one from each pass, more from `repeat`.
    * Their median is the figure.
    */
  val stageSamples = mutable.ArrayBuffer.empty[Double]
  /** Runs the headline stage again on the last pass's inputs, outside the
    * timed passes, adding samples.
    */
  def repeat(): Unit = ()
  /** Clean-up between passes, outside the timed region. */
  def between(): Unit = ()
  /** Counts read after the first traced pass (ratios, run-directory sizes). */
  def traceExtras(k: Int): Map[String, Double] = Map.empty
  /** Operations (algorithm calls, queries) attempted and failed so far. */
  var attempted = 0
  var failed = 0
  protected def op[A](f: => A): Option[A] = {
    attempted += 1
    try Some(f)
    catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"perfbench: operation failed: $e")
        None
    }
  }
}

object Workload {
  /** The result of `f` and its wall time in seconds. */
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def rm(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L) else f.length()

  def copyDir(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles()).toSeq.flatten.foreach(f => copyDir(f, new File(to, f.getName)))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)

  def countFiles(f: File, name: String): Int =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(countFiles(_, name)).sum).getOrElse(0)
    else if (f.getName == name) 1 else 0

  def ranksOf(df: DataFrame): Map[Long, Double] =
    df.select(col("id"), col("rank")).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  /** Largest |a - b| - rtol * |b| over a common key set, or +inf if the key
    * sets differ.
    */
  def excess(got: Map[Long, Double], want: Map[Long, Double], rtol: Double): Double =
    if (got.keySet != want.keySet) Double.PositiveInfinity
    else if (want.isEmpty) 0.0
    else want.map { case (k, w) => math.abs(got(k) - w) - rtol * math.abs(w) }.max
}

/** `corpus_to_graph`: the ingest and graph layers end to end. Each pass
  * builds the edge table from the raw corpus and writes it, then runs on
  * it, in order: CSR PageRank to 1e-6 (LocalOnly); a durable CSR PageRank
  * committing every superstep, stopped after 8, and its resume to 1e-6
  * with the ranks written; join PageRank for 10 iterations; connected
  * components to fixpoint; label propagation for 10 iterations; the
  * triangle count. Headline stage: the resume, sampled in the pass and
  * `ResumeRepeats` more times by `repeat`, each from a copy of the run
  * directory as the durable run left it: one sample of it spread up to
  * 25 % between runs of the same code on a shared host.
  */
final class CorpusToGraph(spark: SparkSession, tr: Tracer, work: File, seed: Long, rows: Long)
    extends Workload {
  import spark.implicits._
  private val corpusPath = new File(work, "corpus").getPath
  private def passDir(k: Int) = new File(work, s"pass$k")
  private val ResumeRepeats = 2
  private var resumeRepeatsDone = 0
  private var last: Option[(Int, PageRankResult, PageRankResult, PageRankResult,
    ConnectedComponents.CcResult, LabelPropagation.LpaResult, Long)] = None

  def generate(): Unit =
    Corpus.synthetic(spark, rows, repos = 200, maxDegree = 12, seed = seed)
      .write.mode("overwrite").parquet(corpusPath)

  def pass(k: Int): Map[String, Double] = {
    val dir = passDir(k)
    val edgesPath = new File(dir, "edges").getPath
    val runDir = new File(dir, "run").getPath
    val (_, ingestS) = Workload.timed(tr.span("ingest.edges") { _ =>
      op(EdgeExtraction.edges(Corpus.stamped(spark.read.parquet(corpusPath).as[CorpusRow]))
        .write.parquet(edgesPath))
    })
    val edges = spark.read.parquet(edgesPath).as[Edge]
    val (csr, csrS) = Workload.timed(tr.span("graph.csr_pagerank") { x =>
      op(CsrPageRank.run(edges, PageRankConfig(tol = 1e-6))).map { r =>
        x("iters") = r.iterations; x("prepare_s") = r.prepareSeconds; r
      }
    })
    tr.span("graph.durable_pagerank") { x =>
      op(CsrPageRank.run(edges, PageRankConfig(tol = 1e-6, maxIter = 8,
        checkpoint = Durable(runDir, 1)))).foreach { r =>
        x("iters") = r.iterations; x("prepare_s") = r.prepareSeconds
      }
    }
    Workload.copyDir(new File(runDir), new File(dir, "run_interrupted")) // for `repeat`
    val (resumed, resumeS) = Workload.timed(tr.span("graph.resume") { x =>
      op {
        val r = resumeAndWrite(edges, runDir, new File(dir, "ranks").getPath)
        x("iters") = r.iterations; x("prepare_s") = r.prepareSeconds
        r
      }
    })
    val (loops, loopsS) = Workload.timed {
      val pr = tr.span("graph.join_pagerank") { x =>
        op(PageRank.run(edges, PageRankConfig(tol = 0.0, maxIter = 10))).map { r =>
          x("iters") = r.iterations; x("prepare_s") = r.prepareSeconds; r
        }
      }
      val cc = tr.span("graph.cc") { x =>
        op(ConnectedComponents.run(edges)).map { r => x("iters") = r.rounds; r }
      }
      val lpa = tr.span("graph.lpa") { x =>
        op(LabelPropagation.run(edges, maxIter = 10)).map { r => x("iters") = r.iterations; r }
      }
      (pr, cc, lpa)
    }
    val tri = tr.span("graph.triangles")(_ => op(TriangleCount.count(edges)))
    last = for (a <- csr; b <- resumed; c <- loops._1; d <- loops._2; e <- loops._3; f <- tri)
      yield (k, a, b, c, d, e, f)
    val nEdges = edges.count()
    stageSamples += resumeS
    Map(
      "ingest.edges.edges_per_s" -> nEdges / ingestS,
      "graph.csr_pagerank.edges_per_s_per_iter" -> nEdges.toDouble * csr.map(_.iterations).getOrElse(0) / csrS,
      "graph.resume.wall_s" -> resumeS,
      "graph.dataframe_loops.wall_s" -> loopsS)
  }

  private def resumeAndWrite(edges: Dataset[Edge], runDir: String, out: String): PageRankResult = {
    val r = CsrPageRank.resume(edges, runDir, PageRankConfig(tol = 1e-6))
    r.ranks.write.parquet(out)
    r
  }

  override def repeat(): Unit = last.foreach { l =>
    val dir = passDir(l._1)
    val edges = spark.read.parquet(new File(dir, "edges").getPath).as[Edge]
    (1 to ResumeRepeats).foreach { i =>
      val run = new File(dir, s"run_repeat$i")
      Workload.copyDir(new File(dir, "run_interrupted"), run)
      val (r, s) = Workload.timed(op(resumeAndWrite(edges, run.getPath,
        new File(dir, s"ranks_repeat$i").getPath)))
      Workload.rm(run)
      r.foreach { _ => stageSamples += s; resumeRepeatsDone += 1 }
    }
  }

  /** Keeps only the last pass's directory, whose outputs are checked. */
  override def between(): Unit =
    Option(work.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("pass") && !last.exists(l => f.getName == s"pass${l._1}"))
      .foreach(Workload.rm)

  override def traceExtras(k: Int): Map[String, Double] = {
    val run = new File(passDir(k), "run")
    val refs = EdgeExtraction.references(Corpus.stamped(spark.read.parquet(corpusPath).as[CorpusRow])).count()
    val edges = spark.read.parquet(new File(passDir(k), "edges").getPath).count()
    Map(
      "graph.supersteps.checkpoint_mb" -> Workload.dirBytes(run) / 1048576.0,
      "graph.supersteps.commits" -> Workload.countFiles(run, "_COMMIT").toDouble,
      "ingest.resolve_ratio" -> (if (refs == 0) 0.0 else edges.toDouble / refs))
  }

  def checks(): Seq[Check] = last match {
    case None => Seq(Check("corpus_to_graph.outputs", ok = false, "an operation failed"))
    case Some((k, csr, resumed, pr, cc, lpa, tri)) =>
      val edges = spark.read.parquet(new File(passDir(k), "edges").getPath).as[Edge].collect()
      val corpus = spark.read.parquet(corpusPath).as[CorpusRow].collect()
        .map(r => (r.repo, r.path, r.commit, r.lang, r.content)).toSeq
      val wantEdges = Oracles.corpusEdges(corpus)
      val g = new Oracles.Indexed(edges.map(e => (e.src, e.dst)))
      def byId(a: Array[Double]) = g.ids.zip(a).toMap
      val (wantCsr, wantIters) = Oracles.pageRank(g, tol = 1e-6, maxIter = 500)
      val wantPr = Oracles.pageRank(g, tol = 0.0, maxIter = 10)._1
      val csrRanks = Workload.ranksOf(csr.ranks)
      val csrExcess = Workload.excess(csrRanks, byId(wantCsr), 1e-6)
      val prExcess = Workload.excess(Workload.ranksOf(pr.ranks), byId(wantPr), 1e-6)
      val written = Workload.ranksOf(spark.read.parquet(new File(passDir(k), "ranks").getPath))
      val resumeDiff = Workload.excess(written, csrRanks, 0.0)
      val gotCc = cc.components.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val wantCc = g.ids.zip(Oracles.components(g)).toMap
      val gotLpa = lpa.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val wantLpa = Oracles.labelPropagation(g, maxIter = 10)
      val wantTri = Oracles.triangles(g)
      Seq(
        Check("ingest.edges.equals_regex_derivation",
          edges.length == wantEdges.size && edges.map(e => (e.src, e.dst)).toSet == wantEdges,
          s"edges=${edges.length}/${wantEdges.size}"),
        Check("graph.csr_pagerank.allclose_1e-6", csrExcess <= 1e-12 && csr.iterations == wantIters,
          s"excess=$csrExcess iters=${csr.iterations}/$wantIters"),
        Check("graph.resume.equals_uninterrupted_1e-12",
          resumeDiff <= 1e-12 && resumed.iterations == csr.iterations,
          s"max_abs_diff=$resumeDiff iters=${resumed.iterations}/${csr.iterations}"),
        Check("graph.join_pagerank.allclose_1e-6", prExcess <= 1e-12 && pr.iterations == 10,
          s"excess=$prExcess iters=${pr.iterations}"),
        Check("graph.cc.exact", gotCc == wantCc, s"vertices=${gotCc.size}/${wantCc.size}"),
        Check("graph.lpa.exact", gotLpa == wantLpa, s"vertices=${gotLpa.size}/${wantLpa.size}"),
        Check("graph.triangles.exact", tri == wantTri, s"triangles=$tri/$wantTri")) ++
      (1 to resumeRepeatsDone).map { i =>
        val got = Workload.ranksOf(spark.read.parquet(new File(passDir(k), s"ranks_repeat$i").getPath))
        val diff = Workload.excess(got, written, 0.0)
        Check(s"graph.resume.repeat$i.equals_first", diff <= 1e-12, s"max_abs_diff=$diff")
      }
  }
}

/** `mag_queries`: 18 analytics queries over generated MAG-shaped tables,
  * each pass on a fresh session, in a seed-permuted order. The four
  * queries sharing the in-session link universe run as one unit, span
  * `analytics.link_group`, so the permuted order moves no time between
  * per-query figures. Headline stage: the link group.
  */
final class MagQueries(spark: SparkSession, tr: Tracer, work: File, seed: Long, tables: String)
    extends Workload {
  val linkGroup: Seq[String] = Seq("q_export_graph", "q_link_features", "q_link_prob", "q_link_prob_tree")
  val others: Seq[String] = Seq("q_link_corr", "q_key_papers", "q_key_papers_dist", "q_hindex",
    "q_common_neighbors", "q_author_merge", "q_venue_match", "q_gap_fill", "q_topk_ties",
    "q_name_pairs", "q_scholar_names", "q_topic_words", "q_abstract_merge",
    "q_upsert")
  /** The seed permutes the other queries; the link group runs after them,
    * so its cold first use follows the same warm-up every run.
    */
  val order: Seq[String] = new scala.util.Random(seed).shuffle(others)
  private val results = mutable.Map.empty[String, (Seq[String], Array[Row])]

  /** The launcher writes the tables before the JVM starts; the JVM
    * materializes them by reading every table.
    */
  def generate(): Unit =
    Seq("customer", "supplier", "part", "orders", "lineitem", "documents")
      .foreach(t => spark.read.parquet(s"$tables/$t.parquet").count())

  /** `q_upsert` as declared in SparkEntry, with its table kept under the
    * benchmark's work directory instead of a fixed temporary path.
    */
  private def upsert(s: SparkSession): DataFrame = {
    val dir = new File(work, "upsert_table")
    Workload.rm(dir)
    def docs = s.read.parquet(s"$tables/documents.parquet")
    graft.sources.TableUpsert.upsert(s, dir.getPath, docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
    graft.sources.TableUpsert.upsert(s, dir.getPath, docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), (col("n_chars") + 1000).as("n_chars")), Seq("doc_id"))
    graft.sources.TableUpsert.read(s, dir.getPath).get
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("total_chars"))
  }

  private def query(s: SparkSession, q: String): Unit = tr.span(s"analytics.$q") { _ =>
    op {
      val df = if (q == "q_upsert") upsert(s) else SparkEntry.queries(q)(s, tables)
      results(q) = (df.columns.toSeq, df.collect())
    }
  }

  def pass(k: Int): Map[String, Double] = {
    val s = spark.newSession()
    val (_, otherS) = Workload.timed(order.foreach(query(s, _)))
    val (_, linkS) = Workload.timed(tr.span("analytics.link_group")(_ => linkGroup.foreach(query(s, _))))
    stageSamples += linkS
    Map("analytics.link_group.wall_s" -> linkS, "analytics.other_queries.per_s" -> others.size / otherS)
  }

  /** Engine results of the last pass, for the launcher's DuckDB compare;
    * the oracles are `SparkEntry.oracleSql`.
    */
  def checks(): Seq[Check] = Nil

  def resultsJson: String = Json.obj((linkGroup ++ others).map { q =>
    q -> (results.get(q) match {
      case None => "null"
      case Some((cols, rows)) => Json.obj(Seq(
        "columns" -> Json.arr(cols.map(Json.str)),
        "rows" -> Json.arr(rows.toSeq.map(r => Json.arr(r.toSeq.map(Json.value)))),
        "oracle" -> Json.str(SparkEntry.oracleSql(q))))
    })
  })
}
