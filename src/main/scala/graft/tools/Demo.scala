package graft.tools

import graft.core.Sessions
import graft.ingest.{Corpus, EdgeExtraction}
import graft.graph._
import org.apache.spark.sql.functions._

/** End-to-end driver: synthetic corpus -> sha stamp -> edge derivation ->
  * PageRank (durable checkpoints) -> kill/resume -> CC/LPA/triangles.
  * Prints observable results at each stage.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(8, "graft-demo")
    import spark.implicits._

    println("== 1. ingest: synthetic corpus (n=2000, 20 repos) ==")
    val corpus = Corpus.synthetic(spark, n = 2000, repos = 20, maxDegree = 10, seed = 42)
    val stamped = Corpus.stamped(corpus).cache()
    stamped.select("repo", "path", "lang", "content_sha").show(3, 60)
    val shaBad = stamped.filter(col("content_sha") =!= sha2(col("content"), 256)).count()
    println(s"rows=${stamped.count()} sha-invariant-violations=$shaBad")

    println("== 2. edge derivation (import resolution join) ==")
    val edges = EdgeExtraction.edges(stamped).cache()
    println(s"edges=${edges.count()}")
    edges.show(3)

    println("== 3. PageRank with durable supersteps ==")
    val runDir = java.nio.file.Files.createTempDirectory("graft-demo-pr").toString
    val r = PageRank.run(edges, PageRankConfig(tol = 1e-6, checkpoint = Durable(runDir, every = 5)))
    println(s"iterations=${r.iterations} converged=${r.converged} vertices=${r.vertexCount} edges=${r.edgeCount}")
    println(s"rank mass = ${r.ranks.agg(sum("rank")).first().getDouble(0)} (must be 1.0)")
    println("top-5 by rank:")
    r.ranks.orderBy(desc("rank")).limit(5).show()
    println(s"committed steps in $runDir: " + Supersteps.lastCommitted(spark, runDir))
    println("last metrics: " + Supersteps.readMetrics(spark, runDir, Supersteps.lastCommitted(spark, runDir).get))

    println("== 4. resume from checkpoint reproduces the converged state ==")
    val resumed = PageRank.resume(edges, runDir, PageRankConfig(tol = 1e-6, checkpoint = Durable(runDir, 5)))
    val diff = resumed.ranks.withColumnRenamed("rank", "r2")
      .join(r.ranks, "id")
      .agg(max(abs(col("rank") - col("r2")))).first().getDouble(0)
    println(s"resume max|diff| = $diff (expected 0: already converged, read back)")

    println("== 5. connected components / LPA / triangles ==")
    val cc = ConnectedComponents.run(edges)
    println(s"cc rounds=${cc.rounds} components=${cc.components.select("component").distinct().count()}")
    val lpa = LabelPropagation.run(edges, maxIter = 10)
    println(s"lpa iterations=${lpa.iterations} communities=${lpa.labels.select("label").distinct().count()}")
    println(s"triangles=${TriangleCount.count(edges)}")

    println("== 6. probe: empty edge set ==")
    val empty = spark.emptyDataset[graft.ingest.Edge]
    val er = PageRank.run(empty)
    println(s"empty-graph pagerank: iterations=${er.iterations} converged=${er.converged} vertices=${er.vertexCount}")

    println("== 7. probe: resume from an empty runDir starts fresh ==")
    val freshDir = java.nio.file.Files.createTempDirectory("graft-demo-fresh").toString
    val fr = PageRank.resume(edges, freshDir, PageRankConfig(tol = 1e-4))
    println(s"fresh-resume: iterations=${fr.iterations} converged=${fr.converged} steps=${Supersteps.lastCommitted(spark, freshDir)}")

    spark.stop()
  }
}
