package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types.{BinaryType, StringType}

/** `SparkEntry.t` infers a table's parquet schema once per file state and
  * session settings, and reads with the known schema after that. */
class TableSchemaSpec extends SparkSpec {
  import spark.implicits._

  test("a second query over the same tables plans without a schema job") {
    val d = Files.createTempDirectory("graft-schema").toString
    Seq((1L, 2L, 0.05), (1L, 3L, 0.0)).toDF("l_partkey", "l_suppkey", "l_discount").write.parquet(s"$d/lineitem.parquet")
    val s = spark.newSession()
    runQuery(s, d, "q_distinct_pairs") // reads lineitem
    assert(jobsOf(SparkEntry.queries("q_stats_disc")(s, d)) == 0)
  }

  test("a table rewritten with an added column is read with that column") {
    val d = Files.createTempDirectory("graft-schema").toString
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$d/x.parquet")
    assert(SparkEntry.t(spark, d, "x").columns.toSeq == Seq("k", "v"))
    assert(SparkEntry.t(spark, d, "x").columns.toSeq == Seq("k", "v"))
    Seq((2L, "b", 3.5)).toDF("k", "v", "w").write.mode("overwrite").parquet(s"$d/x.parquet")
    val df = SparkEntry.t(spark, d, "x")
    assert(df.columns.toSeq == Seq("k", "v", "w"))
    assert(df.as[(Long, String, Double)].collect().toSeq == Seq((2L, "b", 3.5)))
  }

  test("a session that infers parquet schemas differently is not served another session's schema") {
    // written without Spark's schema metadata, so the binary column's
    // type is inferred from the session's setting
    val d = Files.createTempDirectory("graft-schema").toString
    val schema = MessageTypeParser.parseMessageType("message m { required int64 k; required binary v; }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new Path(s"$d/y.parquet/part-00000.parquet"), spark.sparkContext.hadoopConfiguration)).withType(schema).build()
    w.write(new SimpleGroupFactory(schema).newGroup().append("k", 1L).append("v", "a"))
    w.close()
    val plain = spark.newSession()
    assert(SparkEntry.t(plain, d, "y").schema("v").dataType == BinaryType)
    val asString = spark.newSession()
    asString.conf.set("spark.sql.parquet.binaryAsString", "true")
    assert(SparkEntry.t(asString, d, "y").schema("v").dataType == StringType)
    assert(SparkEntry.t(plain, d, "y").schema("v").dataType == BinaryType)
    asString.conf.set("spark.sql.parquet.binaryAsString", "false")
    assert(SparkEntry.t(asString, d, "y").schema("v").dataType == BinaryType)
  }
}
