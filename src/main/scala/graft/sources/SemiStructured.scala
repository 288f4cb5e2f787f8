package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Semi-structured sources from the reference's utils/ tree.
  *
  * S7 — OpenAlex-style CSV with an embedded JSON inverted index
  * (utils/extract_abstract.py:46-48): parse with `from_json` into
  * `map<string, array<int>>`.
  *
  * S8 — N-Triples lines (utils/import_mag_abstract.py:8-18,38-50):
  * subject/predicate/object split, IRI strip, and the stateful merge of
  * literals that span multiple physical lines (a record ends only when
  * the line ends in `.`) via a per-partition scan.
  *
  * X11 — inverted index -> abstract text (utils/extract_abstract.py:
  * 12-36): place each word at its positions, join in order.
  */
object SemiStructured {

  val invertedIndexType: DataType = MapType(StringType, ArrayType(IntegerType))

  /** Parse an embedded-JSON inverted-index column. */
  def parseInvertedIndex(jsonCol: Column): Column =
    from_json(jsonCol, invertedIndexType)

  /** Reconstruct text from a `map<word, positions>` column: explode to
    * (position, word), sort, join — pure Catalyst, no UDF.
    */
  def invertedIndexToText(m: Column): Column =
    array_join(
      transform(
        array_sort(
          flatten(transform(
            map_entries(m),
            e => transform(e.getField("value"), p => struct(p.as("pos"), e.getField("key").as("word")))
          ))
        ),
        s => s.getField("word")
      ),
      " "
    )

  /** Physical N-Triples lines -> logical records: a record ends when the
    * trimmed line ends with `.`; continuation lines are glued with \n
    * (multi-line literals). Stateful per-partition scan; partition
    * boundaries must not split records for exactness — on a real corpus
    * use a record-aware input format; here files are line-merged per
    * partition after a coalesce(1)-style read or accepted as boundary-
    * tolerant (the reference has the same property per file).
    */
  def mergeTripleLines(lines: Dataset[String]): Dataset[String] = {
    import lines.sparkSession.implicits._
    lines.mapPartitions { it =>
      new Iterator[String] {
        private var nextRecord: Option[String] = advance()
        private def advance(): Option[String] = {
          val sb = new StringBuilder
          var done = false
          var any = false
          while (!done && it.hasNext) {
            val l = it.next()
            any = true
            if (sb.nonEmpty) sb.append('\n')
            sb.append(l)
            if (l.trim.endsWith(".")) done = true
          }
          if (any) Some(sb.toString) else None
        }
        def hasNext: Boolean = nextRecord.isDefined
        def next(): String = { val r = nextRecord.get; nextRecord = advance(); r }
      }
    }
  }

  /** Parse merged N-Triples records into (subject, predicate, obj):
    * IRIs stripped of angle brackets; literal objects stripped of quotes
    * and datatype/lang suffix.
    */
  def parseTriples(records: Dataset[String]): DataFrame = {
    val df = records.toDF("line")
    val s = regexp_extract(col("line"), """^<([^>]*)>""", 1)
    val p = regexp_extract(col("line"), """^<[^>]*>\s+<([^>]*)>""", 1)
    val objIri = regexp_extract(col("line"), """^<[^>]*>\s+<[^>]*>\s+<([^>]*)>\s*\.\s*$""", 1)
    val objLit = regexp_extract(col("line"), """^<[^>]*>\s+<[^>]*>\s+"((?s).*)"(?:\^\^<[^>]*>|@[\w-]+)?\s*\.\s*$""", 1)
    df.select(
      s.as("subject"),
      p.as("predicate"),
      when(objIri =!= "", objIri).otherwise(objLit).as("obj")
    ).filter(col("subject") =!= "")
  }
}
