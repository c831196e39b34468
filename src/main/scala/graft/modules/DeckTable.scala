package graft.modules

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** The driver-side builder of the deck-text table modules (Satfunc, Pvt,
  * Vfp, Equil). A parsed deck is a local relation, so a module runs in
  * three steps: one projection over the deck's events types each record
  * with the [[graft.io.Records]] column readers (Catalyst folds it into the
  * local relation, so defaults, `try_cast` and ANSI casts stay the
  * engine's own, and collecting it runs no job); one Scala pass over the
  * typed records in `(keywordIdx, recordIdx)` order does the reshapes,
  * counters and lookups; the result comes back as a local relation.
  */
private[modules] object DeckTable {

  /** One output part: its columns and its rows, values in column order. */
  final case class Part(schema: StructType, rows: Seq[Seq[Any]]) {
    def field(name: String): Option[StructField] = schema.find(_.name == name)
  }

  /** The typed records of `keywords`: `keyword`, `keywordIdx` and
    * `recordIdx` (row positions 0-2), then `cols`, in
    * `(keywordIdx, recordIdx)` order.
    */
  final case class Typed(schema: StructType, rows: Seq[Row]) {
    /** The struct type of projected column `name`, or of its elements. */
    def struct(name: String): StructType = schema(name).dataType match {
      case s: StructType => s
      case a: org.apache.spark.sql.types.ArrayType => a.elementType.asInstanceOf[StructType]
      case t => throw new IllegalArgumentException(s"$name is $t, not a struct")
    }
    def index(name: String): Int = schema.fieldIndex(name)
  }

  def typed(events: DataFrame, keywords: Seq[String], cols: Column*): Typed = {
    val df = events.filter(col("keyword").isin(keywords: _*))
      .select(Seq(col("keyword"), col("keywordIdx"), col("recordIdx")) ++ cols: _*)
    Typed(df.schema, df.collect().toSeq.sortBy(r => (r.getInt(1), r.getInt(2))))
  }

  /** One fixed-width row of a reshaped DATA record (`Records.dataChunks`):
    * its record, its position in the record and its typed values.
    */
  final case class Chunk(keywordIdx: Int, recordIdx: Int, rowIdx: Int, values: Seq[Any])

  /** The chunks of the `Records.dataChunks` column `name`, in record order. */
  def chunks(t: Typed, name: String): Seq[Chunk] = {
    val i = t.index(name)
    t.rows.filter(!_.isNullAt(i)).flatMap { r =>
      r.getSeq[Row](i).map(c => Chunk(r.getInt(1), r.getInt(2), c.getInt(0), c.toSeq.tail))
    }
  }

  /** The table number of each chunk. Without `expected` it is the record
    * counter (recordIdx + 1). With it, the explicit table-count override
    * (reference inferdims.py:18-84 API parity): a record splits into
    * tables wherever its first column DECREASES from the row before
    * (Eclipse tables are strictly increasing in their leading column —
    * the rule opm's strict reparse enforces), tables number from 1 per
    * keyword occurrence, and every occurrence must yield exactly
    * `expected` tables. The decrease-at-boundary rule is a supported
    * SUBSET of opm's TABDIMS-count-driven split: a deck whose adjacent
    * tables do not decrease at the boundary fails loudly here rather than
    * being mis-split.
    */
  def tableNumbers(chunks: Seq[Chunk], keyword: String, expected: Option[Int]): Seq[Int] =
    expected match {
      case None => chunks.map(_.recordIdx + 1)
      case Some(n) =>
        val out = new Array[Int](chunks.length)
        chunks.indices.groupBy(i => chunks(i).keywordIdx).toSeq.sortBy(_._1).foreach { case (kwIdx, occ) =>
          var table = 0
          occ.groupBy(i => chunks(i).recordIdx).toSeq.sortBy(_._1).foreach { case (_, rec) =>
            table += 1
            var prev: java.lang.Double = null
            rec.sortBy(i => chunks(i).rowIdx).foreach { i =>
              val lead = dbl(chunks(i).values.head)
              if (lead != null && prev != null && lt(lead, prev)) table += 1
              out(i) = table
              prev = lead
            }
          }
          require(table == n,
            s"$keyword (keywordIdx=$kwIdx): explicit table count $n given " +
              s"but the deck's monotonicity boundaries yield $table tables")
        }
        out.toSeq
    }

  /** `unionByName(allowMissingColumns = true)` of the parts that have rows:
    * columns in order of first appearance, a column missing from a part
    * null there (and nullable), None when no part has rows.
    */
  def union(parts: Seq[Part]): Option[Part] = {
    val present = parts.filter(_.rows.nonEmpty)
    if (present.isEmpty) None
    else {
      val names = present.flatMap(_.schema.fieldNames).distinct
      val schema = StructType(names.map { n =>
        val fs = present.map(_.field(n))
        StructField(n, fs.flatten.head.dataType, fs.exists(_.forall(_.nullable)))
      })
      Some(Part(schema, present.flatMap { p =>
        val at = names.map(p.schema.fieldNames.indexOf(_))
        p.rows.map(r => at.map(i => if (i < 0) null else r(i)))
      }))
    }
  }

  def toDF(spark: SparkSession, part: Part): DataFrame =
    spark.createDataFrame(part.rows.map(Row.fromSeq).asJava, part.schema)

  /** The union as a local relation, or the empty frame. */
  def unionDF(spark: SparkSession, parts: Seq[Part]): DataFrame =
    union(parts).fold(spark.emptyDataFrame)(toDF(spark, _))

  /** `a < b` as the engine compares doubles: NaN above everything. */
  def lt(a: Double, b: Double): Boolean = a != b && java.lang.Double.compare(a, b) < 0

  /** Double equality as the engine tests it: NaN equals NaN. */
  def same(a: Double, b: Double): Boolean = a == b || (a.isNaN && b.isNaN)

  /** Ascending engine order for nullable doubles, nulls first. */
  val NullsFirst: Ordering[java.lang.Double] = (a: java.lang.Double, b: java.lang.Double) =>
    if (a == null) { if (b == null) 0 else -1 }
    else if (b == null) 1
    else if (a.doubleValue == b.doubleValue) 0
    else java.lang.Double.compare(a, b)

  /** A nullable numeric cell as a nullable double. */
  def dbl(v: Any): java.lang.Double = v match {
    case n: Number => n.doubleValue
    case _ => null
  }
}
