package graft.modules

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import graft.io.{DeckParser, Records => R}
import DeckTable.{Chunk, Part, dbl}

/** Saturation-function tables (SWOF/SGOF/…) → tidy rows.
  *
  * Reference: satfunc.py:38-157. Each record is one SATNUM's full table as
  * a flat DATA list; SATNUM is the 1-based record counter (R7
  * recordcountername), and the list reshapes into fixed-width rows (R6).
  * Here: the records are typed by `Records.dataChunks` in one projection,
  * and the reshape, the SATNUM counter and the interpolation run in one
  * driver pass over the parsed deck ([[DeckTable]]).
  */
object Satfunc {

  /** keyword → column block (reference satfunc column families). */
  val Families: Map[String, Seq[String]] = Map(
    "SWOF" -> Seq("SW", "KRW", "KROW", "PCOW"),
    "SGOF" -> Seq("SG", "KRG", "KROG", "PCOG"),
    "SLGOF" -> Seq("SL", "KRG", "KRO", "PCOG"), // KRO, not KROG (satfunc.py:56)
    "SWFN" -> Seq("SW", "KRW", "PCOW"),
    "SGFN" -> Seq("SG", "KRG", "PCOG"),
    "SGWFN" -> Seq("SG", "KRG", "KRW", "PCGW"),
    "SOF2" -> Seq("SO", "KRO"),
    "SOF3" -> Seq("SO", "KROW", "KROG"))

  /** All present families, unioned with per-family column sets
    * (unionByName allowMissingColumns — reference U1, satfunc.py:114-116).
    *
    * `ntsfun` is the explicit table-count override (inferdims.py:18-84
    * API parity — the reference's `satfunc.df(..., ntsfun=N)`), one for
    * every family like the reference's: when the deck's record structure
    * under-counts (several tables concatenated in one flat record — the
    * shape opm needs TABDIMS for), records split into tables wherever the
    * saturation column DECREASES ([[DeckTable.tableNumbers]]) and each
    * keyword must come out to exactly `ntsfun` tables. Without the
    * override the record counter stands.
    */
  def df(spark: SparkSession, deckText: String,
      ntsfun: Option[Int] = None): DataFrame = {
    val kw = col("keyword")
    val typed = DeckTable.typed(DeckParser.toDS(spark, deckText).toDF(), Families.keys.toSeq,
      Families.toSeq.map { case (k, names) =>
        when(kw === k && size(col("items")) > 0, R.dataChunks(names)).as(k)
      }: _*)
    DeckTable.unionDF(spark, Families.keys.toSeq.sorted.map { k =>
      val chunks = DeckTable.chunks(typed, k)
      val satnum = DeckTable.tableNumbers(chunks, k, ntsfun)
      Part(StructType(Seq(StructField("KEYWORD", StringType, nullable = false),
          StructField("SATNUM", IntegerType, nullable = false)) ++ typed.struct(k).fields.tail),
        satnum.zip(interpolateDefaults(chunks, satnum))
          .map { case (n, values) => Seq(k, n) ++ values })
    })
  }

  /** Defaulted (`1*`) table values fill by linear interpolation over the
    * saturation index (the first column), interior-only, per SATNUM —
    * reference satfunc.py:132-157 interpolate(method="index",
    * limit_area="inside"). A gap takes the nearest valued rows below and
    * above it in index order; a gap with no valued row on one side stays
    * null.
    */
  private def interpolateDefaults(chunks: Seq[Chunk], satnum: Seq[Int]): Seq[Seq[Any]] = {
    val out = chunks.map(_.values.toArray)
    chunks.indices.groupBy(satnum).values.foreach { group =>
      // ascending index, nulls first; the downward walk meets the
      // null-index rows last
      val asc = group.sortBy(i => dbl(chunks(i).values.head))(DeckTable.NullsFirst)
      val (valued, unindexed) = asc.partition(i => dbl(chunks(i).values.head) != null)
      val desc = valued.reverse ++ unindexed
      for (c <- 1 until chunks.head.values.length) {
        // per row: the last valued (value, index) at or before it in a walk
        def walk(order: Seq[Int]): Map[Int, (java.lang.Double, java.lang.Double)] = {
          var v: java.lang.Double = null
          var x: java.lang.Double = null
          order.map { i =>
            val vi = dbl(chunks(i).values(c))
            if (vi != null) {
              v = vi
              val xi = dbl(chunks(i).values.head)
              if (xi != null) x = xi
            }
            i -> (v, x)
          }.toMap
        }
        val (prev, next) = (walk(asc), walk(desc))
        group.foreach { i =>
          val ((pv, px), (nv, nx)) = (prev(i), next(i))
          val x = dbl(chunks(i).values.head)
          if (dbl(chunks(i).values(c)) == null && pv != null && nv != null)
            out(i)(c) =
              if (px != null && nx != null && DeckTable.same(px, nx)) pv
              else if (x == null || px == null || nx == null) null
              else java.lang.Double.valueOf(pv + (nv - pv) * (x - px) / (nx - px))
        }
      }
    }
    out.map(_.toSeq)
  }
}
