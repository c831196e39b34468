package graft.modules

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import graft.io.{DeckParser, Records => R}
import DeckTable.{NullsFirst, Part, Typed, dbl}

/** VFP lift-table extraction: the N-dimensional (THP × WFR × GFR × ALQ ×
  * FLOW) BHP tables flattened to tidy long form.
  *
  * Reference: vfp/_vfpprod.py:201-300 + _vfpcommon stack (R5,
  * vfp/_vfpcommon.py:89-167). The pandas MultiIndex-stack + bfill
  * machinery disappears: one projection types the basic record, the axis
  * arrays and the table records, and one driver pass over the parsed
  * deck ([[DeckTable]]) looks each table record's axis values up by
  * position and zips its BHP values with the flow axis — the long form
  * is generated directly, never via a wide intermediate.
  *
  * Record layout per VFPPROD keyword: record 0 = basic (table number,
  * datum, types/units), 1 = flow axis, 2 = THP axis, 3 = WFR axis,
  * 4 = GFR axis, 5 = ALQ axis, 6+ = (thp_i wfr_i gfr_i alq_i, BHP per
  * flow value). VFPINJ: record 1 = flow axis, 2 = THP axis, 3+ = table.
  */
object Vfp {

  private def darr(c: Column): Column = transform(c, x => x.cast("double"))

  /** One keyword's layout: its basic record, the number of axes, the
    * index columns of a table record, and the output columns around them.
    */
  private final case class Layout(keyword: String, basic: Column, axes: Int,
      indexes: Seq[String], order: Seq[String])

  // type/unit defaults follow the reference (vfp/_vfpprod.py:100-130):
  // no UNITS entry → the DEFAULT unit system; a defaulted/empty ALQ type
  // renders as the literal two-quote string '' like the reference keeps
  private val Prod = Layout("VFPPROD",
    struct(R.int(0).as("TABLE_NUMBER"), R.dbl(1).as("DATUM"),
      R.str(2).as("RATE_TYPE"), R.str(3).as("WFR_TYPE"), R.str(4).as("GFR_TYPE"),
      R.str(5, "THP").as("PRESSURE_TYPE"),
      coalesce(nullif(R.str(6), lit("")), lit("''")).as("ALQ_TYPE"),
      R.str(7, "DEFAULT").as("UNIT_TYPE"), R.str(8, "BHP").as("TAB_TYPE")),
    5, Seq("PRESSURE", "WFR", "GFR", "ALQ"),
    // reference column order (vfp/_vfpprod.py:278-298)
    Seq("RATE", "PRESSURE", "WFR", "GFR", "ALQ", "TAB", "VFP_TYPE", "TABLE_NUMBER", "DATUM",
      "RATE_TYPE", "WFR_TYPE", "GFR_TYPE", "ALQ_TYPE", "PRESSURE_TYPE", "TAB_TYPE", "UNIT_TYPE"))

  private val Inj = Layout("VFPINJ",
    struct(R.int(0).as("TABLE_NUMBER"), R.dbl(1).as("DATUM"), R.str(2).as("RATE_TYPE"),
      R.str(3, "THP").as("PRESSURE_TYPE"), R.str(4, "DEFAULT").as("UNIT_TYPE"),
      R.str(5, "BHP").as("TAB_TYPE")),
    2, Seq("PRESSURE"),
    // reference column order (vfp/_vfpinj.py stacked form)
    Seq("RATE", "PRESSURE", "TAB", "VFP_TYPE", "TABLE_NUMBER", "DATUM", "RATE_TYPE",
      "PRESSURE_TYPE", "TAB_TYPE", "UNIT_TYPE"))

  /** The typed records of one layout: basic, axis and table columns. */
  private def columns(l: Layout): Seq[Column] = {
    val rec = col("recordIdx")
    val on = col("keyword") === l.keyword && size(col("items")) > 0
    val n = l.indexes.length
    Seq(when(on && rec === 0, l.basic).as(s"${l.keyword}_basic"),
      when(on && rec.between(1, l.axes), darr(col("items"))).as(s"${l.keyword}_axis"),
      when(on && rec > l.axes, struct(l.indexes.indices.map(i => R.int(i).as(s"i$i")) :+
        darr(slice(col("items"), lit(n + 1), lit(1000000))).as("tab"): _*)).as(s"${l.keyword}_row"))
  }

  /** The axis value at a 1-based index; null for a null axis or index. */
  private def at(axis: Option[Seq[Any]], index: Any, table: Any, name: String): Any =
    (axis, index) match {
      case (Some(a), i: Int) =>
        require(i >= 1 && i <= a.length,
          s"VFP table $table: $name index $i outside its ${a.length}-value axis")
        a(i - 1)
      case _ => null
    }

  /** One layout's long form, sorted by table number, then the index axes
    * and RATE. Table records need the basic record (kept only for
    * `tablenumbers` when given) and at least one axis record; a missing
    * flow axis yields no rows, a missing index axis null values.
    */
  private def longForm(t: Typed, l: Layout, tablenumbers: Seq[Int]): Part = {
    val Seq(bi, ai, ri) = Seq("basic", "axis", "row").map(s => t.index(s"${l.keyword}_$s"))
    val basicFields = t.struct(s"${l.keyword}_basic").fields
    val occurrences = t.rows.filter(_.getString(0) == l.keyword).groupBy(_.getInt(1))
    val rows = occurrences.toSeq.sortBy(_._1).flatMap { case (_, recs) =>
      val basic = recs.find(!_.isNullAt(bi)).map(_.getStruct(bi))
        .filter(b => tablenumbers.isEmpty || (!b.isNullAt(0) && tablenumbers.contains(b.getInt(0))))
      val axes = recs.filter(!_.isNullAt(ai)).map(r => r.getInt(2) -> r.getSeq[Any](ai)).toMap
      for {
        b <- basic.toSeq if axes.nonEmpty
        r <- recs if !r.isNullAt(ri)
        flow <- axes.get(1).toSeq
        row = r.getStruct(ri)
        tab = row.getSeq[Any](l.indexes.length)
        values = l.indexes.indices.map(i => at(axes.get(i + 2), row.get(i), b.get(0), l.indexes(i)))
        k <- 0 until math.max(flow.length, tab.length)
      } yield {
        val cell = Map("RATE" -> flow.lift(k).orNull, "TAB" -> tab.lift(k).orNull,
          "VFP_TYPE" -> l.keyword) ++ l.indexes.zip(values) ++ basicFields.map(_.name).zip(b.toSeq)
        l.order.map(cell)
      }
    }
    val key = (("TABLE_NUMBER" +: l.indexes) :+ "RATE").map(l.order.indexOf)
    val byKey: Ordering[Seq[Any]] = (a: Seq[Any], b: Seq[Any]) =>
      key.iterator.map(i => NullsFirst.compare(dbl(a(i)), dbl(b(i)))).find(_ != 0).getOrElse(0)
    val fields = l.order.map {
      case "VFP_TYPE" => StructField("VFP_TYPE", StringType, nullable = false)
      case n => basicFields.find(_.name == n).getOrElse(StructField(n, DoubleType, nullable = true))
    }
    Part(StructType(fields), rows.sorted(byKey))
  }

  /** @param tablenumbers restrict to these TABLE_NUMBERs (the reference's
    *   `vfpnumbers_str` filter, vfp/_vfp.py:436-437)
    * @param units attach per-axis unit columns from [[VfpDefs]]
    */
  def df(spark: SparkSession, deckText: String,
      tablenumbers: Seq[Int] = Nil, units: Boolean = false): DataFrame = {
    val t = DeckTable.typed(DeckParser.toDS(spark, deckText).toDF(), Seq(Prod.keyword, Inj.keyword),
      columns(Prod) ++ columns(Inj): _*)
    val prod = longForm(t, Prod, tablenumbers)
    val inj = longForm(t, Inj, tablenumbers)
    val out = DeckTable.toDF(spark,
      if (inj.rows.isEmpty) prod
      else if (prod.rows.isEmpty) inj
      else DeckTable.union(Seq(prod, inj)).get)
    if (units) VfpDefs.withUnits(out) else out
  }
}
