package graft.write

import org.apache.spark.sql.DataFrame

/** Include-file text sinks — the reverse path (df2res): DataFrame →
  * Eclipse keyword text.
  *
  * Reference: generic fixed-width table writer common.py:508-750 (S13)
  * with quoting and `1*` defaults and trailing-default elision, and the
  * run-length-encoded grid vector export grid.py:623-756 +
  * runlength_compress common.py:753-784 (S14, the `5*2` syntax).
  *
  * Include files are human-readable driver-sized text, so formatting runs
  * on collected rows (the reference does the same); the RLE itself is a
  * linear fold. For cluster-sized exports, write per-partition fragments
  * with the same fold and concatenate.
  */
object IncludeWriter {

  private def fmt(v: Any): String = v match {
    case null => "1*"
    case s: String if s.isEmpty || s.exists(_.isWhitespace) => s"'$s'"
    case s: String => s
    case d: Double => if (d == d.floor && d.abs < 1e15) d.toLong.toString else d.toString
    case f: Float => fmt(f.toDouble)
    case t: java.sql.Timestamp => s"'${t.toLocalDateTime.toLocalDate}'"
    case x => x.toString
  }

  /** A VFP type token: the empty-ALQ sentinel `''` is already its own
    * quoting (wrapping it again would emit four quotes).
    */
  private def quoteType(s: String): String =
    if (s == "''" || s == null) "''" else s"'$s'"

  /** Generic keyword table: one record line per row, `1*` for nulls,
    * trailing defaults elided, terminating slash per record and a lone
    * slash closing the keyword.
    */
  def genericDeckTable(df: DataFrame, keyword: String, comment: Option[String] = None): String = {
    val sb = new StringBuilder
    comment.foreach(c => sb.append(c.linesIterator.map("-- " + _).mkString("", "\n", "\n")))
    sb.append(keyword).append('\n')
    sb.append("-- ").append(df.columns.mkString(" ")).append('\n')
    df.collect().foreach { row =>
      val cells = row.toSeq.map(fmt)
      // elide the trailing run of defaulted values (reference common.py:694-696)
      val trimmed = cells.reverse.dropWhile(_ == "1*").reverse
      sb.append("  ").append(trimmed.mkString(" ")).append(" /\n")
    }
    sb.append("/\n")
    sb.toString
  }

  /** Table-family keyword writer (reference satfunc/pvt df2res_*,
    * satfunc.py / pvt.py): rows grouped by a region column (SATNUM /
    * PVTNUM), each group emitted as one table of data lines closed by a
    * `/`, groups in ascending region order. Round-trips through the
    * corresponding module reader (record index == region number).
    */
  def tableKeyword(df: DataFrame, keyword: String, regionCol: String,
      valueCols: Seq[String]): String = {
    import org.apache.spark.sql.functions.col
    val sb = new StringBuilder
    sb.append(keyword).append('\n')
    sb.append("-- ").append(valueCols.mkString(" ")).append('\n')
    val rows = df.select((regionCol +: valueCols).map(col): _*).collect()
    val nullRegions = rows.count(_.isNullAt(0))
    require(nullRegions == 0,
      s"$keyword: $nullRegions rows with null $regionCol — region is the table key")
    rows.groupBy(_.get(0).toString.toDouble.toInt).toSeq.sortBy(_._1)
      .foreach { case (_, rs) =>
        rs.foreach(r => sb.append("  ").append(r.toSeq.tail.map(fmt).mkString(" ")).append('\n'))
        sb.append("/\n")
      }
    sb.toString
  }

  /** Nested-table keyword writer (PVTO/PVTG — reference df2res_pvto /
    * df2res_pvtg, pvt.py:593-647): per region (sorted PVTNUM), one record
    * per head value (sorted) holding the head followed by its
    * undersaturated triples, `/` closing each record and a lone `/`
    * closing each region — the empty-record separators the nested reader
    * counts regions by, so the output round-trips.
    */
  def nestedTableKeyword(df: DataFrame, keyword: String, regionCol: String,
      headCol: String, triple: Seq[String],
      descendingLines: Boolean = false): String = {
    import org.apache.spark.sql.functions.col
    val sb = new StringBuilder
    sb.append(keyword).append('\n')
    sb.append("-- ").append((headCol +: triple).mkString(" ")).append('\n')
    val rows = df.select((Seq(regionCol, headCol) ++ triple).map(c => col(s"`$c`")): _*)
      .collect()
    val nullKeys = rows.count(r => r.isNullAt(0) || r.isNullAt(1))
    require(nullKeys == 0,
      s"$keyword: $nullKeys rows with null $regionCol/$headCol — both are record keys")
    rows.groupBy(_.get(0).toString.toDouble.toInt).toSeq.sortBy(_._1).foreach {
      case (_, regionRows) =>
        // group records by the RAW head value (row identity), sort by its
        // numeric value — parsing to double first would silently merge
        // distinct records whose formatted heads happen to parse equal
        regionRows.groupBy(_.get(1)).toSeq.sortBy(_._1.toString.toDouble).foreach {
          case (_, recRows0) =>
            // undersaturated lines in a deterministic, convention-correct
            // order — Spark collect order is partition-scan order, not the
            // frame's logical order (unlike the reference's stable pandas
            // index): PVTO lines ascend in pressure, PVTG descend in OGR
            val recRows = {
              val sorted = recRows0.sortBy(_.get(2).toString.toDouble)
              if (descendingLines) sorted.reverse else sorted
            }
            sb.append("  ").append(fmt(recRows.head.get(1)))
            recRows.zipWithIndex.foreach { case (r, i) =>
              if (i > 0) sb.append("\n   ")
              sb.append("  ").append((2 until 2 + triple.length).map(j => fmt(r.get(j))).mkString(" "))
            }
            sb.append(" /\n")
        }
        sb.append("/\n")
    }
    sb.toString
  }

  /** Run-length compression of an ordered value sequence into Eclipse
    * `N*value` tokens (only runs >= `threshold` are compressed).
    */
  def runlengthCompress(values: Seq[Any], threshold: Int = 2): String = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < values.length) {
      var j = i
      while (j < values.length && values(j) == values(i)) j += 1
      val run = j - i
      val v = fmt(values(i))
      if (run >= threshold) out += s"$run*$v" else (1 to run).foreach(_ => out += v)
      i = j
    }
    out.result().grouped(10).map(_.mkString(" ")).mkString("\n")
  }

  /** Per-cell grid keyword export: values ordered by a global index column,
    * RLE-compressed (reference grid.df2res, grid.py:623-756).
    */
  def gridVector(df: DataFrame, valueCol: String, orderCol: String, keyword: String): String = {
    val values = df.select(orderCol, valueCol).collect()
      .sortBy(_.get(0).toString.toLong).map(_.get(1)).toSeq
    s"$keyword\n${runlengthCompress(values)}\n/\n"
  }

  /** VFPPROD include text from the long-form table (S17,
    * vfp/_vfpprod.py:803-986): basic record, axis records, then one table
    * record per (THP,WFR,GFR,ALQ) point with the BHP row over the flow
    * axis. Inverse of modules/Vfp.vfpprod — round-trippable.
    */
  def vfpprod(long: DataFrame): String = {
    val rows = long.collect()
    val sb = new StringBuilder
    rows.groupBy(_.getAs[Int]("TABLE_NUMBER")).toSeq.sortBy(_._1).foreach { case (tno, rs) =>
      val h = rs.head
      def axis(c: String): Seq[Double] =
        rs.map(_.getAs[Double](c)).distinct.sorted.toSeq
      val (flow, thp, wfr, gfr, alq) =
        (axis("RATE"), axis("PRESSURE"), axis("WFR"), axis("GFR"), axis("ALQ"))
      sb.append("VFPPROD\n")
      sb.append(s"  $tno ${fmt(h.getAs[Double]("DATUM"))} '${h.getAs[String]("RATE_TYPE")}' " +
        s"'${h.getAs[String]("WFR_TYPE")}' '${h.getAs[String]("GFR_TYPE")}' " +
        s"'${h.getAs[String]("PRESSURE_TYPE")}' ${quoteType(h.getAs[String]("ALQ_TYPE"))} " +
        // DEFAULT is the absence of a UNITS entry, not a token — the
        // reference writes 1* for it (vfp/_vfpprod.py:933-935)
        (h.getAs[String]("UNIT_TYPE") match {
          case "DEFAULT" | null => "1* "
          case u => s"'$u' "
        }) +
        s"'${h.getAs[String]("TAB_TYPE")}' /\n")
      Seq(flow, thp, wfr, gfr, alq).foreach(a =>
        sb.append("  ").append(a.map(fmt).mkString(" ")).append(" /\n"))
      for (ti <- thp.indices; wi <- wfr.indices; gi <- gfr.indices; ai <- alq.indices) {
        val pts = rs.filter(r => r.getAs[Double]("PRESSURE") == thp(ti) &&
          r.getAs[Double]("WFR") == wfr(wi) && r.getAs[Double]("GFR") == gfr(gi) &&
          r.getAs[Double]("ALQ") == alq(ai))
        if (pts.nonEmpty) {
          val tab = pts.sortBy(_.getAs[Double]("RATE")).map(r => fmt(r.getAs[Double]("TAB")))
          sb.append(s"  ${ti + 1} ${wi + 1} ${gi + 1} ${ai + 1} ")
            .append(tab.mkString(" ")).append(" /\n")
        }
      }
      sb.append("/\n")
    }
    sb.toString
  }

  private val tableFamilies: Map[String, (String, Seq[String])] = Map(
    "SWOF" -> ("SATNUM", Seq("SW", "KRW", "KROW", "PCOW")),
    "SGOF" -> ("SATNUM", Seq("SG", "KRG", "KROG", "PCOG")),
    "SWFN" -> ("SATNUM", Seq("SW", "KRW", "PCOW")),
    "SGFN" -> ("SATNUM", Seq("SG", "KRG", "PCOG")),
    "SLGOF" -> ("SATNUM", Seq("SL", "KRG", "KRO", "PCOG")),
    "SGWFN" -> ("SATNUM", Seq("SG", "KRG", "KRW", "PCGW")),
    "SOF2" -> ("SATNUM", Seq("SO", "KRO")),
    "SOF3" -> ("SATNUM", Seq("SO", "KROW", "KROG")),
    "PVDO" -> ("PVTNUM", Seq("PRESSURE", "VOLUMEFACTOR", "VISCOSITY")),
    "PVDG" -> ("PVTNUM", Seq("PRESSURE", "VOLUMEFACTOR", "VISCOSITY")),
    "RSVD" -> ("EQLNUM", Seq("Z", "RS")),
    "RVVD" -> ("EQLNUM", Seq("Z", "RV")),
    "PBVD" -> ("EQLNUM", Seq("Z", "PB")),
    "PDVD" -> ("EQLNUM", Seq("Z", "PD")))

  /** Ordered item slots per keyword for the generic record path. The
    * reference slices the frame against the OPM keyword schema's item
    * names (common.py:672-691) so region/bookkeeping columns and sibling
    * keywords' columns never reach the output; these lists replay that
    * selection against our module column names. Each slot lists the
    * aliases that may carry it (EQUIL's contact slots are phase-dependent,
    * equil.py:402-431); an empty slot is a schema position our readers
    * never populate, held by `1*` so later items keep their index.
    */
  private val keywordSlots: Map[String, Seq[Seq[String]]] = Map(
    "EQUIL" -> Seq(Seq("Z"), Seq("PRESSURE"), Seq("OWC", "GWC"),
      Seq("PCOWC", "PCGWC"), Seq("GOC"), Seq("PCGOC"),
      Seq("INITRS"), Seq("INITRV"), Seq("ACCURACY")),
    "DENSITY" -> Seq("OILDENSITY", "WATERDENSITY", "GASDENSITY").map(Seq(_)),
    "ROCK" -> Seq("PRESSURE", "COMPRESSIBILITY").map(Seq(_)),
    "PVTW" -> Seq("PRESSURE", "VOLUMEFACTOR", "COMPRESSIBILITY",
      "VISCOSITY", "VISCOSIBILITY").map(Seq(_)),
    "WCONPROD" -> Seq("WELL", "STATUS", "CMODE", "ORAT", "WRAT", "GRAT",
      "LRAT", "RESV", "BHP", "THP", "VFP_TABLE", "ALQ").map(Seq(_)),
    "WCONHIST" -> Seq("WELL", "STATUS", "CMODE", "ORAT", "WRAT", "GRAT",
      "VFP_TABLE", "ALQ", "THP", "BHP", "NGLRAT").map(Seq(_)),
    "WCONINJE" -> Seq("WELL", "TYPE", "STATUS", "CMODE", "RATE", "RESV",
      "BHP", "THP", "VFP_TABLE").map(Seq(_)),
    "WCONINJH" -> (Seq("WELL", "TYPE", "STATUS", "RATE", "BHP", "THP",
      "VFP_TABLE").map(Seq(_)) ++ Seq.fill(4)(Seq.empty[String]) :+ Seq("CMODE")),
    "COMPDAT" -> Seq("WELL", "I", "J", "K1", "K2", "OP/SH", "SATN", "TRAN",
      "WBDIA", "KH", "SKIN", "DFACT", "DIR", "PEQVR").map(Seq(_)),
    "WELSPECS" -> Seq("WELL", "GROUP", "HEAD_I", "HEAD_J").map(Seq(_)),
    "WELOPEN" -> Seq("WELL", "STATUS", "I", "J", "K", "C1", "C2").map(Seq(_)),
    "COMPLUMP" -> Seq("WELL", "I", "J", "K1", "K2", "N").map(Seq(_)),
    "GRUPTREE" -> Seq("CHILD", "PARENT").map(Seq(_)),
    "FAULTS" -> Seq("NAME", "IX1", "IX2", "IY1", "IY2", "IZ1", "IZ2",
      "FACE").map(Seq(_)),
    "EDITNNC" -> Seq("I1", "J1", "K1", "I2", "J2", "K2", "TRANM").map(Seq(_)))

  private val regionColumns = Seq("EQLNUM", "PVTNUM", "SATNUM")

  /** Nested undersaturated-line keywords: head column + triple, written by
    * [[nestedTableKeyword]] (region separators preserved on round-trip).
    */
  private val nestedFamilies: Map[String, (String, Seq[String])] = Map(
    "PVTO" -> ("RS", Seq("PRESSURE", "VOLUMEFACTOR", "VISCOSITY")),
    "PVTG" -> ("PRESSURE", Seq("OGR", "VOLUMEFACTOR", "VISCOSITY")))

  /** The reference's `common.df2res` dispatcher (common.py:508-625): route
    * a KEYWORD-columned tidy frame to the right writer per keyword.
    * Keywords emit in `keywords` order when supplied (the reference's
    * user-supplied list order, common.py:592-594), else in order of first
    * appearance in the frame. Table-family keywords (satfunc/PVT simple
    * tables) go through [[tableKeyword]] grouped on their region column;
    * keywords with a registered slot list emit exactly their schema items
    * (missing interior items as `1*`); anything else falls back to
    * [[genericDeckTable]] with bookkeeping columns and per-keyword
    * all-null columns dropped. `comments` prepends `-- ` blocks per
    * keyword (key "master" heads the whole file) and `consecutive`
    * fails fast on gapped region numbering, both mirroring the
    * reference's dispatcher arguments (common.py:519-560).
    */
  def df2res(df: DataFrame, keywords: Option[Seq[String]] = None,
      comments: Map[String, String] = Map.empty,
      consecutive: Option[String] = None): String = {
    import org.apache.spark.sql.functions.{col, count, lit, min, monotonically_increasing_id}
    require(df.columns.contains("KEYWORD"), "df2res needs a KEYWORD column")
    // the reference refuses region columns with gaps (EQLNUM/SATNUM/PVTNUM
    // must be 1..max consecutive — common.py:528-560): a gap silently
    // renumbers every later region on re-parse, so fail fast instead
    consecutive.filter(df.columns.contains).foreach { c =>
      val vals = df.select(col(c).cast("long")).na.drop().distinct()
        .collect().map(_.getLong(0)).sorted
      require(vals.isEmpty || (vals.head == 1L && vals.last == vals.length.toLong),
        s"$c must be consecutive from 1, got ${vals.mkString(",")}")
    }
    val masterComment = comments.get("master")
      .map(_.linesIterator.map("-- " + _).mkString("", "\n", "\n")).getOrElse("")
    val firstSeen = df.withColumn("__ord", monotonically_increasing_id())
      .groupBy("KEYWORD").agg(min(col("__ord")).as("__first"))
      .orderBy(col("__first")).collect().map(_.getString(0)).toSeq
    val order = keywords.map(_.filter(firstSeen.toSet)).getOrElse(firstSeen)
    masterComment + order.map { kw =>
      val part0 = df.filter(col("KEYWORD") === kw)
      val region = regionColumns.find(part0.columns.contains)
      val part = region.map(r => part0.orderBy(col(r))).getOrElse(part0)
      val comment = comments.get(kw)
        .map(_.linesIterator.map("-- " + _).mkString("", "\n", "\n")).getOrElse("")
      comment + (tableFamilies.get(kw) match {
        case Some((regionCol, cols)) if part.columns.contains(regionCol) =>
          tableKeyword(part, kw, regionCol, cols.filter(part.columns.contains))
        case _ if nestedFamilies.contains(kw) =>
          val (head, triple) = nestedFamilies(kw)
          // a frame without PVTNUM is a single region (the reference
          // fills PVTNUM=1, pvt.py:609-614)
          val withRegion = if (part.columns.contains("PVTNUM")) part
            else part.withColumn("PVTNUM", lit(1))
          nestedTableKeyword(withRegion, kw, "PVTNUM", head, triple,
            descendingLines = kw == "PVTG")
        case _ =>
          keywordSlots.get(kw) match {
            case Some(slots) =>
              val chosen = slots.map(_.find(part.columns.contains))
              val last = chosen.lastIndexWhere(_.isDefined)
              if (last < 0) s"$kw\n/\n"
              else {
                val sel = chosen.take(last + 1).zipWithIndex.map {
                  case (Some(c), _) => col(s"`$c`")
                  case (None, i) => lit(null).cast("string")
                    .as(slots(i).headOption.getOrElse(s"ITEM${i + 1}"))
                }
                genericDeckTable(part.select(sel: _*), kw)
              }
            case None =>
              val book = (Seq("KEYWORD", "DATE") ++ regionColumns)
                .filter(part.columns.contains)
              val p1 = part.drop(book: _*)
              if (p1.columns.isEmpty) s"$kw\n/\n"
              else {
                val counts = p1.select(
                  p1.columns.map(c => count(col(s"`$c`")).as(c)).toIndexedSeq: _*).collect()(0)
                val keep = p1.columns.zipWithIndex
                  .filter { case (_, i) => counts.getLong(i) > 0L }.map(_._1)
                genericDeckTable(p1.select(keep.map(c => col(s"`$c`")).toIndexedSeq: _*), kw)
              }
          }
      })
    }.mkString("\n")
  }

  /** EDITNNC keyword text from an NNC multiplier frame (S15,
    * nnc.py:206-276): `I1 J1 K1 I2 J2 K2 TRANM` records.
    */
  def editnnc(nnc: DataFrame, multColumn: String = "TRANM"): String = {
    val cols = Seq("I1", "J1", "K1", "I2", "J2", "K2", multColumn)
    genericDeckTable(nnc.select(cols.map(org.apache.spark.sql.functions.col): _*),
      "EDITNNC", Some(s"${nnc.count()} NNC connections to edit"))
  }
}
