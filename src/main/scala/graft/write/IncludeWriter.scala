package graft.write

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** Include-file text sinks — the reverse path (df2res): DataFrame →
  * Eclipse keyword text.
  *
  * Reference: generic fixed-width table writer common.py:508-750 (S13)
  * with quoting and `1*` defaults and trailing-default elision, and the
  * run-length-encoded grid vector export grid.py:623-756 +
  * runlength_compress common.py:753-784 (S14, the `5*2` syntax).
  *
  * Include files are human-readable driver-sized text, so each writer
  * collects its input once and formats the collected rows on the driver
  * (the reference does the same); the RLE itself is a linear fold. For
  * cluster-sized exports, write per-partition fragments with the same
  * fold and concatenate.
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

  /** Collected rows under their column names. A name resolves exactly,
    * else case-insensitively, like a column reference.
    */
  private final case class Table(columns: IndexedSeq[String], rows: IndexedSeq[IndexedSeq[Any]]) {
    def has(c: String): Boolean = columns.contains(c)
    def index(c: String): Int = columns.indexOf(c) match {
      case -1 =>
        val i = columns.indexWhere(_.equalsIgnoreCase(c))
        require(i >= 0, s"no column $c among ${columns.mkString(", ")}")
        i
      case i => i
    }
    def select(cs: Seq[String]): Table = {
      val at = cs.map(index)
      Table(at.map(columns).toIndexedSeq, rows.map(r => at.map(r).toIndexedSeq))
    }
  }

  private object Table {
    def apply(df: DataFrame): Table =
      Table(df.columns.toIndexedSeq, df.collect().map(_.toSeq.toIndexedSeq).toIndexedSeq)
  }

  /** Ascending order of a region column's values, nulls first. */
  private val ValueOrder: Ordering[Any] = (a: Any, b: Any) => (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: Number, y: Number) => java.lang.Double.compare(x.doubleValue, y.doubleValue)
    case (x: Comparable[Any] @unchecked, y) => x.compareTo(y)
    case (x, y) => throw new IllegalArgumentException(s"cannot order $x against $y")
  }

  /** Generic keyword table: one record line per row, `1*` for nulls,
    * trailing defaults elided, terminating slash per record and a lone
    * slash closing the keyword.
    */
  def genericDeckTable(df: DataFrame, keyword: String, comment: Option[String] = None): String =
    deckTable(Table(df), keyword, comment)

  private def deckTable(t: Table, keyword: String, comment: Option[String] = None): String = {
    val sb = new StringBuilder
    comment.foreach(c => sb.append(c.linesIterator.map("-- " + _).mkString("", "\n", "\n")))
    sb.append(keyword).append('\n')
    sb.append("-- ").append(t.columns.mkString(" ")).append('\n')
    t.rows.foreach { row =>
      val cells = row.map(fmt)
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
      valueCols: Seq[String]): String =
    table(Table(df.select((regionCol +: valueCols).map(col): _*)), keyword, regionCol, valueCols)

  /** [[tableKeyword]] over rows of (region, values...). */
  private def table(t: Table, keyword: String, regionCol: String,
      valueCols: Seq[String]): String = {
    val sb = new StringBuilder
    sb.append(keyword).append('\n')
    sb.append("-- ").append(valueCols.mkString(" ")).append('\n')
    val rows = t.rows
    val nullRegions = rows.count(_.head == null)
    require(nullRegions == 0,
      s"$keyword: $nullRegions rows with null $regionCol — region is the table key")
    rows.groupBy(_.head.toString.toDouble.toInt).toSeq.sortBy(_._1)
      .foreach { case (_, rs) =>
        rs.foreach(r => sb.append("  ").append(r.tail.map(fmt).mkString(" ")).append('\n'))
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
      descendingLines: Boolean = false): String =
    nested(Table(df.select((Seq(regionCol, headCol) ++ triple).map(c => col(s"`$c`")): _*)),
      keyword, regionCol, headCol, triple, descendingLines)

  /** [[nestedTableKeyword]] over rows of (region, head, triple...). */
  private def nested(t: Table, keyword: String, regionCol: String,
      headCol: String, triple: Seq[String], descendingLines: Boolean): String = {
    val sb = new StringBuilder
    sb.append(keyword).append('\n')
    sb.append("-- ").append((headCol +: triple).mkString(" ")).append('\n')
    val rows = t.rows
    val nullKeys = rows.count(r => r(0) == null || r(1) == null)
    require(nullKeys == 0,
      s"$keyword: $nullKeys rows with null $regionCol/$headCol — both are record keys")
    rows.groupBy(_(0).toString.toDouble.toInt).toSeq.sortBy(_._1).foreach {
      case (_, regionRows) =>
        // group records by the RAW head value (row identity), sort by its
        // numeric value — parsing to double first would silently merge
        // distinct records whose formatted heads happen to parse equal
        regionRows.groupBy(_(1)).toSeq.sortBy(_._1.toString.toDouble).foreach {
          case (_, recRows0) =>
            // undersaturated lines in a deterministic, convention-correct
            // order — Spark collect order is partition-scan order, not the
            // frame's logical order (unlike the reference's stable pandas
            // index): PVTO lines ascend in pressure, PVTG descend in OGR
            val recRows = {
              val sorted = recRows0.sortBy(_(2).toString.toDouble)
              if (descendingLines) sorted.reverse else sorted
            }
            sb.append("  ").append(fmt(recRows.head(1)))
            recRows.zipWithIndex.foreach { case (r, i) =>
              if (i > 0) sb.append("\n   ")
              sb.append("  ").append((2 until 2 + triple.length).map(j => fmt(r(j))).mkString(" "))
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
      // each row under its (THP, WFR, GFR, ALQ) point; Seq equality on
      // doubles is numeric (-0.0 is 0.0, NaN matches nothing)
      val byPoint = rs.groupBy(r =>
        Seq("PRESSURE", "WFR", "GFR", "ALQ").map(c => r.getAs[Double](c)))
      for (ti <- thp.indices; wi <- wfr.indices; gi <- gfr.indices; ai <- alq.indices) {
        val pts = byPoint.getOrElse(Seq(thp(ti), wfr(wi), gfr(gi), alq(ai)), Array.empty[Row])
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
    require(df.columns.contains("KEYWORD"), "df2res needs a KEYWORD column")
    val all = Table(df)
    // the reference refuses region columns with gaps (EQLNUM/SATNUM/PVTNUM
    // must be 1..max consecutive — common.py:528-560): a gap silently
    // renumbers every later region on re-parse, so fail fast instead
    consecutive.filter(all.has).foreach { c =>
      val i = all.index(c)
      val vals = all.rows.map(_(i)).filter(_ != null).map {
        case n: Number => n.longValue
        case v => v.toString.trim.toLong
      }.distinct.sorted
      require(vals.isEmpty || (vals.head == 1L && vals.last == vals.length.toLong),
        s"$c must be consecutive from 1, got ${vals.mkString(",")}")
    }
    val masterComment = comments.get("master")
      .map(_.linesIterator.map("-- " + _).mkString("", "\n", "\n")).getOrElse("")
    val kwAt = all.index("KEYWORD")
    val firstSeen = all.rows.map(_(kwAt).asInstanceOf[String]).distinct
    val order = keywords.map(_.filter(firstSeen.toSet)).getOrElse(firstSeen)
    masterComment + order.map { kw =>
      val part0 = all.copy(rows = all.rows.filter(r => r(kwAt) != null && r(kwAt) == kw))
      val region = regionColumns.find(part0.has)
      val part = region.fold(part0) { r =>
        val i = part0.index(r)
        part0.copy(rows = part0.rows.sortBy(_(i))(ValueOrder))
      }
      val comment = comments.get(kw)
        .map(_.linesIterator.map("-- " + _).mkString("", "\n", "\n")).getOrElse("")
      comment + (tableFamilies.get(kw) match {
        case Some((regionCol, cols)) if part.has(regionCol) =>
          val present = cols.filter(part.has)
          table(part.select(regionCol +: present), kw, regionCol, present)
        case _ if nestedFamilies.contains(kw) =>
          val (head, triple) = nestedFamilies(kw)
          // a frame without PVTNUM is a single region (the reference
          // fills PVTNUM=1, pvt.py:609-614)
          val withRegion = if (part.has("PVTNUM")) part
            else Table(part.columns :+ "PVTNUM", part.rows.map(_ :+ 1))
          nested(withRegion.select(Seq("PVTNUM", head) ++ triple), kw, "PVTNUM", head, triple,
            descendingLines = kw == "PVTG")
        case _ =>
          keywordSlots.get(kw) match {
            case Some(slots) =>
              val chosen = slots.map(_.find(part.has))
              val last = chosen.lastIndexWhere(_.isDefined)
              if (last < 0) s"$kw\n/\n"
              else {
                val sel = chosen.take(last + 1).zipWithIndex.map {
                  case (Some(c), _) => (c, Some(part.index(c)))
                  case (None, i) => (slots(i).headOption.getOrElse(s"ITEM${i + 1}"), None)
                }
                deckTable(Table(sel.map(_._1).toIndexedSeq,
                  part.rows.map(r => sel.map(_._2.fold(null: Any)(r)).toIndexedSeq)), kw)
              }
            case None =>
              val book = (Seq("KEYWORD", "DATE") ++ regionColumns).filter(part.has)
              val p1 = part.select(part.columns.filterNot(c => book.exists(_.equalsIgnoreCase(c))))
              if (p1.columns.isEmpty) s"$kw\n/\n"
              else {
                val keep = p1.columns.indices.filter(i => p1.rows.exists(_(i) != null))
                deckTable(p1.select(keep.map(p1.columns)), kw)
              }
          }
      })
    }.mkString("\n")
  }

  /** EDITNNC keyword text from an NNC multiplier frame (S15,
    * nnc.py:206-276): `I1 J1 K1 I2 J2 K2 TRANM` records.
    */
  def editnnc(nnc: DataFrame, multColumn: String = "TRANM"): String = {
    val t = Table(nnc.select(Seq("I1", "J1", "K1", "I2", "J2", "K2", multColumn).map(col): _*))
    deckTable(t, "EDITNNC", Some(s"${t.rows.length} NNC connections to edit"))
  }
}
