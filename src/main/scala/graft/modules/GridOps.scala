package graft.modules

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Ops

/** Grid-family operators: the reference's grid/nnc/trans/pillars modules
  * (grid.py, nnc.py, trans.py, pillars.py) re-expressed over parquet-backed
  * cell tables. The binary EGRID/INIT/UNRST decode is an offline-converter
  * concern (SURVEY.md §4.3) — everything here takes typed DataFrames with
  * the reference's column vocabulary (I,J,K, X,Y,Z, VOLUME, ACTIVE_IDX,
  * per-cell property vectors) and is pure Catalyst plan construction.
  */
object GridOps {

  /** resdata's NaN sentinel (values below -1e20+1e13) → null (P3,
    * grid.py:264-266).
    */
  def washNanSentinel(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df)((d, c) =>
      d.withColumn(c, when(col(c) < lit(-1e20 + 1e13), lit(null)).otherwise(col(c))))

  /** Assemble the grid frame: geometry ⟗ INIT ⟗ restart on the active-cell
    * ordinal (J1/J2, grid.py:524-531); SOIL derived when SWAT/SGAS present
    * (P13, grid.py:250-256). Restart frames carry DATE (stacked form, R4 —
    * the `COL@date` wide form is never materialized).
    */
  /** @param deriveSoil derive SOIL = 1 − SWAT − SGAS on the restart
    *   frame. The reference derives only when the user's vector globs
    *   match "SOIL" (grid.py:250-256) — CLI callers pass
    *   `vectorsMatchSoil(vectors)`; the default keeps the programmatic
    *   convenience for API users who pass full frames.
    */
  def assemble(geometry: DataFrame, init: Option[DataFrame], rst: Option[DataFrame],
      deriveSoil: Boolean = true): DataFrame = {
    val gi = init.fold(geometry)(i => geometry.join(i, Seq("ACTIVE_IDX"), "outer"))
    val full = rst.fold(gi) { r =>
      // derive only when absent — a restart that CARRIES a SOIL vector
      // must win over the 1-SWAT-SGAS convenience (grid.py:250-256)
      val withSoil =
        if (deriveSoil && r.columns.contains("SWAT") && r.columns.contains("SGAS") &&
            !r.columns.contains("SOIL"))
          r.withColumn("SOIL", lit(1.0) - col("SWAT") - col("SGAS"))
        else r
      gi.join(withSoil, Seq("ACTIVE_IDX"), "outer")
    }
    full
  }

  /** The reference's SOIL-derivation gate: any of the requested vector
    * globs matches "SOIL" (grid.py:253-255 `fnmatch("SOIL", key)`); an
    * empty vector list means "all vectors", which matches.
    */
  def vectorsMatchSoil(vectors: Seq[String]): Boolean =
    vectors.isEmpty ||
      vectors.exists(g => "SOIL".matches(graft.core.Ops.globToRegex(g)))

  /** Merge INIT vectors onto any (I,J,K)-keyed frame with configurable key
    * names (J3, merge_initvectors grid.py:365-408). The per-case INIT side
    * is dimension-sized → broadcast.
    */
  def mergeInitVectors(df: DataFrame, init: DataFrame, keyMap: Seq[(String, String)]): DataFrame = {
    val cond = keyMap.map { case (l, r) => df(l) === init(r) }.reduce(_ && _)
    df.join(broadcast(init), cond, "left")
      .drop(keyMap.map(_._2).filterNot(r => keyMap.exists(_._1 == r)): _*)
  }

  /** K-layer → zone lookup (J4, merge_zones common.py:369-405): broadcast
    * map literal + element_at, null for unmapped layers.
    */
  def mergeZones(df: DataFrame, zonemap: Map[Int, String], kCol: String = "K"): DataFrame = {
    if (zonemap.isEmpty) return df.withColumn("ZONE", lit(null).cast("string"))
    val m = map(zonemap.toSeq.sortBy(_._1)
      .flatMap { case (k, z) => Seq(lit(k), lit(z)) }: _*)
    df.withColumn("ZONE", element_at(m, col(kCol)))
  }

  /** Parameters fan-out (S9/J14, parameters.py + summary.py:529-564):
    * scalar key→values become constant columns on every row.
    */
  def mergeParams(df: DataFrame, params: Map[String, String]): DataFrame =
    params.toSeq.sortBy(_._1).foldLeft(df) { case (d, (k, v)) => d.withColumn(k, lit(v)) }

  /** Discover parameter files by the reference's directory convention
    * (parameters.py:18-57): `<filebase>.{json,yml,txt}` and bare
    * `<filebase>` in the deck's directory, one and two levels up, in that
    * priority order.
    */
  def findParameterFiles(deckPath: String, filebase: String = "parameters"): Seq[String] = {
    val base = java.nio.file.Paths.get(deckPath).toAbsolutePath.getParent
    for {
      up <- Seq(".", "..", "../..")
      name <- Seq(s"$filebase.json", s"$filebase.yml", s"$filebase.txt", filebase)
      p = base.resolve(up).resolve(name).normalize()
      if java.nio.file.Files.isRegularFile(p)
    } yield p.toString
  }

  /** Default zonemap discovery (reference wellcompletiondata/zonemap
    * convention, test_zonemap_with_no_input): `zones.lyr` in the deck's
    * directory, if present.
    */
  def findZonemapFile(deckPath: String): Option[String] = {
    val p = java.nio.file.Paths.get(deckPath).toAbsolutePath.getParent.resolve("zones.lyr")
    if (java.nio.file.Files.isRegularFile(p)) Some(p.toString) else None
  }

  /** parameters.txt → key-value map (parameters.py:60-100): one
    * whitespace-separated pair per line, `#` comments ignored; lines with
    * no value or extra tokens are skipped (the reference drops them with a
    * warning).
    */
  def parseParametersTxt(text: String): Map[String, String] =
    text.linesIterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\s+"))
      .collect { case Array(k, v) => k -> v }
      .toMap

  /** Any parameters file → key-value map, with the reference's format
    * cascade (parameters.py:117-183): YAML first, then JSON, then the txt
    * pair format; a non-object parse (YAML happily reads txt as one
    * scalar) falls through, and dict-valued entries (grouped keys) are
    * dropped exactly like the reference's final filter. Driver-side by
    * design — parameter files are tiny per-realisation metadata.
    */
  def parseParametersFile(path: String): Map[String, String] = {
    val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
    parseParameters(text)
  }

  def parseParameters(text: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    if (text.trim.isEmpty) return Map.empty
    def structured(mapper: com.fasterxml.jackson.databind.ObjectMapper): Option[Map[String, String]] =
      try {
        val node = mapper.readTree(text)
        if (node == null || !node.isObject) None
        else Some(node.fields().asScala
          .filter(e => !e.getValue.isObject) // grouped keys dropped
          .map(e => e.getKey ->
            (if (e.getValue.isTextual) e.getValue.asText else e.getValue.toString))
          .toMap)
      } catch { case _: Exception => None }
    structured(new com.fasterxml.jackson.databind.ObjectMapper(
        new com.fasterxml.jackson.dataformat.yaml.YAMLFactory()))
      .orElse(structured(new com.fasterxml.jackson.databind.ObjectMapper()))
      .getOrElse(parseParametersTxt(text))
  }

  /** Pillar statistics (A1, pillars.py:38-141): PILLAR = "I-J", volumes
    * summed, coordinates/permeabilities averaged.
    */
  def pillarStats(grid: DataFrame): DataFrame = Pillars.df(grid)

  /** Contact depth per pillar (A2, pillars.py:260-309): deepest cell Z
    * satisfying the saturation cutoff (max-Z-after-filter), left-semi
    * joined back to eligible pillars.
    */
  def contactDepth(grid: DataFrame, satCol: String, cutoff: Double,
      contactName: String): DataFrame =
    grid.withColumn("PILLAR", concat_ws("-", col("I"), col("J")))
      .filter(col(satCol) > cutoff)
      .groupBy(col("PILLAR"))
      .agg(max(col("Z")).as(contactName))

  /** Neighbour-transmissibility pair table (trans.py:21-221): every cell
    * with a positive TRANX/TRANY/TRANZ becomes one row pairing it with
    * its +I/+J/+K neighbour (`I1 J1 K1 I2 J2 K2 DIR TRAN`). Options
    * mirror the reference: direction filters, INIT-vector attachment to
    * BOTH cells (suffix 1/2), NNC concatenation (DIR="NNC"), averaged
    * midpoint + absolute distance coords, boundary filter (vector values
    * differ across the pair) and per-interface grouping (canonical
    * "min-max" pair key; X/Y/Z/D* averaged, TRAN summed; the split-back
    * region columns are strings, exactly like the reference's).
    *
    * Scale shape: the pair construction is a narrow projection + union
    * (no shuffle); vector attachment is two equi-joins on cell coordinates
    * — co-partitioned if the grid is bucketed by (I,J,K), and the joined
    * relation is the same table both times so the exchange is reused.
    */
  def trans(grid: DataFrame, vectors: Seq[String] = Nil,
      boundaryFilter: Boolean = false, group: Boolean = false,
      coords: Boolean = false, onlyKDir: Boolean = false,
      onlyIJDir: Boolean = false, nnc: Option[DataFrame] = None): DataFrame = {
    val doBoundary = boundaryFilter || group // grouping implies boundaryfilter
    val present = vectors.filter(grid.columns.contains)
    require(!(doBoundary && present.length != 1),
      "boundary filtering/grouping needs exactly one INIT vector")
    val dirs = Seq(
      ("TRANX", 1, 0, 0, "I", !onlyKDir),
      ("TRANY", 0, 1, 0, "J", !onlyKDir),
      ("TRANZ", 0, 0, 1, "K", !onlyIJDir))
      .filter(_._6).filter(d => grid.columns.contains(d._1))
    val pairRows = dirs.map { case (tc, di, dj, dk, dir, _) =>
      grid.filter(col(tc) > 0).select(
        col("I").as("I1"), col("J").as("J1"), col("K").as("K1"),
        (col("I") + di).as("I2"), (col("J") + dj).as("J2"), (col("K") + dk).as("K2"),
        lit(dir).as("DIR"), col(tc).as("TRAN"))
    }
    val base = pairRows.reduceOption(_.unionByName(_))
      .getOrElse(grid.sparkSession.emptyDataFrame)
    val withNnc = nnc.map { n =>
      base.unionByName(n.select(col("I1"), col("J1"), col("K1"),
        col("I2"), col("J2"), col("K2"), lit("NNC").as("DIR"), col("TRAN")))
    }.getOrElse(base)
    val attachCols =
      (present ++ (if (coords) Seq("X", "Y", "Z").filterNot(present.contains) else Nil))
        .filter(grid.columns.contains)
    val attached = if (attachCols.isEmpty) withNnc else {
      def side(s: String) = grid.select(
        (Seq("I", "J", "K").map(c => col(c).as(s"$c$s")) ++
          attachCols.map(c => col(c).as(s"$c$s"))): _*)
      withNnc.join(side("1"), Seq("I1", "J1", "K1"))
        .join(side("2"), Seq("I2", "J2", "K2"))
    }
    val withCoords = if (!coords) attached else attached
      .withColumn("X", (col("X1") + col("X2")) / 2)
      .withColumn("Y", (col("Y1") + col("Y2")) / 2)
      .withColumn("Z", (col("Z1") + col("Z2")) / 2)
      .withColumn("DX", abs(col("X1") - col("X2")))
      .withColumn("DY", abs(col("Y1") - col("Y2")))
      .withColumn("DZ", abs(col("Z1") - col("Z2")))
      .drop("X1", "X2", "Y1", "Y2", "Z1", "Z2")
    val filtered =
      if (!doBoundary) withCoords
      else withCoords.filter(col(s"${present.head}1") =!= col(s"${present.head}2"))
    if (!group) filtered
    else {
      val (v1, v2) = (s"${present.head}1", s"${present.head}2")
      val pairName = s"${present.head}PAIR"
      val means = Seq("X", "Y", "Z", "DX", "DY", "DZ").filter(filtered.columns.contains)
      // not Ops.pairKey: the reference formats region numbers as INTEGERS
      // in the pair name ("3-4", trans.py:198-200), so the cast is part of
      // the contract — a float region would otherwise render "3.0-4.0"
      val g = filtered
        .withColumn(pairName, concat_ws("-",
          least(col(v1), col(v2)).cast("long"), greatest(col(v1), col(v2)).cast("long")))
        .groupBy(col(pairName))
        .agg(sum(col("TRAN")).as("TRAN"), means.map(c => avg(col(c)).as(c)): _*)
      g.withColumn(v1, split(col(pairName), "-").getItem(0))
        .withColumn(v2, split(col(pairName), "-").getItem(1))
    }
  }

  /** Region-interface transmissibility rollup (A3 + P8, trans.py:179-219):
    * keep rows crossing a region boundary, canonical unordered pair key,
    * sum TRAN over each interface.
    */
  def transRegionInterface(trans: DataFrame, vec: String): DataFrame =
    trans.filter(col(s"${vec}1") =!= col(s"${vec}2"))
      .withColumn("PAIR", Ops.pairKey(col(s"${vec}1"), col(s"${vec}2")))
      .groupBy(col("PAIR"))
      .agg(sum(col("TRAN")).as("TRAN"),
        least(min(col(s"${vec}1")), min(col(s"${vec}2"))).as(s"${vec}1"),
        greatest(max(col(s"${vec}1")), max(col(s"${vec}2"))).as(s"${vec}2"))

  /** Vertical-NNC filter (P7, nnc.py:150-169). */
  def filterVerticalNnc(nnc: DataFrame): DataFrame =
    nnc.filter(col("I1") === col("I2") && col("J1") === col("J2"))

  /** Attach cell-pair coordinates: NNC/trans pairs joined twice to the
    * geometry, suffixed (J7, nnc.py:125-147) — geometry is per-case
    * dimension-sized → broadcast both probes.
    */
  def nncWithCoordinates(nnc: DataFrame, geometry: DataFrame): DataFrame = {
    def probe(suffix: String) = broadcast(geometry.select(
      col("I").as(s"I$suffix"), col("J").as(s"J$suffix"), col("K").as(s"K$suffix"),
      col("X").as(s"X$suffix"), col("Y").as(s"Y$suffix"), col("Z").as(s"Z$suffix")))
    nnc.join(probe("1"), Seq("I1", "J1", "K1"), "left")
      .join(probe("2"), Seq("I2", "J2", "K2"), "left")
      .withColumn("X", (col("X1") + col("X2")) / 2)
      .withColumn("Y", (col("Y1") + col("Y2")) / 2)
      .withColumn("Z", (col("Z1") + col("Z2")) / 2)
      .drop("X1", "X2", "Y1", "Y2", "Z1", "Z2")
  }

  /** SVG 1.0 color keyword names (the public CSS/SVG specification list
    * the reference validates against, common.py:847-856).
    */
  private val SvgColorNames: Set[String] = Set(
    "aliceblue", "antiquewhite", "aqua", "aquamarine", "azure", "beige",
    "bisque", "black", "blanchedalmond", "blue", "blueviolet", "brown",
    "burlywood", "cadetblue", "chartreuse", "chocolate", "coral",
    "cornflowerblue", "cornsilk", "crimson", "cyan", "darkblue", "darkcyan",
    "darkgoldenrod", "darkgray", "darkgreen", "darkgrey", "darkkhaki",
    "darkmagenta", "darkolivegreen", "darkorange", "darkorchid", "darkred",
    "darksalmon", "darkseagreen", "darkslateblue", "darkslategray",
    "darkslategrey", "darkturquoise", "darkviolet", "deeppink", "deepskyblue",
    "dimgray", "dimgrey", "dodgerblue", "firebrick", "floralwhite",
    "forestgreen", "fuchsia", "gainsboro", "ghostwhite", "gold", "goldenrod",
    "gray", "green", "greenyellow", "grey", "honeydew", "hotpink",
    "indianred", "indigo", "ivory", "khaki", "lavender", "lavenderblush",
    "lawngreen", "lemonchiffon", "lightblue", "lightcoral", "lightcyan",
    "lightgoldenrodyellow", "lightgray", "lightgreen", "lightgrey",
    "lightpink", "lightsalmon", "lightseagreen", "lightskyblue",
    "lightslategray", "lightslategrey", "lightsteelblue", "lightyellow",
    "lime", "limegreen", "linen", "magenta", "maroon", "mediumaquamarine",
    "mediumblue", "mediumorchid", "mediumpurple", "mediumseagreen",
    "mediumslateblue", "mediumspringgreen", "mediumturquoise",
    "mediumvioletred", "midnightblue", "mintcream", "mistyrose", "moccasin",
    "navajowhite", "navy", "oldlace", "olive", "olivedrab", "orange",
    "orangered", "orchid", "palegoldenrod", "palegreen", "paleturquoise",
    "palevioletred", "papayawhip", "peachpuff", "peru", "pink", "plum",
    "powderblue", "purple", "red", "rosybrown", "royalblue", "saddlebrown",
    "salmon", "sandybrown", "seagreen", "seashell", "sienna", "silver",
    "skyblue", "slateblue", "slategray", "slategrey", "snow", "springgreen",
    "steelblue", "tan", "teal", "thistle", "tomato", "turquoise", "violet",
    "wheat", "white", "whitesmoke", "yellow", "yellowgreen")

  /** Valid lyr color token: 3/6-digit hex or an SVG keyword name
    * (is_color, common.py:847-856).
    */
  def isColor(s: String): Boolean =
    SvgColorNames.contains(s.toLowerCase) ||
      s.matches("^#([A-Fa-f0-9]{6}|[A-Fa-f0-9]{3})$")

  /** One parsed lyr record: K range as from/to or a single-layer span,
    * optional validated color (parse_lyrfile's dict shape,
    * common.py:859-952).
    */
  final case class LyrZone(name: String, fromLayer: Option[Int],
      toLayer: Option[Int], span: Option[Int], color: Option[String])

  /** Structured lyr parse with the reference's exact record shape and
    * failure mode: `None` when any line fails (inverted ranges, bad
    * numbers), like parse_lyrfile's error return; color tokens are
    * recognized only when valid per [[isColor]].
    */
  def parseLyrRecords(text: String): Option[Seq[LyrZone]] = {
    val lines = text.linesIterator
      .map(_.split("--")(0).trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .toSeq
    val out = Seq.newBuilder[LyrZone]
    lines.foreach { line =>
      val toks0 = graft.io.DeckParser.tokenizeLine(line)
      if (toks0.isEmpty) return None
      val (toks, color) =
        if (toks0.length > 1 && isColor(toks0.last)) (toks0.dropRight(1), Some(toks0.last))
        else (toks0, None)
      val numbers = toks.tail.mkString(" ").split("-").map(_.trim)
      try numbers.length match {
        case 2 =>
          val (from, to) = (numbers(0).toInt, numbers(1).toInt)
          if (from > to) return None // from_layer higher than to_layer
          out += LyrZone(toks.head, Some(from), Some(to), None, color)
        case 1 => out += LyrZone(toks.head, None, None, Some(numbers(0).toInt), color)
        case _ => return None
      } catch { case _: NumberFormatException => return None }
    }
    Some(out.result())
  }

  /** Parse an lyr zonemap text (S10, common.py:859-952): lines of
    * `'ZoneName' startK [- endK]` (color tokens ignored), → K→zone map.
    * Driver-side by design: lyr files are hand-written and tiny.
    */
  def parseLyr(text: String): Map[Int, String] = {
    val out = Map.newBuilder[Int, String]
    text.linesIterator.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("--")).foreach { line =>
      val toks = graft.io.DeckParser.tokenizeLine(line).filterNot(_.startsWith("#"))
      if (toks.nonEmpty) {
        val name = toks.head
        val nums = toks.tail.filter(_.forall(c => c.isDigit || c == '-'))
          .flatMap(_.split("-").filter(_.nonEmpty)).map(_.toInt)
        if (nums.nonEmpty) {
          val (k1, k2) = (nums.min, nums.max)
          (k1 to k2).foreach(k => out += k -> name)
        }
      }
    }
    out.result()
  }
}
