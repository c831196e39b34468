package graft.io

import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Binary Eclipse artifact readers: EGRID / INIT / UNRST / RFT files →
  * the typed DataFrames the grid/rft modules consume (the reference opens
  * the same files through the resdata C library — `grid.py:149-284`,
  * `rft.py:63-135`; the decoded frames here carry the same column
  * vocabulary so [[graft.modules.GridOps]] / [[graft.modules.Rft]] run
  * unchanged on real simulator output).
  *
  * Scale shape: one artifact is ONE file, so the byte decode is
  * driver-side (exactly like the reference) — but it is a SELECTIVE
  * STREAMING decode ([[EclKw.stream]]): only the keywords a frame needs
  * are materialized (primitive arrays, one at a time; UNRST one report
  * step at a time), everything else is seeked past. Everything per-cell —
  * corner-point geometry, volume, vector column assembly — runs
  * DISTRIBUTED via per-task array slices + `spark.range` over the cell
  * space, so a 10⁸-cell grid fans out instead of looping on the driver.
  * For a 100 TB corpus of many realisations, each realisation's decode is
  * an independent task upstream of these frames (convert-to-parquet once,
  * then all queries are columnar scans — SURVEY §4.3).
  */
object EclBinary {

  // ---- EGRID geometry ------------------------------------------------------

  /** One K-slab's payload for the geometry kernel: the slab's ZCORN /
    * ACTNUM slices ride IN the task's partition (each byte ships to
    * exactly one task — broadcasting the whole arrays would ship
    * ncells-sized payloads to every executor, gigabytes on a 10⁸-cell
    * grid). Only COORD (pillar tops/bottoms, (nx+1)·(ny+1)·6 floats —
    * megabytes at any realistic areal size) is broadcast, since every
    * slab interpolates against it. `aprefix` is the running active count
    * before each cell of the slab, so `ACTIVE_IDX` needs no sequential
    * pass on the executors.
    */
  private final case class GridSlab(k: Int, nx: Int, ny: Int,
      zcorn: Array[Float], actnum: Array[Int], aprefix: Array[Int])

  private[io] val GeomSchema = StructType(Seq(
    StructField("I", IntegerType, nullable = false),
    StructField("J", IntegerType, nullable = false),
    StructField("K", IntegerType, nullable = false),
    StructField("X", DoubleType, nullable = false),
    StructField("Y", DoubleType, nullable = false),
    StructField("Z", DoubleType, nullable = false),
    StructField("Z_MIN", DoubleType, nullable = false),
    StructField("Z_MAX", DoubleType, nullable = false),
    StructField("VOLUME", DoubleType, nullable = false),
    StructField("GLOBAL_INDEX", LongType, nullable = false),
    StructField("ACTIVE_IDX", LongType, nullable = false)))

  /** Read an EGRID file into the active-cell geometry frame
    * (`I J K X Y Z Z_MIN Z_MAX VOLUME GLOBAL_INDEX ACTIVE_IDX`, one row
    * per active cell, ordered by active index — the frame
    * `gridgeometry2df` builds at grid.py:287-360). Cell centers are the
    * mean of the 8 corner-point corners (COORD pillar interpolation at
    * each ZCORN depth); VOLUME is the 24-tetrahedron decomposition around
    * the face and cell centroids — exact for planar faces, robust for the
    * non-planar ones corner-point grids produce. MAPAXES is NOT applied by
    * default, matching resdata's default cell-position export (COORD is
    * already in map coordinates for simulator-written EGRIDs; the
    * transform only matters for viz-local grids) — pass
    * `applyMapaxes = true` to rebase X/Y into the MAPAXES frame
    * (origin + normalized axis units, resdata's mapaxes_transform; the
    * transform is rigid so Z, depths and VOLUME are unchanged). Only the
    * geometry keywords are decoded — NNC/LGR payloads are seeked past.
    */
  def egrid(spark: SparkSession, path: String,
      applyMapaxes: Boolean = false): DataFrame = {
    val g = readEgridCase(path, applyMapaxes)
    val bcCoord = spark.sparkContext.broadcast(g.coord)
    val mapx = g.mapx
    val slabs = (0 until g.nz).map(g.slab)
    val rows = spark.sparkContext
      .parallelize(slabs, math.min(g.nz, spark.sparkContext.defaultParallelism))
      .flatMap(sl => cellRows(sl, bcCoord.value, mapx))
    spark.createDataFrame(rows, GeomSchema)
  }

  /** One EGRID's parsed state, decodable on the driver (the single-case
    * [[egrid]] plan) or inside one executor task (the `eclipse-egrid`
    * fleet scan — plain java.io over shared storage).
    */
  private final case class EgridCase(nx: Int, ny: Int, nz: Int,
      coord: Array[Float], zcorn: Array[Float], actnum: Array[Int],
      aprefix: Array[Int],
      mapx: Option[(Double, Double, Double, Double, Double, Double)]) {
    def slab(k: Int): GridSlab = {
      val perSlab = nx * ny
      GridSlab(k, nx, ny,
        java.util.Arrays.copyOfRange(zcorn, k * 8 * perSlab, (k + 1) * 8 * perSlab),
        java.util.Arrays.copyOfRange(actnum, k * perSlab, (k + 1) * perSlab),
        java.util.Arrays.copyOfRange(aprefix, k * perSlab, (k + 1) * perSlab))
    }
  }

  private def readEgridCase(path: String, applyMapaxes: Boolean,
      needGeom: Boolean = true): EgridCase = {
    // a property-only read (DSv2 projection without X/Y/Z/VOLUME) never
    // decodes COORD/ZCORN at all — ZCORN is 8 floats per cell, the
    // dominant EGRID payload; activity and index math only need
    // GRIDHEAD + ACTNUM
    val wanted: Set[String] =
      if (needGeom) Set("GRIDHEAD", "COORD", "ZCORN", "ACTNUM", "MAPAXES")
      else Set("GRIDHEAD", "ACTNUM")
    val kws = EclKw.stream(path, (name, _, _) => wanted(name))(_.toVector)
    def kw(name: String) = kws.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"$path: no $name keyword"))
    // MAPAXES = (Yend_x, Yend_y, origin_x, origin_y, Xend_x, Xend_y):
    // global = origin + x·unit(Xend−origin) + y·unit(Yend−origin)
    val mapx: Option[(Double, Double, Double, Double, Double, Double)] =
      if (!applyMapaxes) None
      else kws.find(_.name == "MAPAXES").map { m =>
        val a = m.floats
        require(a.length >= 6, s"$path: MAPAXES carries ${a.length} values")
        val (ox, oy) = (a(2).toDouble, a(3).toDouble)
        def unit(px: Double, py: Double) = {
          val (dx, dy) = (px - ox, py - oy)
          val n = math.hypot(dx, dy)
          require(n > 0, s"$path: degenerate MAPAXES axis")
          (dx / n, dy / n)
        }
        val (uxx, uxy) = unit(a(4).toDouble, a(5).toDouble)
        val (uyx, uyy) = unit(a(0).toDouble, a(1).toDouble)
        (ox, oy, uxx, uxy, uyx, uyy)
      }
    val gh = kw("GRIDHEAD").ints
    val (nx, ny, nz) = (gh(1), gh(2), gh(3))
    val ncells = nx.toLong * ny * nz
    require(ncells > 0 && ncells < Int.MaxValue, s"bad grid dims $nx*$ny*$nz")
    val actnum = kws.find(_.name == "ACTNUM").map(_.ints)
      .getOrElse(Array.fill(ncells.toInt)(1))
    val aprefix = actnum.scanLeft(0)((acc, a) => acc + (if (a != 0) 1 else 0))
    if (needGeom)
      EgridCase(nx, ny, nz, kw("COORD").floats, kw("ZCORN").floats,
        actnum, aprefix, mapx)
    else // geometry payloads were seeked past; slab() must not be called
      EgridCase(nx, ny, nz, Array.empty, Array.empty, actnum, aprefix, mapx)
  }

  /** The per-slab geometry kernel shared by [[egrid]]'s slab tasks and
    * [[gridCaseRows]]: corner-point pillar interpolation, 8-corner
    * center mean, 24-tetrahedron volume, active-ordinal rows.
    */
  private def cellRows(sl: GridSlab, coordA: Array[Float],
      mapx: Option[(Double, Double, Double, Double, Double, Double)]): Iterator[Row] =
    (0 until sl.nx * sl.ny).iterator.flatMap { li =>
      if (sl.actnum(li) == 0) None
      else {
        val i = li % sl.nx
        val j = li / sl.nx
        val k = sl.k
        // 8 corners: pillar (i+cx, j+cy) interpolated at the ZCORN
        // depth; the slab's zcorn slice is 0-based at layer k
        val cx8 = new Array[Double](8); val cy8 = new Array[Double](8)
        val cz8 = new Array[Double](8)
        var c = 0
        while (c < 8) {
          val (dx, dy, dz) = (c & 1, (c >> 1) & 1, (c >> 2) & 1)
          val zi = ((dz * 2 * sl.ny + (j * 2 + dy)) * 2 * sl.nx) + (i * 2 + dx)
          val z = sl.zcorn(zi).toDouble
          val p = ((j + dy) * (sl.nx + 1) + (i + dx)) * 6
          val (x1, y1, z1) = (coordA(p).toDouble, coordA(p + 1).toDouble, coordA(p + 2).toDouble)
          val (x2, y2, z2) = (coordA(p + 3).toDouble, coordA(p + 4).toDouble, coordA(p + 5).toDouble)
          val t = if (z2 == z1) 0.0 else (z - z1) / (z2 - z1)
          cx8(c) = x1 + t * (x2 - x1); cy8(c) = y1 + t * (y2 - y1); cz8(c) = z
          c += 1
        }
        val xl = cx8.sum / 8; val yl = cy8.sum / 8; val z = cz8.sum / 8
        // center-level MAPAXES rebase: the transform is linear, so it
        // commutes with the 8-corner mean (and leaves VOLUME rigid)
        val (x, y) = mapx match {
          case Some((ox, oy, uxx, uxy, uyx, uyy)) =>
            (ox + xl * uxx + yl * uyx, oy + xl * uxy + yl * uyy)
          case None => (xl, yl)
        }
        val g = k.toLong * sl.nx * sl.ny + li
        Some(Row(i + 1, j + 1, k + 1, x, y, z, cz8.min, cz8.max,
          hexVolume(cx8, cy8, cz8), g, sl.aprefix(li).toLong))
      }
    }

  /** One EGRID+INIT case decoded to `(CASE, geom…, vec…)` rows — the
    * per-case kernel of the `eclipse-egrid` DataSourceV2 partition
    * readers, the one fleet read of EGRID+INIT (one task per case,
    * EGRID + INIT parsed executor-side over shared storage). Takes the
    * EGRID file path AS LISTED (never re-derives the extension, so a
    * lowercase `.egrid` opens on a case-sensitive filesystem); CASE = the path minus its 6-char extension; the INIT
    * sibling is resolved preferring the canonical uppercase name, then
    * lowercase. `vecNames` are uppercase EXACT INIT names; empty skips
    * the INIT open entirely (the DSv2 column-pruning path).
    */
  private[graft] def gridCaseRows(egridPath: String, vecNames: Seq[String],
      applyMapaxes: Boolean, needGeom: Boolean = true): Iterator[Row] = {
    val base = egridPath.dropRight(".EGRID".length)
    val g = readEgridCase(egridPath, applyMapaxes, needGeom)
    val initVecs: Map[String, Array[Double]] =
      if (vecNames.isEmpty) Map.empty
      else {
        val (_, vecs) = readInitVectors(EclKw.sibling(base, ".INIT"), vecNames.toSet)
        vecs.map(k => k.name -> k.doubles).toMap
      }
    if (needGeom)
      (0 until g.nz).iterator.flatMap { k =>
        val sl = g.slab(k)
        DecodeStats.egridGeomCells.add(sl.actnum.count(_ != 0).toLong)
        cellRows(sl, g.coord, g.mapx).map { r =>
          val ai = r.getLong(10).toInt
          Row.fromSeq(base +: (r.toSeq ++
            vecNames.map(v =>
              initVecs.get(v).map(a => a(ai): java.lang.Double).orNull)))
        }
      }
    else {
      // property-only projection: no pillar interpolation, no volume,
      // no ZCORN/COORD decode — I/J/K and the active ordinal come from
      // GRIDHEAD + ACTNUM alone; the pruned geometry slots carry zeros
      // the extractors never read
      val perSlab = g.nx * g.ny
      (0 until g.nz * perSlab).iterator.flatMap { gi =>
        if (g.actnum(gi) == 0) None
        else {
          val li = gi % perSlab
          Some(Row.fromSeq(
            (base :: (li % g.nx + 1) :: (li / g.nx + 1) :: (gi / perSlab + 1) ::
              0.0 :: 0.0 :: 0.0 :: 0.0 :: 0.0 :: 0.0 ::
              gi.toLong :: g.aprefix(gi).toLong :: Nil) ++
              vecNames.map(v =>
                initVecs.get(v).map(a => a(g.aprefix(gi)): java.lang.Double).orNull)))
        }
      }
    }
  }

  /** Volume of the (possibly non-planar) hexahedron with corners indexed
    * `c = cx + 2·cy + 4·cz`: each face splits into 4 triangles around its
    * centroid, each triangle forms a tetrahedron with the cell centroid,
    * signed volumes summed. |Σ| is orientation-independent (Eclipse z
    * points down).
    */
  private def hexVolume(xs: Array[Double], ys: Array[Double], zs: Array[Double]): Double = {
    val ox = xs.sum / 8; val oy = ys.sum / 8; val oz = zs.sum / 8
    // faces as corner cycles (consistent winding per face)
    val faces = Array(
      Array(0, 1, 3, 2), Array(4, 6, 7, 5), // z-, z+
      Array(0, 2, 6, 4), Array(1, 5, 7, 3), // x-, x+
      Array(0, 4, 5, 1), Array(2, 3, 7, 6)) // y-, y+
    var vol = 0.0
    faces.foreach { f =>
      val fx = f.map(xs).sum / 4; val fy = f.map(ys).sum / 4; val fz = f.map(zs).sum / 4
      var e = 0
      while (e < 4) {
        val a = f(e); val b = f((e + 1) % 4)
        // tet (a, b, face centroid) with apex at the cell centroid
        val ax = xs(a) - ox; val ay = ys(a) - oy; val az = zs(a) - oz
        val bx = xs(b) - ox; val by = ys(b) - oy; val bz = zs(b) - oz
        val cx = fx - ox; val cy = fy - oy; val cz = fz - oz
        vol += ax * (by * cz - bz * cy) - ay * (bx * cz - bz * cx) + az * (bx * cy - by * cx)
        e += 1
      }
    }
    math.abs(vol) / 6.0
  }

  // ---- INIT / UNRST per-cell vectors ---------------------------------------

  /** Header/table keywords that can share the active-cell length by
    * coincidence but are never per-cell data.
    */
  private val NonCellKw = Set("INTEHEAD", "LOGIHEAD", "DOUBHEAD", "TABDIMS",
    "TAB", "CON", "REGDIMS", "FIPFAMNA", "SEQNUM", "STARTSOL", "ENDSOL")

  /** Vector selections are GLOBS, reference-style (grid.py fnmatch over
    * `--vectors`): `PORO` matches exactly, `P*` matches PORO/PERMX/…; a
    * bare name with no wildcard is the exact-match degenerate case.
    */
  private def vectorMatcher(vectors: Seq[String]): String => Boolean =
    if (vectors.isEmpty) _ => true
    else {
      val pats = vectors.map(v => graft.core.Ops.globToRegex(v).r.pattern)
      name => pats.exists(_.matcher(name).matches())
    }

  private def isCellVector(name: String, typ: String, wanted: String => Boolean): Boolean =
    (typ == "INTE" || typ == "REAL" || typ == "DOUB") && !NonCellKw(name) && wanted(name)

  private def nactiveOf(kws: Seq[EclKw.Kw], path: String): Int =
    kws.find(_.name == "INTEHEAD")
      .getOrElse(throw new IllegalArgumentException(s"$path: no INTEHEAD"))
      .ints(11) // INTEHEAD[11] = NACTIVE (8,9,10 are NX,NY,NZ)

  private def intestampDate(intehead: Array[Int]): java.sql.Date =
    java.sql.Date.valueOf(LocalDate.of(intehead(66), intehead(65), intehead(64)))

  /** Assemble `(ACTIVE_IDX, vec1, vec2, …)` rows distributed over the
    * active-cell range from a set of decoded per-cell vectors. Each task
    * receives ONLY its contiguous slice of every vector (the slices ride
    * in the partition payloads — broadcasting the full vectors would
    * ship nactive × nvec values to every executor, gigabytes on a
    * 10⁸-cell grid with a full INIT). REAL vectors stay `Array[Float]`
    * in the payloads (half the bytes) and widen to double per row.
    */
  private def cellFrame(spark: SparkSession, nactive: Int,
      vecs: Seq[EclKw.Kw], extra: Seq[(StructField, Any)] = Nil): DataFrame = {
    val fields = StructField("ACTIVE_IDX", LongType, nullable = false) +:
      (extra.map(_._1) ++ vecs.map(v => StructField(v.name,
        if (v.typ == "INTE") IntegerType else DoubleType, nullable = false)))
    val extraVals = extra.map(_._2)
    val data: Seq[Array[_]] = vecs.map(_.data)
    def slice(a: Array[_], lo: Int, hi: Int): Array[_] = a match {
      case x: Array[Int] => java.util.Arrays.copyOfRange(x, lo, hi)
      case x: Array[Float] => java.util.Arrays.copyOfRange(x, lo, hi)
      case x: Array[Double] => java.util.Arrays.copyOfRange(x, lo, hi)
      case other => throw new IllegalArgumentException(s"non-numeric cell vector: $other")
    }
    val nSlices = math.max(1, math.min(spark.sparkContext.defaultParallelism, nactive))
    val bounds = (0 to nSlices).map(s => (s.toLong * nactive / nSlices).toInt)
    val payloads = (0 until nSlices).map { s =>
      val (lo, hi) = (bounds(s), bounds(s + 1))
      (lo.toLong, hi - lo, data.map(slice(_, lo, hi)))
    }
    val rows = spark.sparkContext.parallelize(payloads, nSlices)
      .flatMap { case (lo, n, slices) =>
        (0 until n).iterator.map { off =>
          val cols = slices.map {
            case ints: Array[Int] => ints(off): Any
            case fs: Array[Float] => fs(off).toDouble: Any
            case ds: Array[Double] => ds(off): Any
          }
          Row.fromSeq(((lo + off) +: extraVals) ++ cols)
        }
      }
    spark.createDataFrame(rows, StructType(fields))
  }

  /** Read an INIT file into `(ACTIVE_IDX, PORV, PERMX, …)` — every
    * numeric vector of active-cell length (S4; `init2df` grid.py:412-474
    * takes the same "INIT-vectors of size nactive" rule from resdata).
    * Table/header payloads (TAB, TABDIMS, …) and unselected vectors are
    * seeked past without decoding — a 2-vector read of a 50-vector INIT
    * materializes 2 vectors plus INTEHEAD.
    */
  def init(spark: SparkSession, path: String, vectors: Seq[String] = Nil): DataFrame = {
    val (nactive, vecs) = readInitVectors(path, vectorMatcher(vectors))
    cellFrame(spark, nactive, vecs)
  }

  /** Plain-IO core of the INIT selection protocol, shared by [[init]]
    * (the driver-side single-case plan), [[gridCaseRows]] and
    * [[initFleet]] (one executor task per case): INTEHEAD[11] fixes
    * nactive, cell vectors passing `wanted` at active length are kept —
    * ONE definition, so the fleet paths can never silently diverge from
    * the single-case path the q117 gate claims they equal.
    */
  private def readInitVectors(path: String,
      wanted: String => Boolean): (Int, Vector[EclKw.Kw]) = {
    var nactive = -1
    val picked = Vector.newBuilder[EclKw.Kw]
    EclKw.stream(path, (name, typ, n) =>
      name == "INTEHEAD" ||
        (isCellVector(name, typ, wanted) && (nactive < 0 || n == nactive))) { it =>
      it.foreach { kw =>
        if (kw.name == "INTEHEAD") { if (nactive < 0) nactive = kw.ints(11) }
        else picked += kw
      }
    }
    if (nactive < 0) throw new IllegalArgumentException(s"$path: no INTEHEAD")
    (nactive, picked.result().filter(_.data.length == nactive))
  }

  /** Ensemble INIT read (S4 at fleet scale): every .INIT case matching
    * the glob decoded in ONE distributed plan, one task per case,
    * through the SAME selection protocol as [[init]] (shared
    * [[readInitVectors]] — the single-case and fleet paths cannot
    * diverge). `vectors` are EXACT vector names (the fleet schema is
    * fixed before any file opens); values publish as DOUBLE (the
    * `eclipse-unrst` convention — INTE region vectors cast back
    * losslessly).
    *
    * The one RDD fleet reader left: EGRID+INIT, UNRST, RFT and UNSMRY
    * fleets read through their `eclipse-*` DataSourceV2 scans, but
    * there is no `eclipse-init` format, and an INIT-only case (no EGRID
    * beside it — q151's fixtures) has no other fleet route.
    */
  def initFleet(spark: SparkSession, pattern: String,
      vectors: Seq[String]): DataFrame = {
    import graft.io.datasource.DeckScan
    require(vectors.nonEmpty,
      "initFleet needs explicit vector names - the fleet schema is fixed up front")
    val paths = DeckScan.splitPaths(pattern)
      .flatMap(p => DeckScan.expand(p, ext = ".INIT"))
      .filter(_.toUpperCase.endsWith(".INIT"))
      .distinct.sorted
    require(paths.nonEmpty, s"no .INIT files match $pattern")
    val vecNames = vectors.map(_.toUpperCase)
    val wantSet = vecNames.toSet
    val schema = StructType(
      StructField("CASE", StringType, nullable = false) ::
        StructField("ACTIVE_IDX", LongType, nullable = false) ::
        vecNames.map(v => StructField(v, DoubleType, nullable = true)).toList)
    val par = math.max(1, math.min(paths.length, spark.sparkContext.defaultParallelism))
    val rows = spark.sparkContext.parallelize(paths, par).flatMap { path =>
      val (nactive, vecs) = readInitVectors(path, wantSet)
      val m = vecs.map(k => k.name -> k.doubles).toMap
      val arrs = vecNames.map(m.get)
      (0 until nactive).iterator.map { a =>
        Row.fromSeq(path :: a.toLong ::
          arrs.map(_.map(x => x(a): java.lang.Double).orNull).toList)
      }
    }
    spark.createDataFrame(rows, schema)
  }

  /** One UNRST case streamed to `(CASE, DATE, ACTIVE_IDX, vec…)` rows —
    * the per-case kernel of the `eclipse-unrst` DataSourceV2 partition
    * readers (one task per case, executor-side). Streams SEQNUM
    * groups exactly like the single-case reader: unselected payloads
    * are seeked past, selected ones buffer only until their step
    * flushes to rows.
    *
    * `datePred` is the DSv2 pushed-down DATE filter: each step's
    * INTEHEAD clock is judged BEFORE its cell-vector headers (the
    * lazy-advance stream contract, as in [[unrst]]'s `dates` path), so
    * the payloads of unselected report steps are seeked past, never
    * decoded — on a 200-step ensemble member a `DATE = last` query
    * decodes 1/200th of the bytes. Until a step's INTEHEAD has been
    * seen the predicate decodes PESSIMISTICALLY (skip only after an
    * exact verdict): a pathological writer emitting vectors before the
    * clock costs decode, never correctness — the flush-level re-check
    * then drops non-matching steps whole.
    */
  private[graft] def restartCaseRows(path: String, vecNames: Seq[String],
      datePred: DatePred = DatePred.All): Iterator[Row] = {
    val wantSet = vecNames.toSet
    val steps = Vector.newBuilder[(java.sql.Date, Int, Map[String, Array[Double]])]
    var cur: List[EclKw.Kw] = Nil
    var started = false
    var stepOk = true
    def flush(): Unit = if (started && stepOk) {
      val g = cur.reverse
      // a SEQNUM group without INTEHEAD (truncated/mid-write file) fails
      // HERE with the path named — nactiveOf throws before the .get below
      // can, same contract as the unfiltered read
      val nactive = nactiveOf(g, path)
      val date = intestampDate(g.find(_.name == "INTEHEAD").get.ints)
      if (datePred.keep(date)) {
        val vecs = g.filter(k => isCellVector(k.name, k.typ, wantSet) &&
          k.data.length == nactive)
        steps += ((date, nactive, vecs.map(k => k.name -> k.doubles).toMap))
      }
    }
    EclKw.stream(path, (name, typ, _) =>
      name == "SEQNUM" || name == "INTEHEAD" ||
        (stepOk && isCellVector(name, typ, wantSet))) { it =>
      it.foreach { kw =>
        if (kw.name == "SEQNUM") {
          flush(); cur = Nil; started = true
          stepOk = true // unknown until this step's INTEHEAD: decode, don't skip
        } else if (started) {
          if (kw.name == "INTEHEAD")
            stepOk = datePred.trivial || datePred.keep(intestampDate(kw.ints))
          else if (isCellVector(kw.name, kw.typ, wantSet))
            DecodeStats.unrstVecPayloads.increment()
          cur ::= kw
        }
      }
    }
    flush()
    steps.result().iterator.flatMap { case (date, nactive, m) =>
      val arrs = vecNames.map(m.get)
      (0 until nactive).iterator.map { a =>
        Row.fromSeq(path :: date :: a.toLong ::
          arrs.map(_.map(x => x(a): java.lang.Double).orNull).toList)
      }
    }
  }

  /** Read a UNRST file into the DATE-stacked restart frame
    * `(DATE, ACTIVE_IDX, PRESSURE, SWAT, …)` (S5; `rst2df`
    * grid.py:190-284 — the reference's `@datestr` wide form is never
    * materialized, dates stack from the start, R4). One row per
    * (report step, active cell); vectors missing at a step are null.
    * The DECODE streams one SEQNUM group at a time (unselected payloads
    * are seeked past, nothing is double-buffered); the returned plan
    * still references every step's selected vectors as per-task slice
    * payloads until the job executes — inherent to handing back one
    * union frame, so the driver must hold the SELECTED vectors (use the
    * `vectors` filter on wide files), just never the whole file.
    */
  def unrst(spark: SparkSession, path: String, vectors: Seq[String] = Nil,
      dates: Seq[java.sql.Date] = Nil): DataFrame = {
    val wantedVec = vectorMatcher(vectors)
    val wantedDate = dates.toSet
    val frames = Vector.newBuilder[DataFrame]
    var cur: List[EclKw.Kw] = Nil
    var started = false
    // set when the current step's INTEHEAD is processed; the lazy-advance
    // stream contract guarantees the select predicate observes it before
    // judging the step's cell-vector headers, so payloads of unselected
    // report steps are SEEKED PAST, never decoded. Until the INTEHEAD
    // is seen the predicate decodes PESSIMISTICALLY (a writer emitting
    // vectors before the clock costs decode, never dropped values);
    // the flush-level re-check drops non-matching steps whole.
    var stepOk = true
    def flush(): Unit = if (started && stepOk) {
      val g = cur.reverse
      val nactive = nactiveOf(g, path)
      val date = intestampDate(g.find(_.name == "INTEHEAD").get.ints)
      if (wantedDate.isEmpty || wantedDate(date)) {
        val cellVecs = g.filter(k => isCellVector(k.name, k.typ, wantedVec) &&
          k.data.length == nactive)
        frames += cellFrame(spark, nactive, cellVecs,
          extra = Seq(StructField("DATE", DateType, nullable = false) -> date))
      }
    }
    EclKw.stream(path, (name, typ, _) =>
      name == "SEQNUM" || name == "INTEHEAD" ||
        (stepOk && isCellVector(name, typ, wantedVec))) { it =>
      it.foreach { kw =>
        if (kw.name == "SEQNUM") {
          flush(); cur = Nil; started = true
          stepOk = true // unknown until this step's INTEHEAD
        } else if (started) {
          if (kw.name == "INTEHEAD")
            stepOk = wantedDate.isEmpty || wantedDate(intestampDate(kw.ints))
          cur ::= kw
        }
      }
    }
    flush()
    val fs = frames.result()
    require(fs.nonEmpty,
      s"$path: no ${if (wantedDate.isEmpty) "SEQNUM records" else "matching report steps"}")
    fs.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
  }

  /** The available report-step dates of a UNRST file, in file order —
    * one cheap pass decoding ONLY INTEHEADs (every payload seeked past);
    * the reference's get_available_rst_dates (grid.py:40-52).
    */
  def unrstDates(path: String): Seq[java.sql.Date] =
    EclKw.stream(path, (name, _, _) => name == "INTEHEAD")(
      _.map(kw => intestampDate(kw.ints)).toVector)

  // ---- NNC -----------------------------------------------------------------

  /** Non-neighbour connections from the EGRID's NNC1/NNC2 keyword pair
    * (1-based global cell indices), with `TRAN` attached from the INIT's
    * TRANNNC vector when available (nnc.py:34-122 reads the same three
    * keywords through resdata). Returns `I1 J1 K1 I2 J2 K2 TRAN`, one
    * row per connection; empty frame when the grid has no NNCs. The
    * index→(I,J,K) arithmetic runs DISTRIBUTED over per-task slices of
    * the pair arrays (faulted full-field grids carry millions of NNCs —
    * no driver row loop).
    */
  def nnc(spark: SparkSession, egridPath: String, initPath: Option[String] = None): DataFrame = {
    val wanted = Set("GRIDHEAD", "NNC1", "NNC2")
    val kws = EclKw.stream(egridPath, (name, _, _) => wanted(name))(_.toVector)
    val gh = kws.find(_.name == "GRIDHEAD")
      .getOrElse(throw new IllegalArgumentException(s"$egridPath: no GRIDHEAD")).ints
    val (nx, ny) = (gh(1), gh(2))
    val schema = StructType(Seq("I1", "J1", "K1", "I2", "J2", "K2")
      .map(StructField(_, IntegerType, nullable = false)) :+
      StructField("TRAN", DoubleType, nullable = true))
    val (nnc1, nnc2) = (kws.find(_.name == "NNC1").map(_.ints),
      kws.find(_.name == "NNC2").map(_.ints))
    val n = (nnc1, nnc2) match {
      case (Some(a), Some(b)) => math.min(a.length, b.length)
      case _ => 0
    }
    if (n == 0)
      return spark.createDataFrame(new java.util.ArrayList[Row](), schema)
    val (a1, a2) = (nnc1.get, nnc2.get)
    // TRANNNC padded to n with NaN-as-null for short/absent vectors (a
    // literal NaN transmissibility also maps to null — the same wash
    // GridOps applies to every INIT vector)
    val tran: Array[Double] = initPath
      .flatMap(p => EclKw.stream(p, (name, _, _) => name == "TRANNNC") { it =>
        if (it.hasNext) Some(it.next().doubles) else None
      })
      .map { t =>
        if (t.length >= n) t
        else {
          val p = new Array[Double](n)
          java.util.Arrays.fill(p, Double.NaN)
          System.arraycopy(t, 0, p, 0, t.length); p
        }
      }.orNull
    val nSlices = math.max(1, math.min(spark.sparkContext.defaultParallelism, n))
    val bounds = (0 to nSlices).map(s => (s.toLong * n / nSlices).toInt)
    val payloads = (0 until nSlices).map { s =>
      val (lo, hi) = (bounds(s), bounds(s + 1))
      (java.util.Arrays.copyOfRange(a1, lo, hi),
        java.util.Arrays.copyOfRange(a2, lo, hi),
        if (tran == null) null else java.util.Arrays.copyOfRange(tran, lo, hi))
    }
    val rows = spark.sparkContext.parallelize(payloads, nSlices)
      .flatMap { case (s1, s2, ts) =>
        s1.indices.iterator.map { off =>
          val z1 = s1(off) - 1; val z2 = s2(off) - 1 // 1-based global indices
          val t: Any =
            if (ts == null) null
            else { val v = ts(off); if (java.lang.Double.isNaN(v)) null else v }
          Row(z1 % nx + 1, z1 / nx % ny + 1, z1 / (nx * ny) + 1,
            z2 % nx + 1, z2 / nx % ny + 1, z2 / (nx * ny) + 1, t)
        }
      }
    spark.createDataFrame(rows, schema)
  }

  // ---- RFT -----------------------------------------------------------------

  /** One .RFT case streamed to `(CASE, DATE, WELL, CONIDX, vec…)` rows —
    * the per-case kernel of the `eclipse-rft` DataSourceV2 partition
    * readers (one task per case, executor-side). Only the SELECTED
    * vectors are kept per TIME group; the rest seek past.
    *
    * `datePred` / `wells` are the DSv2 pushed-down filters: an RFT
    * report group leads with its small TIME/DATE/WELLETC clock keywords
    * before the per-connection data vectors, so once either disqualifies
    * the group the remaining data payloads are seeked past at the byte
    * level (the lazy-advance stream contract — the select predicate
    * observes the flags the foreach sets on the PREVIOUS keyword).
    * Until a clock keyword has been seen its flag decodes
    * PESSIMISTICALLY (skip only after an exact verdict), so a
    * pathological writer emitting data vectors before the clock costs
    * decode, never correctness — the flush-level re-check then drops
    * disqualified groups whole.
    */
  private[graft] def rftCaseRows(path: String, vecNames: Seq[String],
      datePred: DatePred = DatePred.All,
      wells: Option[Set[String]] = None): Iterator[Row] = {
    val clock = Set("TIME", "DATE", "WELLETC", "CONIPOS")
    def dateOf(k: EclKw.Kw): java.sql.Date =
      java.sql.Date.valueOf(LocalDate.of(k.ints(2), k.ints(1), k.ints(0)))
    val groups = Vector.newBuilder[(java.sql.Date, String, Int, Map[String, Array[Double]])]
    var cur: List[EclKw.Kw] = Nil
    var started = false
    var dateOk = true
    var wellOk = true
    def flush(): Unit = if (started && dateOk && wellOk) {
      val g = cur.reverse
      g.find(_.name == "CONIPOS").foreach { conipos =>
        val ncon = conipos.data.length
        // throw exactly like the library rft() reader does: the DSv2
        // scan claims DATE ASC per partition, and Spark's ASC default is
        // NULLS FIRST — a dateless group AFTER dated ones would make the
        // claim silently false for any plan that trusted it (q191's
        // shape). Real RFT files always carry DATE; a malformed one must
        // fail loudly, never sort wrong.
        val date = g.find(_.name == "DATE").map(dateOf).getOrElse(
          throw new IllegalArgumentException(s"$path: TIME group without DATE"))
        val well = g.find(_.name == "WELLETC").map(_.strings(1)).getOrElse("")
        if (datePred.keep(date) && wells.forall(_.contains(well))) {
          val vecs = g.filter(k => vecNames.contains(k.name) &&
            k.isNumeric && k.data.length == ncon)
          groups += ((date, well, ncon, vecs.map(k => k.name -> k.doubles).toMap))
        }
      }
    }
    EclKw.stream(path, (name, _, _) =>
      name == "TIME" || clock(name) ||
        (dateOk && wellOk && vecNames.contains(name))) { it =>
      it.foreach { kw =>
        if (kw.name == "TIME") {
          flush(); cur = List(kw); started = true
          // unknown until this group's DATE/WELLETC: decode, don't skip
          dateOk = true
          wellOk = true
        } else if (started) {
          if (kw.name == "DATE")
            dateOk = datePred.trivial || datePred.keep(dateOf(kw))
          else if (kw.name == "WELLETC")
            wellOk = wells.forall(_.contains(kw.strings(1)))
          else if (vecNames.contains(kw.name))
            DecodeStats.rftVecPayloads.increment()
          cur ::= kw
        }
      }
      flush()
    }
    groups.result().iterator.flatMap { case (date, well, ncon, m) =>
      val arrs = vecNames.map(m.get)
      (0 until ncon).iterator.map { i =>
        Row.fromSeq(path :: date :: well :: (i + 1) ::
          arrs.map(_.map(x => x(i): java.lang.Double).orNull).toList)
      }
    }
  }

  /** Read an RFT file's per-connection report rows: one row per (report,
    * connection) with `DATE`, `WELL`, the CON* topology vectors and every
    * data vector of connection length (DEPTH, PRESSURE, SWAT, SGAS, …) —
    * S7, `rft.py:63-135` (the reference walks the same TIME-delimited
    * record groups via resdata). Groups STREAM one at a time
    * ([[EclKw.streamGroups]]) — a many-thousand-report RFT never
    * materializes whole; only the retained connection vectors live on.
    */
  def rft(spark: SparkSession, path: String): DataFrame = {
    val perGroup = EclKw.streamGroups(path, "TIME") { g =>
      g.find(_.name == "CONIPOS").map { conipos =>
        val ncon = conipos.data.length
        val date = g.find(_.name == "DATE").map(d =>
          java.sql.Date.valueOf(LocalDate.of(d.ints(2), d.ints(1), d.ints(0))))
          .getOrElse(throw new IllegalArgumentException(s"$path: TIME group without DATE"))
        val well = g.find(_.name == "WELLETC").map(_.strings(1)).getOrElse("")
        val vecs = g.filter(k => k.isNumeric && k.data.length == ncon &&
          !k.name.startsWith("SEG") && !k.name.startsWith("BRN") &&
          !Set("TIME", "DATE", "WELLPLT")(k.name))
        (date, well, vecs)
      }
    }
    rftGroupsToDf(spark, perGroup, ordinal = "CONIDX")
  }

  /** The segment-level companion frame: one row per (report, segment)
    * with the SEG* vectors, `SEGIDX` ordinal (1-based, the segment number
    * resdata assigns) — input to [[graft.modules.Rft.processSegTopology]].
    */
  def rftSeg(spark: SparkSession, path: String): DataFrame = {
    val perGroup = EclKw.streamGroups(path, "TIME") { g =>
      g.find(_.name == "SEGDEPTH").map { segdepth =>
        val nseg = segdepth.data.length
        val date = g.find(_.name == "DATE").map(d =>
          java.sql.Date.valueOf(LocalDate.of(d.ints(2), d.ints(1), d.ints(0)))).orNull
        val well = g.find(_.name == "WELLETC").map(_.strings(1)).getOrElse("")
        val vecs = g.filter(k => k.isNumeric && k.data.length == nseg &&
          k.name.startsWith("SEG"))
        (date, well, vecs)
      }
    }
    rftGroupsToDf(spark, perGroup, ordinal = "SEGIDX")
  }

  private def rftGroupsToDf(spark: SparkSession,
      groups: Seq[(java.sql.Date, String, Seq[EclKw.Kw])], ordinal: String): DataFrame = {
    if (groups.isEmpty)
      return spark.createDataFrame(new java.util.ArrayList[Row](), StructType(Seq(
        StructField("DATE", DateType), StructField("WELL", StringType),
        StructField(ordinal, IntegerType))))
    val allVecs = groups.flatMap(_._3.map(v => v.name -> v.typ)).distinct.sortBy(_._1)
    val schema = StructType(
      StructField("DATE", DateType, nullable = true) +:
      StructField("WELL", StringType, nullable = false) +:
      StructField(ordinal, IntegerType, nullable = false) +:
      allVecs.map { case (n, t) =>
        StructField(n, if (t == "INTE") IntegerType else DoubleType, nullable = true)
      })
    val rows = new java.util.ArrayList[Row]()
    groups.foreach { case (date, well, vecs) =>
      // widen once per group, not per row (Kw.doubles allocates)
      val byName: Map[String, Array[_]] = vecs.map(v =>
        v.name -> (if (v.typ == "INTE") v.ints: Array[_] else v.doubles: Array[_])).toMap
      val n = vecs.headOption.map(_.data.length).getOrElse(0)
      (0 until n).foreach { idx =>
        val vals = allVecs.map { case (name, _) =>
          byName.get(name) match {
            case Some(a: Array[Int]) => a(idx): Any
            case Some(a: Array[Double]) => a(idx): Any
            case _ => null
          }
        }
        rows.add(Row.fromSeq(Seq(date, well, idx + 1) ++ vals))
      }
    }
    spark.createDataFrame(rows, schema)
  }
}
