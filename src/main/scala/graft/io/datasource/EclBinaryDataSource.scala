package graft.io.datasource

import java.util
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.io.EclBinary

/** DataSourceV2 formats over the Eclipse BINARY artifact kernels — the
  * full fleet surface made SQL-reachable (SURVEY §4.3's "later
  * milestone", closing the loop the `eclipse-deck` source opened for
  * text decks):
  *
  *   spark.read.format("eclipse-egrid").option("vectors", "PORO,PERMX")
  *     .load("realizations/&#42;/CASE.EGRID")
  *   spark.read.format("eclipse-unrst").option("vectors", "PRESSURE")
  *     .load("realizations/&#42;/CASE.UNRST")
  *   spark.read.format("eclipse-unsmry").load("realizations/&#42;/CASE.UNSMRY")
  *   spark.read.format("eclipse-rft").option("vectors", "DEPTH,PRESSURE")
  *     .load("realizations/&#42;/CASE.RFT")
  *
  * These scans are the ONE fleet reader of each format: every fleet
  * query reads through them, and each decodes a case with its per-case
  * kernel ([[EclBinary.gridCaseRows]] / [[EclBinary.restartCaseRows]] /
  * [[EclBinary.rftCaseRows]] /
  * [[graft.write.SummaryWriter.summaryCaseTuples]]); the single-case
  * library readers ([[EclBinary.egrid]], [[EclBinary.unrst]],
  * [[EclBinary.rft]], [[graft.write.SummaryWriter.read]]) stay as their
  * independent referees. Partitioning is ONE INPUT PARTITION PER CASE:
  * a realization is the natural parallel unit of an ensemble (the
  * 100–1000-realization history-match layout), and each task's state is
  * one case's selected arrays.
  *
  * Column pruning (SupportsPushDownRequiredColumns) reaches the BYTE
  * level where the file layout allows it: a pruned INIT/UNRST/RFT
  * vector is seeked past by the [[graft.io.EclKw.stream]] predicate,
  * never decoded — and if no INIT vector column survives pruning, the
  * egrid scan never opens the INIT file at all. (UNSMRY PARAMS records
  * interleave all vectors per step, so its long form prunes columns
  * after decode — the record is the decode unit there.) `vectors` is a
  * comma list of EXACT uppercase vector names (the unioned fleet schema
  * must be fixed before any file opens); vectors missing in a case
  * surface as nulls. `mapaxes` (egrid, default false) rebases X/Y into
  * the MAPAXES frame, as [[EclBinary.egrid]]'s `applyMapaxes` does.
  *
  * FILTER OPTIONS (`filter.dates`, `filter.wells` [rft],
  * `filter.vectors` [unsmry], `filter.cases`) seed the same byte-level
  * predicates a pushed-down WHERE produces — the documented route for
  * STREAMING reads, where Spark's filter pushdown never reaches the
  * scan (a stream's WHERE is row-evaluated after a full decode; the
  * optimizer rule rewrites batch relations only). `filter.dates` takes
  * a comma list of `YYYY-MM-DD` values and/or `lo..hi` ranges (either
  * end open), all conjoined; the set options take comma lists
  * (well/vector names are uppercased like the `vectors` option;
  * `filter.cases` values must be the EMITTED CASE values — the file
  * path minus its extension for egrid/unsmry, the path as listed for
  * unrst/rft — and stay verbatim). A present-but-degenerate value and
  * a wrong-format option both THROW, never silently no-op. On a batch
  * read they conjoin (intersect) with whatever Spark pushes.
  */
class EclGridDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "eclipse-egrid"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    EclBinaryDataSource.schemaFor("egrid", EclBinaryDataSource.vectorsOf(options))
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    EclBinaryDataSource.table("egrid", properties)
}

class EclRestartDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "eclipse-unrst"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    EclBinaryDataSource.schemaFor("unrst", EclBinaryDataSource.vectorsOf(options))
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    EclBinaryDataSource.table("unrst", properties)
}

class EclSummaryDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "eclipse-unsmry"
  // writes hand the DataFrame's own schema through getTable (reads
  // still infer): `df.write.format("eclipse-unsmry").save(dir)` must
  // validate against (CASE, DATE, VECTOR, VALUE) without a STEP column
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    EclBinaryDataSource.schemaFor("unsmry", Nil)
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val full = EclBinaryDataSource.schemaFor("unsmry", Nil)
    val external = Option(schema).filter(s =>
      s.nonEmpty && s.fieldNames.toSet != full.fieldNames.toSet)
    external.foreach { s =>
      require(s.fieldNames.forall(full.fieldNames.contains),
        s"eclipse-unsmry columns are ${full.fieldNames.mkString(", ")}; " +
          s"got ${s.fieldNames.mkString(", ")}")
    }
    EclBinaryDataSource.table("unsmry", properties, external)
  }
}

class EclRftDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "eclipse-rft"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    EclBinaryDataSource.schemaFor("rft", EclBinaryDataSource.vectorsOf(options))
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    EclBinaryDataSource.table("rft", properties)
}

object EclBinaryDataSource {
  private[datasource] def vectorsOf(options: CaseInsensitiveStringMap): Seq[String] =
    Option(options.get("vectors")).toSeq
      .flatMap(_.split(",")).map(_.trim.toUpperCase).filter(_.nonEmpty)

  private[datasource] def table(kind: String,
      properties: util.Map[String, String],
      externalSchema: Option[StructType] = None): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val path = properties.asScala.getOrElse("path",
      properties.asScala.getOrElse("paths", ""))
    // unsmry's five-column long schema has no vector columns: a stray
    // vectors option must not leak into the reader's index math
    val vectors = if (kind == "unsmry") Nil else vectorsOf(opts)
    new EclBinaryTable(kind, path, vectors,
      opts.getBoolean("mapaxes", false), externalSchema)
  }

  private[datasource] def extOf(kind: String): String = kind match {
    case "egrid" => ".EGRID"
    case "unrst" => ".UNRST"
    case "unsmry" => ".UNSMRY"
    case "rft" => ".RFT"
  }

  def schemaFor(kind: String, vectors: Seq[String]): StructType = kind match {
    case "egrid" => StructType(
      StructField("CASE", StringType, nullable = false) +:
        (EclBinary.GeomSchema.fields.toSeq ++
          vectors.map(v => StructField(v, DoubleType, nullable = true))))
    case "unrst" => StructType(
      StructField("CASE", StringType, nullable = false) ::
        StructField("DATE", DateType, nullable = false) ::
        StructField("ACTIVE_IDX", LongType, nullable = false) ::
        vectors.map(v => StructField(v, DoubleType, nullable = true)).toList)
    case "unsmry" => StructType(Seq(
      StructField("CASE", StringType, nullable = false),
      StructField("DATE", DateType, nullable = false),
      StructField("VECTOR", StringType, nullable = false),
      StructField("VALUE", DoubleType, nullable = false),
      StructField("STEP", IntegerType, nullable = false)))
    case "rft" => StructType(
      StructField("CASE", StringType, nullable = false) ::
        StructField("DATE", DateType, nullable = true) ::
        StructField("WELL", StringType, nullable = false) ::
        StructField("CONIDX", IntegerType, nullable = false) ::
        vectors.map(v => StructField(v, DoubleType, nullable = true)).toList)
  }

  /** Fixed (non-vector) leading columns of each kind's kernel row —
    * derived from the declared schema so the reader's index math can
    * never drift from what the scan advertises. */
  private[datasource] def fixedFields(kind: String): Seq[String] =
    schemaFor(kind, Nil).fieldNames.toSeq

  /** Expand the load path(s) to sorted case files of the given extension
    * (same multi-path / glob / directory rules as the deck source; the
    * extension threads into directory listings so a bare ensemble
    * directory load finds its members). */
  private[datasource] def cases(path: String, ext: String): Seq[String] = {
    // strict per-path resolution: a typo'd explicit file in a BATCH
    // load fails with that path named, not a silent drop
    val files = DeckScan.splitPaths(path)
      .flatMap(p => DeckScan.expand(p, ext = ext))
      .filter(_.toUpperCase.endsWith(ext))
      .distinct.sorted
    require(files.nonEmpty, s"no $ext files match $path")
    files
  }

  /** What the kernel will emit as this file's CASE value: egrid/unsmry
    * kernels strip the extension (the INIT/SMSPEC sibling is derived
    * from the base), unrst/rft carry the path as listed. The ONE copy
    * shared by batch partition pruning and the streaming source's
    * listing — file-level pruning must match the EMITTED value or it
    * would silently drop matching rows. */
  private[datasource] def caseIdOf(kind: String, f: String): String = kind match {
    case "egrid" => f.dropRight(".EGRID".length)
    case "unsmry" => f.dropRight(".UNSMRY".length)
    case _ => f
  }

  /** As [[cases]], but an empty match is fine — the STREAMING source
    * polls a directory that may not have received its first case yet. */
  private[datasource] def casesLenient(path: String, ext: String): Seq[String] =
    DeckScan.splitPaths(path)
      .flatMap(p => DeckScan.expand(p, lenient = true, ext = ext))
      .filter(_.toUpperCase.endsWith(ext))
      .distinct.sorted

  /** Parse the `filter.dates` option into a [[graft.io.DatePred]]: a
    * comma list of `YYYY-MM-DD` values (an IN set) and/or `lo..hi`
    * ranges (either end open: `..2022-03-01`, `2022-01-01..`), all
    * CONJOINED — the same semantics a pushed-down WHERE produces.
    * Spark's filter pushdown does not reach STREAMING scans (the
    * optimizer rule only rewrites batch relations; a stream's WHERE is
    * evaluated row-wise after a full decode), so these options are the
    * documented byte-level route for readStream — and they compose
    * with batch pushdown by intersection.
    */
  private[datasource] def datePredOf(options: CaseInsensitiveStringMap): graft.io.DatePred = {
    import java.time.LocalDate
    Option(options.get("filter.dates")).map(_.trim).filter(_.nonEmpty) match {
      case None => graft.io.DatePred.All
      case Some(s) =>
        var p = graft.io.DatePred.All
        val ins = Set.newBuilder[Long]
        var haveIn = false
        val toks = s.split(",").map(_.trim).filter(_.nonEmpty)
        require(toks.nonEmpty,
          s"filter.dates: '$s' contains no date or range (a degenerate " +
            "value must fail loudly, never silently no-op)")
        toks.foreach { tok =>
          val i = tok.indexOf("..")
          if (i >= 0) {
            val lo = tok.substring(0, i).trim
            val hi = tok.substring(i + 2).trim
            require(lo.nonEmpty || hi.nonEmpty,
              s"filter.dates: empty range '$tok'")
            // an inverted range matches NOTHING — the same silent no-op
            // the empty/malformed guards exist to prevent (ADVICE r12)
            require(lo.isEmpty || hi.isEmpty ||
              LocalDate.parse(lo).toEpochDay <= LocalDate.parse(hi).toEpochDay,
              s"filter.dates: inverted range '$tok' (lo > hi) would " +
                "silently match nothing")
            if (lo.nonEmpty) p = p.withMin(LocalDate.parse(lo).toEpochDay)
            if (hi.nonEmpty) p = p.withMax(LocalDate.parse(hi).toEpochDay)
          } else {
            ins += LocalDate.parse(tok).toEpochDay
            haveIn = true
          }
        }
        if (haveIn) p.withIn(ins.result()) else p
    }
  }

  /** External-type date value (java.sql.Date, or LocalDate under the
    * Java-8 datetime API flag) to epoch day — ONE copy shared by the
    * static pushdown (ScanBuilder) and the runtime-filter route, so the
    * two paths can never disagree on what day a value means. */
  private[datasource] def epochDayOf(v: Any): Option[Long] = v match {
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case _ => None
  }

  /** A comma-list string option as a non-empty Set, or None when the
    * option is absent/blank. A PRESENT option that parses to nothing
    * (e.g. ",") throws — it would otherwise both silently no-op and
    * bypass the per-format guards. `upper` matches the `vectors`
    * option's normalization (vector/well names are uppercase in the
    * files); case ids are PATHS and must stay verbatim. */
  private[datasource] def setOptOf(options: CaseInsensitiveStringMap,
      key: String, upper: Boolean): Option[Set[String]] =
    Option(options.get(key)).map(_.trim).filter(_.nonEmpty).map { s =>
      val vals = s.split(",").map(_.trim).filter(_.nonEmpty)
        .map(v => if (upper) v.toUpperCase else v).toSet
      require(vals.nonEmpty,
        s"$key: '$s' contains no values (a degenerate value must fail " +
          "loudly, never silently no-op)")
      vals
    }
}

class EclBinaryTable(kind: String, path: String, vectors: Seq[String],
    mapaxes: Boolean, externalSchema: Option[StructType] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"eclipse-$kind:$path"
  override def schema(): StructType =
    externalSchema.getOrElse(EclBinaryDataSource.schemaFor(kind, vectors))
  override def capabilities(): util.Set[TableCapability] =
    if (kind == "unsmry")
      util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
        TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ)
    else
      util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val p = Option(options.get("path")).filter(_.nonEmpty).getOrElse(path)
    val maxCases = Option(options.get("maxCasesPerTrigger")).map { v =>
      val n = try v.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"maxCasesPerTrigger must be a positive integer, got '$v'")
      }
      require(n > 0, s"maxCasesPerTrigger must be positive, got $n " +
        "(0 would admit no files forever)")
      n
    }
    // option-seeded predicates: the byte-level filter route for
    // STREAMING reads (Spark never pushes a stream's WHERE into the
    // scan) — identical machinery, conjoined with any batch pushdown
    val optDates = EclBinaryDataSource.datePredOf(options)
    require(optDates.trivial || kind != "egrid",
      "filter.dates: eclipse-egrid has no DATE column")
    val optWells = EclBinaryDataSource.setOptOf(options, "filter.wells", upper = true)
    require(optWells.isEmpty || kind == "rft",
      "filter.wells applies to eclipse-rft only")
    val optVecSel = EclBinaryDataSource.setOptOf(options, "filter.vectors", upper = true)
    require(optVecSel.isEmpty || kind == "unsmry",
      "filter.vectors applies to eclipse-unsmry only (use the 'vectors' " +
        "option to prune vector COLUMNS on egrid/unrst/rft)")
    // filter.cases values must be the EMITTED CASE values — the file
    // path minus its extension for egrid/unsmry, the path as listed for
    // unrst/rft (caseIdOf) — not basenames; kept verbatim (paths)
    val optCases = EclBinaryDataSource.setOptOf(options, "filter.cases", upper = false)
    new EclBinaryScanBuilder(kind, p, vectors, mapaxes, schema(), maxCases,
      optDates, optWells, optVecSel, optCases)
  }
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(kind == "unsmry",
      s"eclipse-$kind is read-only; only eclipse-unsmry supports BATCH_WRITE")
    val p = Option(info.options.get("path")).filter(_.nonEmpty).getOrElse(path)
    new SummaryWriteBuilder(p, info)
  }
}

/** Scan builder with column pruning AND filter pushdown. Pushdown is
  * the `--rstdates` discipline made SQL-reachable (reference semantics:
  * grid.py:54-123 `dates2rstindices` — decide which report steps to
  * decode from a cheap clock pre-scan, read only those): a
  * `WHERE DATE = …` over `eclipse-unrst`/`eclipse-unsmry`/`eclipse-rft`
  * (and `WHERE WELL = …` over rft, `WHERE VECTOR = …` over unsmry)
  * reaches the byte level, skipping whole report steps / report groups /
  * PARAMS records — and, for VECTOR, unselected SLOTS inside each
  * PARAMS record — instead of decoding everything and filtering rows.
  * At a 1000-case × 200-step ensemble, `DATE = last` decodes ~1/200th
  * of the bytes the unfiltered scan would; a one-vector read of a
  * 10⁴-vector SMSPEC decodes ~0.01% of the PARAMS payload.
  *
  * Accepted filters are still RETURNED to Spark for post-scan
  * re-evaluation (the standard inexact-pushdown contract): the source-
  * side skip is exact at the step level by construction, but one
  * codegen'd comparison per surviving row is a price worth paying to
  * make correctness independent of any kernel-ordering assumption.
  */
class EclBinaryScanBuilder(kind: String, path: String, vectors: Seq[String],
    mapaxes: Boolean, full: StructType, maxCases: Option[Int] = None,
    datePred0: graft.io.DatePred = graft.io.DatePred.All,
    wells0: Option[Set[String]] = None,
    vectorSel0: Option[Set[String]] = None,
    caseSet0: Option[Set[String]] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  import org.apache.spark.sql.sources._
  private var required: StructType = full
  private var accepted: Array[Filter] = Array.empty
  private var datePred: graft.io.DatePred = datePred0
  private var wells: Option[Set[String]] = wells0
  private var caseSet: Option[Set[String]] = caseSet0
  private var vectorSel: Option[Set[String]] = vectorSel0

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  private def intersectInto(cur: Option[Set[String]], s: Set[String]): Option[Set[String]] =
    Some(cur.fold(s)(_ intersect s))

  private def dayOf(v: Any): Option[Long] = EclBinaryDataSource.epochDayOf(v)

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val hasDate = kind != "egrid"
    val acc = Array.newBuilder[Filter]
    filters.foreach { f =>
      val took = f match {
        case EqualTo("DATE", v) if hasDate && dayOf(v).isDefined =>
          datePred = datePred.withEqual(dayOf(v).get); true
        case In("DATE", vs) if hasDate && vs.nonEmpty && vs.forall(dayOf(_).isDefined) =>
          datePred = datePred.withIn(vs.flatMap(dayOf).toSet); true
        case GreaterThan("DATE", v) if hasDate && dayOf(v).isDefined =>
          datePred = datePred.withMin(dayOf(v).get + 1); true
        case GreaterThanOrEqual("DATE", v) if hasDate && dayOf(v).isDefined =>
          datePred = datePred.withMin(dayOf(v).get); true
        case LessThan("DATE", v) if hasDate && dayOf(v).isDefined =>
          datePred = datePred.withMax(dayOf(v).get - 1); true
        case LessThanOrEqual("DATE", v) if hasDate && dayOf(v).isDefined =>
          datePred = datePred.withMax(dayOf(v).get); true
        case EqualTo("WELL", w: String) if kind == "rft" =>
          wells = intersectInto(wells, Set(w)); true
        case In("WELL", ws) if kind == "rft" && ws.nonEmpty &&
            ws.forall(_.isInstanceOf[String]) =>
          wells = intersectInto(wells, ws.map(_.asInstanceOf[String]).toSet); true
        // VECTOR filters reach INSIDE the PARAMS record: a record
        // interleaves all nvec vectors per ministep, but the kernel can
        // decode just the selected ordinals' 4-byte slots and seek past
        // the rest (EclKw.streamFloatSlots) — a one-vector read of a
        // 10⁴-vector SMSPEC touches ~0.01% of the PARAMS bytes
        case EqualTo("VECTOR", v: String) if kind == "unsmry" =>
          vectorSel = intersectInto(vectorSel, Set(v)); true
        case In("VECTOR", vs) if kind == "unsmry" && vs.nonEmpty &&
            vs.forall(_.isInstanceOf[String]) =>
          vectorSel = intersectInto(vectorSel, vs.map(_.asInstanceOf[String]).toSet); true
        // CASE filters prune INPUT PARTITIONS — whole files are never
        // opened (the file-level analog of partition pruning; a
        // 1000-case ensemble query for one realization opens one file)
        case EqualTo("CASE", c: String) =>
          caseSet = intersectInto(caseSet, Set(c)); true
        case In("CASE", cs) if cs.nonEmpty && cs.forall(_.isInstanceOf[String]) =>
          caseSet = intersectInto(caseSet, cs.map(_.asInstanceOf[String]).toSet); true
        case _ => false
      }
      if (took) acc += f
    }
    accepted = acc.result()
    filters // all re-evaluated post-scan (see scaladoc)
  }
  override def pushedFilters(): Array[Filter] = accepted

  override def build(): Scan =
    new EclBinaryScan(kind, path, vectors, mapaxes, required, datePred, wells,
      caseSet, maxCases, vectorSel, optionCases = caseSet0)
}

class EclBinaryScan(kind: String, path: String, vectors: Seq[String],
    mapaxes: Boolean, required: StructType, datePred: graft.io.DatePred,
    wells: Option[Set[String]], caseSet: Option[Set[String]],
    maxCases: Option[Int] = None, vectorSel: Option[Set[String]] = None,
    optionCases: Option[Set[String]] = None)
    extends Scan with Batch with SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  // runtime (DPP-style) restrictions, delivered by Spark AFTER a join's
  // build side materializes — set by filter(), consumed by
  // planInputPartitions (CASE: whole files pruned) and
  // createReaderFactory (DATE: report steps seeked past at the byte
  // level); both compose (intersect) with the static pushdown. Safe by
  // construction: a runtime filter comes FROM an equi-join's build-side
  // key set, so rows it would drop cannot join — ignoring it entirely
  // (or a future Spark reordering filter() after createReaderFactory)
  // degrades to a full decode, never to wrong rows.
  private var runtimeCases: Option[Set[String]] = None
  private var runtimeDates: Option[Set[Long]] = None
  private var runtimeWells: Option[Set[String]] = None

  private def caseIdOf(f: String): String =
    EclBinaryDataSource.caseIdOf(kind, f)

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = {
    val d = if (datePred.trivial) "" else s" datePred=$datePred"
    val w = wells.fold("")(s => s" wells=${s.toSeq.sorted.mkString(",")}")
    val c = caseSet.fold("")(s => s" cases=${s.size}")
    val v = vectorSel.fold("")(s => s" vectors=${s.toSeq.sorted.mkString(",")}")
    s"eclipse-$kind $path$d$w$c$v"
  }

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    // only columns SURVIVING projection may be claimed: Spark resolves
    // these against the scan's output and fails the query otherwise
    // (the outputOrdering discipline applied to the filter surface)
    val fields = required.fieldNames.toSet
    val cols = (Seq("CASE") ++ (if (kind == "egrid") Nil else Seq("DATE")) ++
        (if (kind == "rft") Seq("WELL") else Nil))
      .filter(fields)
    cols.map(org.apache.spark.sql.connector.expressions.Expressions.column).toArray
  }

  private def runtimeDay(v: Any): Option[Long] = EclBinaryDataSource.epochDayOf(v)

  override def filter(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    import org.apache.spark.sql.sources.{EqualTo, In}
    def tighten[T](cur: Option[Set[T]], s: Set[T]): Option[Set[T]] =
      Some(cur.fold(s)(_ intersect s))
    filters.foreach {
      case EqualTo("CASE", c: String) =>
        runtimeCases = tighten(runtimeCases, Set(c))
      case In("CASE", cs) if cs.forall(_.isInstanceOf[String]) =>
        runtimeCases = tighten(runtimeCases, cs.map(_.asInstanceOf[String]).toSet)
      // a DATE runtime filter cannot prune PARTITIONS (every case spans
      // all report steps) — it tightens the readers' byte-level step
      // predicate instead: the join-driven form of `--rstdates`
      case EqualTo("DATE", v) if runtimeDay(v).isDefined =>
        runtimeDates = tighten(runtimeDates, Set(runtimeDay(v).get))
      case In("DATE", vs) if vs.nonEmpty && vs.forall(runtimeDay(_).isDefined) =>
        runtimeDates = tighten(runtimeDates, vs.flatMap(runtimeDay).toSet)
      // a WELL runtime filter (rft): report groups of unselected wells
      // seek past at the byte level, same route as the DATE set
      case EqualTo("WELL", w: String) if kind == "rft" =>
        runtimeWells = tighten(runtimeWells, Set(w))
      case In("WELL", ws) if kind == "rft" && ws.nonEmpty &&
          ws.forall(_.isInstanceOf[String]) =>
        runtimeWells = tighten(runtimeWells, ws.map(_.asInstanceOf[String]).toSet)
      case _ => () // unsupported runtime filter: ignore (pruning is optional)
    }
    runtimeDates.foreach(factory.tightenDates)
    runtimeWells.foreach(factory.tightenWells)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // the partition carries the file path AS LISTED — the kernels never
    // re-append an extension, so lowercase artifact sets stay readable
    val files = EclBinaryDataSource.cases(path, EclBinaryDataSource.extOf(kind))
    // loud-failure posture for the OPTION route only: a filter.cases
    // value matching no listed case (e.g. a basename instead of the
    // path-minus-extension form) would otherwise silently yield zero
    // rows, unlike every other filter.* misuse. Pushed WHERE CASE = …
    // values are NOT checked — empty-on-no-match is correct SQL there.
    // Batch path only: a streaming filter.cases may legitimately name a
    // case whose file lands later.
    optionCases.foreach { oc =>
      val ids = files.map(caseIdOf).toSet
      val unmatched = oc.filterNot(ids.contains)
      require(unmatched.isEmpty,
        s"filter.cases: ${unmatched.toSeq.sorted.mkString(",")} matched no " +
          s"case under '$path' — values must be the EMITTED CASE ids (the " +
          "file path minus its extension for egrid/unsmry, the path as " +
          "listed for unrst/rft), never basenames")
    }
    files
      .filter { f =>
        val id = caseIdOf(f)
        caseSet.forall(_.contains(id)) && runtimeCases.forall(_.contains(id))
      }
      .map(f => EclCaseInputPartition(f, caseIdOf(f)): InputPartition)
      .toArray
  }

  /** Rows of one partition all carry that partition's CASE, so when the
    * projection keeps CASE the scan advertises
    * KeyGroupedPartitioning(identity(CASE)): Spark's storage-partitioned
    * planning (spark.sql.sources.v2.bucketing.enabled) then satisfies
    * ClusteredDistribution(CASE) straight off the scan — a per-case
    * fleet aggregate or CASE-keyed join over a 1000-realization
    * ensemble shuffles NOTHING. With CASE pruned away the grouping
    * claim would reference a non-output column, so it degrades to
    * UnknownPartitioning.
    */
  // computed once: outputPartitioning is a planner hook that would
  // otherwise re-list the whole ensemble directory per invocation just
  // to read .length (review finding); runtime-filter pruning after this
  // point is handled by Spark's KeyGrouped subset logic
  private lazy val plannedPartitionCount = planInputPartitions().length

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    val n = plannedPartitionCount
    if (required.fieldNames.contains("CASE"))
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(org.apache.spark.sql.connector.expressions.Expressions.identity("CASE")), n)
    else
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(n)
  }

  /** The kernels emit rows in FILE order, which is report-step order:
    * DATE is non-decreasing within every case partition (unsmry
    * ministeps, unrst SEQNUM groups, rft TIME groups are sequential),
    * and egrid cells stream in ascending GLOBAL_INDEX. CASE is constant
    * per partition, so prefixing it keeps the claim trivially true and
    * lets a window PARTITION BY CASE ORDER BY DATE (or an orderBy) ride
    * the scan with neither an exchange NOR a sort. Only columns
    * surviving projection are claimed.
    */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    val fields = required.fieldNames.toSet
    val orderedCol = if (kind == "egrid") "GLOBAL_INDEX" else "DATE"
    (Seq("CASE").filter(fields) ++ Seq(orderedCol).filter(fields))
      .map(c => Expressions.sort(Expressions.column(c), SortDirection.ASCENDING))
      .toArray
  }

  /** Driver-side statistics from a HEADER prescan
    * ([[graft.io.EclKw.headers]]) of ONE representative case, multiplied
    * by the planned case count — ensemble realizations share their
    * report shape, and a header walk reads 24-byte keyword headers +
    * seeks, never payloads, so a 1000-case fleet costs one small file
    * pass, not 1000. AQE and join planning then see REAL input sizes
    * from the binary formats instead of a default guess (the natural
    * companion to the custom decode metrics).
    *
    * `sizeInBytes` is EXACT: the planned (case-pruned) files' lengths.
    * `numRows` folds CASE pruning and the unsmry VECTOR slot selection,
    * but NOT DATE/WELL predicates — the estimate stays an upper bound,
    * which errs toward shuffling, never toward a mistaken broadcast.
    * Formats whose row count needs a declared vector (unrst/egrid)
    * report no numRows when none resolves, rather than guessing — and a
    * vector missing from a file still emits null-valued rows, so
    * absence (or a row-less just-created first file) means "unknown",
    * never zero. The estimate is the LARGER of two scalings of the
    * first case's header-walked row count — byte-proportional
    * (firstRows × totalBytes/firstBytes: robust to an aborted short
    * realization sorting first) and per-case (firstRows × nCases:
    * robust to per-file fixed overhead dominating a tiny first file) —
    * exact on uniform fleets, an ESTIMATE on mixed ones; it is not a
    * guaranteed bound, but it can never be zero, and pushed
    * DATE/WELL predicates never shrink it.
    *
    * Freshness: the LISTING and byte totals are recomputed on EVERY
    * request, deliberately — Spark asks for streaming-relation stats
    * per micro-batch (StreamingDataSourceV2ScanRelation.computeStats)
    * and new realizations land mid-stream; AQE re-requests stats after
    * runtime CASE pruning. Any whole-snapshot freeze re-creates the
    * understated-size broadcast hazard from some angle (empty-at-start,
    * a 0-byte first file, late-arriving cases, post-DPP pruning — each
    * was a measured review finding). The per-request cost — one listing
    * + one length() per case — is the same class the streaming source
    * itself pays per trigger poll; only the header WALK (the file I/O
    * that actually costs something) is memoized, in a single slot keyed
    * by (file, length), so the memo is O(1) for the life of the Scan
    * and a grown or different first file re-walks.
    */
  @volatile private var prescanMemo: (String, Long, Option[Long]) = null

  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val files = EclBinaryDataSource
      .casesLenient(path, EclBinaryDataSource.extOf(kind))
      .filter { f =>
        val id = caseIdOf(f)
        caseSet.forall(_.contains(id)) && runtimeCases.forall(_.contains(id))
      }
    // each file stat'ed ONCE: the first file's length must be the same
    // number inside the byte total and under the ratio, or a live
    // append between two reads skews the scaling
    val lens = files.map(f => f -> new java.io.File(f).length())
    val bytes = lens.map(_._2).sum
    val estRows: Option[Long] = lens.headOption.flatMap { case (first, fb) =>
      val memo = prescanMemo
      val rows =
        if (memo != null && memo._1 == first && memo._2 == fb) memo._3
        else {
          val r = prescanRows(first)
          prescanMemo = (first, fb, r) // benign race: same value class
          r
        }
      rows.flatMap { r =>
        if (r <= 0L || fb <= 0L) None // no evidence — unknown, never 0
        else Some(math.max(
          math.round(r.toDouble / fb.toDouble * bytes.toDouble),
          r * files.length))
      }
    }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        estRows.fold(java.util.OptionalLong.empty())(
          java.util.OptionalLong.of)
    }
  }

  /** Rows of ONE case from its 24-byte keyword headers (payloads seeked
    * past; [[graft.io.EclKw.headers]]); None = unknown, never a guess. */
  private def prescanRows(first: String): Option[Long] = {
    try kind match {
        case "unsmry" =>
          val base = first.dropRight(".UNSMRY".length)
          val (vecs, timeIdx, _) = graft.write.SummaryWriter.specCatalogAt(
            graft.io.EclKw.sibling(base, ".SMSPEC"))
          // rows/step = emitted vector ordinals (TIME never emits; a
          // pushed VECTOR selection narrows it — the slot-decode row set)
          val emitted = vecs.indices.count(i =>
            i != timeIdx && vectorSel.forall(_.contains(vecs(i))))
          val steps = graft.io.EclKw.headers(first).count(_._1 == "PARAMS")
          Some(steps.toLong * emitted)
        case "unrst" =>
          // one row per (step, active cell) REGARDLESS of which vectors
          // each step carries (missing ones are null): steps from the
          // SEQNUM markers, nactive from the largest declared-vector
          // payload seen anywhere in the file; no vector found => unknown
          val hs = graft.io.EclKw.headers(first)
          val steps = hs.count(_._1 == "SEQNUM")
          val vset = vectors.toSet
          val nactive = hs.collect { case (n, _, c) if vset(n) => c.toLong }
          if (nactive.isEmpty) None else Some(steps.toLong * nactive.max)
        case "rft" =>
          // one row per (report group, connection): CONIPOS length per group
          Some(graft.io.EclKw.headers(first)
            .collect { case ("CONIPOS", _, c) => c.toLong }.sum)
        case "egrid" =>
          // one row per active cell = any INIT property array's length;
          // none of the declared vectors present => unknown, NEVER zero
          // (the scan still emits every active cell with null properties)
          val base = first.dropRight(".EGRID".length)
          val vset = vectors.toSet
          graft.io.EclKw.headers(graft.io.EclKw.sibling(base, ".INIT"))
            .collectFirst { case (n, _, c) if vset(n) => c.toLong }
    } catch {
      // statistics are advisory: a malformed file must fail the SCAN
      // loudly, not the planner's estimate pass
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** The DecodeStats skip evidence, surfaced in the Spark UI: at
    * production scale the skip fractions (payloads decoded vs. a full
    * read, slots vs. whole PARAMS records, geometry cells computed)
    * show per-query in the SQL tab instead of only in the specs. Values
    * are per-task deltas of the thread-local counters, summed by Spark.
    */
  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new PayloadsDecodedMetric, new ParamSlotsDecodedMetric,
      new GeomCellsComputedMetric)

  // ONE factory instance per scan: BatchScanExec builds the factory at
  // PLANNING time (supportsColumnar probes it) — before runtime filters
  // resolve — but serializes it to tasks at JOB LAUNCH, after filter()
  // ran. A join-delivered DATE set therefore travels as mutable factory
  // state set by filter(), not as a constructor argument (which would
  // freeze the pre-filter predicate). If a future Spark ever serialized
  // the factory before filter(), the degradation is a full decode with
  // the same rows — never wrong results (see the runtime-filter note
  // above).
  private lazy val factory =
    new EclBinaryReaderFactory(kind, vectors, mapaxes, required, datePred,
      wells, vectorSel)

  override def createReaderFactory(): PartitionReaderFactory = {
    // re-apply BOTH runtime sets: a no-op today (filter() installs them
    // directly), load-bearing if a future Spark built the factory after
    // filter() — and then it must not be DATE-only (review finding)
    runtimeDates.foreach(factory.tightenDates)
    runtimeWells.foreach(factory.tightenWells)
    factory
  }

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new EclBinaryMicroBatchStream(kind, path, vectors, mapaxes, required,
      datePred, wells, caseSet, maxCases, vectorSel)
}

/** One ensemble case = one partition; carries its CASE value as the
  * partition key so [[EclBinaryScan.outputPartitioning]] can report
  * KeyGroupedPartitioning(CASE) — per-case aggregations and CASE-keyed
  * joins then run WITHOUT an exchange (storage-partitioned planning;
  * needs spark.sql.sources.v2.bucketing.enabled=true).
  */
case class EclCaseInputPartition(caseFile: String, caseId: String)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow =
    org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString(caseId))
}

/** Custom scan metrics (CustomSumMetric: driver sums the per-task
  * deltas). Names are the contract the UI shows and the metrics spec
  * asserts on. */
class PayloadsDecodedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "payloadsDecoded"
  override def description(): String =
    "binary payloads fully decoded (seeked-past ones never count)"
}
class ParamSlotsDecodedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "paramSlotsDecoded"
  override def description(): String =
    "UNSMRY PARAMS float slots partially decoded (VECTOR pushdown path)"
}
class GeomCellsComputedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "geomCellsComputed"
  override def description(): String =
    "egrid cells whose corner-point geometry was computed"
}

private[datasource] case class EclTaskMetric(metricName: String, v: Long)
    extends org.apache.spark.sql.connector.metric.CustomTaskMetric {
  override def name(): String = metricName
  override def value(): Long = v
}

class EclBinaryReaderFactory(kind: String, vectors: Seq[String],
    mapaxes: Boolean, required: StructType, datePred0: graft.io.DatePred,
    wells0: Option[Set[String]],
    vectorSel: Option[Set[String]] = None) extends PartitionReaderFactory {

  /** The effective step predicate: the statically-pushed one, tightened
    * by any runtime (DPP-delivered) DATE set [[tightenDates]] installed
    * before task serialization. @volatile for the driver-side
    * plan-probe/filter() ordering; the serialized snapshot each task
    * receives is immutable. */
  @volatile private var datePred: graft.io.DatePred = datePred0
  @volatile private var wells: Option[Set[String]] = wells0

  /** Conjoin a runtime DATE set (epoch days) into the step predicate —
    * called by [[EclBinaryScan.filter]] when a join's build side
    * delivers the dates the probe side can match at all. */
  private[datasource] def tightenDates(days: Set[Long]): Unit =
    datePred = datePred0.withIn(days)

  /** As [[tightenDates]], for an rft WELL runtime filter. */
  private[datasource] def tightenWells(ws: Set[String]): Unit =
    wells = Some(wells0.fold(ws)(_ intersect ws))

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val caseFile = partition.asInstanceOf[EclCaseInputPartition].caseFile
    // only the REQUIRED vector columns are decoded: the pruned ones are
    // seeked past at the byte level by the kernels' keyword predicate
    val requiredVecs = vectors.filter(required.fieldNames.contains)
    val fixed = EclBinaryDataSource.fixedFields(kind)
    val srcIdx: Map[String, Int] = fixed.zipWithIndex.toMap ++
      requiredVecs.zipWithIndex.map { case (v, i) => v -> (fixed.length + i) }
    val extractors: Array[Row => Any] = required.fields.map { f =>
      val i = srcIdx(f.name)
      f.dataType match {
        case StringType => (r: Row) => UTF8String.fromString(r.getString(i))
        case IntegerType => (r: Row) => r.getInt(i)
        case LongType => (r: Row) => r.getLong(i)
        case DateType => (r: Row) =>
          if (r.isNullAt(i)) null else DateTimeUtils.fromJavaDate(r.getDate(i))
        case DoubleType => (r: Row) =>
          if (r.isNullAt(i)) null else r.getDouble(i)
        case other => throw new IllegalArgumentException(s"unexpected type $other")
      }
    }
    // hoisted: per-row conversion must not re-copy the extractor array
    val exs = scala.collection.immutable.ArraySeq.unsafeWrapArray(extractors)
    // task-metric baselines: one partition reader is consumed by exactly
    // one task thread, so thread-total deltas attribute decode work to
    // THIS task even with 32 concurrent readers in the JVM. Snapshot
    // BEFORE the kernel iterator below is built — several kernels decode
    // eagerly at construction.
    import graft.io.DecodeStats
    val basePayloads = DecodeStats.unrstVecPayloads.threadTotal +
      DecodeStats.rftVecPayloads.threadTotal + DecodeStats.unsmryParams.threadTotal
    val baseSlots = DecodeStats.unsmryParamSlots.threadTotal
    val baseGeom = DecodeStats.egridGeomCells.threadTotal
    // the thread the deltas attribute to: all decode work for this
    // partition must happen on the thread that called createReader (the
    // kernels are lazy iterators consumed by next() below, so this holds
    // today) — a future eagerly-decoding or prefetching kernel would
    // silently mis-attribute UI metrics, so the invariant is CHECKED
    // where the metrics are read (ADVICE r12)
    val readerThread = Thread.currentThread()
    new PartitionReader[InternalRow] {
      override def currentMetricsValues()
          : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
        if (Thread.currentThread() ne readerThread)
          throw new IllegalStateException(
            s"$caseFile: currentMetricsValues called from " +
              s"${Thread.currentThread().getName} but the reader (and its " +
              s"thread-local decode baselines) belongs to " +
              s"${readerThread.getName} — per-task metric deltas would " +
              "mis-attribute; decode must stay on the createReader thread")
        val payloads = DecodeStats.unrstVecPayloads.threadTotal +
          DecodeStats.rftVecPayloads.threadTotal +
          DecodeStats.unsmryParams.threadTotal - basePayloads
        Array(
          EclTaskMetric("payloadsDecoded", payloads),
          EclTaskMetric("paramSlotsDecoded",
            DecodeStats.unsmryParamSlots.threadTotal - baseSlots),
          EclTaskMetric("geomCellsComputed",
            DecodeStats.egridGeomCells.threadTotal - baseGeom))
      }
      // geometry-kernel pruning: if the projection needs none of the
      // computed geometry columns, the corner-point interpolation is
      // skipped AND the COORD/ZCORN payloads are never decoded —
      // a property-only fleet scan reads ACTNUM + the INIT vectors only
      private val geomCols = Set("X", "Y", "Z", "Z_MIN", "Z_MAX", "VOLUME")
      private val rows: Iterator[Row] = kind match {
        case "egrid" => EclBinary.gridCaseRows(caseFile, requiredVecs, mapaxes,
          needGeom = required.fieldNames.exists(geomCols.contains))
        case "unrst" => EclBinary.restartCaseRows(caseFile, requiredVecs, datePred)
        case "rft" => EclBinary.rftCaseRows(caseFile, requiredVecs, datePred, wells)
        case "unsmry" => graft.write.SummaryWriter.summaryCaseTuples(caseFile,
            datePred, vectorSel)
          .map(t => Row(t._1, t._2, t._3, t._4, t._5))
      }
      // the scan REPORTS per-partition (CASE, DATE/GLOBAL_INDEX)
      // ascending ([[EclBinaryScan.outputOrdering]]) and downstream
      // windows/SPJ plans may skip their sort on that claim — so the
      // claim is VALIDATED here, one long comparison per row: a file
      // whose report steps regress (e.g. a restarted run re-emitting
      // earlier dates) fails loudly instead of silently feeding an
      // unsorted stream to a sort-skipping plan. Only checked when the
      // ordered column survives projection — with it pruned, no
      // ordering is claimed.
      private val orderedCol = if (kind == "egrid") "GLOBAL_INDEX" else "DATE"
      private val ordIdx = required.fieldNames.indexOf(orderedCol)
      private var prevOrd = Long.MinValue
      private var current: InternalRow = _
      override def next(): Boolean = {
        if (!rows.hasNext) return false
        val r = rows.next()
        val vals = exs.map(_(r))
        if (ordIdx >= 0) {
          val v = vals(ordIdx) match {
            case i: java.lang.Integer => i.toLong
            case l: java.lang.Long => l.toLong
            case null => throw new IllegalStateException(
              s"$caseFile: null $orderedCol under a claimed ASC ordering " +
                "(ASC is NULLS FIRST; a null after non-nulls would falsify it)")
            case other => throw new IllegalStateException(
              s"$caseFile: unexpected $orderedCol value $other")
          }
          if (v < prevOrd) throw new IllegalStateException(
            s"$caseFile: $orderedCol regressed ($v after $prevOrd) — the " +
              "file violates the report-step-order precondition the scan's " +
              "outputOrdering claim rests on")
          prevOrd = v
        }
        current = InternalRow.fromSeq(vals)
        true
      }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
