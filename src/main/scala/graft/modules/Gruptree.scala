package graft.modules

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Ops
import graft.io.{DeckParser, Records => R}

/** Group-tree snapshots: the full production network tree emitted at every
  * date where it changed.
  *
  * Reference: gruptree.py:94-182 — edges accumulate over the deck scan;
  * at each date boundary the *entire* current tree is dumped, stamped with
  * the date in effect when the edges appeared (1900-01-01 if none), with a
  * final last-wins dedup on (DATE, CHILD, KEYWORD).
  *
  * Relational form (R9): edge events stamped with the in-effect date →
  * cross join with the distinct change-dates (snapshot semantics: an edge
  * is visible at every change-date >= its own) → last edge per
  * (date, child, keyword) by keyword position → roots synthesized via
  * anti-join (parents that are nobody's child).
  */
object Gruptree {

  def edgeEvents(events: DataFrame): DataFrame = {
    val dk = Schedule.deckKeys(events).map(col)
    val grup = events.filter(col("keyword").isin("GRUPTREE", "BRANPROP") && size(col("items")) > 0)
      .select(dk ++ Seq(col("keywordIdx"), col("recordIdx"), col("keyword").as("KEYWORD"),
        R.str(0).as("CHILD"), R.str(1, "FIELD").as("PARENT")): _*)
    val wspecs = events.filter(col("keyword") === "WELSPECS" && size(col("items")) > 0)
      .select(dk ++ Seq(col("keywordIdx"), col("recordIdx"), lit("WELSPECS").as("KEYWORD"),
        R.str(0).as("CHILD"), R.str(1).as("PARENT")): _*)
    grup.unionByName(wspecs)
  }

  /** GRUPNET/NODEPROP node-property records (gruptree.py:143-157): per
    * node NAME, last definition wins; merged onto snapshot rows by CHILD.
    */
  def nodeEvents(events: DataFrame): DataFrame =
    events.filter(col("keyword").isin("GRUPNET", "NODEPROP") && size(col("items")) > 0)
      .select(Schedule.deckKeys(events).map(col) ++
        Seq(col("keywordIdx"), col("recordIdx"), col("keyword").as("NKEYWORD"),
          R.str(0).as("CHILD"), R.dbl(1).as("TERMINAL_PRESSURE"),
          R.int(2).as("VFP_TABLE"), R.dbl(3).as("ALQ")): _*)

  /** The reference keeps TWO tree families (gruptree.py:185-288): the
    * standard tree (GRUPTREE edges + GRUPNET node data) and the network
    * tree (BRANPROP + NODEPROP). Each family snapshots independently:
    * node data attaches as-of the snapshot date and only within its
    * family; WELSPECS edges join both trees, but a BRANPROP tree drops
    * wells whose parent group is outside it; WELSPECS parents missing
    * from the GRUPTREE tree are synthesized as children of FIELD
    * (GRUPTREE only); roots (parents that are nobody's child) carry the
    * family's KEYWORD and a null PARENT, with node data attached.
    * Duplicate (DATE, CHILD, KEYWORD) rows across the two families
    * (shared WELSPECS edges) collapse at the end.
    */
  def df(spark: SparkSession, deckText: String): DataFrame =
    fromEvents(DeckParser.toDS(spark, deckText).toDF())

  /** FLEET entry: snapshot trees for a glob/directory of deck files in
    * one plan, keyed on (deckId, DATE, CHILD) throughout.
    */
  def corpusFromPath(spark: SparkSession, paths: String*): DataFrame =
    fromEvents(spark.read.format("eclipse-deck").load(paths: _*), keepDeckId = true)

  /** `keepDeckId = true` is corpus mode: snapshot dates, as-of edge/node
    * joins and the final dedup all key on (deckId, …) and the output
    * carries the deck key — one plan over a fleet of decks.
    */
  def fromEvents(events: DataFrame, keepDeckId: Boolean = false): DataFrame = {
    if (!keepDeckId) Schedule.requireSingleDeck(events, "gruptree")
    val dk = Schedule.deckKeys(events)
    val dates = Schedule.keywordDates(events, keepDeckId = dk.nonEmpty)
    def dated(df: DataFrame) = df.join(dates, dk :+ "keywordIdx", "left")
      .withColumn("DATE", coalesce(col("DATE"), lit("1900-01-01").cast("timestamp")))
    // the dated edge/node frames are record-count-sized hubs consumed by
    // ~20 places in the snapshot plan (snapshot dates, range joins, orphan
    // and root synthesis, per family) — materialize them once instead of
    // re-running the date-fill window per consumer. Track the RDD ids the
    // eager checkpoint registers: localCheckpoint persists at the RDD
    // level, where Dataset.unpersist (CacheManager-only) cannot reach, so
    // the release below must go through getPersistentRDDs
    val sc = events.sparkSession.sparkContext
    var hubIds = Set.empty[Int]
    def checkpointHub(df: DataFrame): DataFrame = {
      val before = sc.getPersistentRDDs.keySet
      val out = df.localCheckpoint(true)
      hubIds ++= (sc.getPersistentRDDs.keySet -- before)
      out
    }
    val edges = checkpointHub(dated(edgeEvents(events)))
    val treeEdges = edges.filter(col("KEYWORD") =!= "WELSPECS")
    val wspecs = edges.filter(col("KEYWORD") === "WELSPECS")
    val nodes = checkpointHub(dated(nodeEvents(events)))
    val ord = Seq(col("keywordIdx"), col("recordIdx"))
    val dkc = dk.map(col)
    // snapshot-range joins and key sets, deck-scoped on a corpus frame
    def snapJoin(df: DataFrame, snapDates: DataFrame): DataFrame =
      df.join(snapDates,
        dk.map(k => df(k) === snapDates(s"SNAP_$k")).foldLeft(
          col("DATE") <= col("SNAP_DATE"))(_ && _))
        .drop(dk.map(k => s"SNAP_$k"): _*)
    val snapKeys = dk ++ Seq("SNAP_DATE", "CHILD")

    def family(treetype: String, nodetype: String): DataFrame = {
      val fe = treeEdges.filter(col("KEYWORD") === treetype)
      val fn = nodes.filter(col("NKEYWORD") === nodetype)
      // ONE tagged frame carries the family's edges, WELSPECS edges and
      // node records through a SINGLE snapshot range join + last-wins
      // window (tag rides in the partition key), instead of three joins +
      // three windows over three subtrees; the deduped hub is then
      // checkpointed once for its five downstream consumers
      val nullS = lit(null).cast("string")
      val tagged = fe.select(dkc ++ Seq(col("keywordIdx"), col("recordIdx"),
          lit("E").as("tag"), col("CHILD"), col("PARENT"), col("KEYWORD"),
          lit(null).cast("double").as("TERMINAL_PRESSURE"),
          lit(null).cast("int").as("VFP_TABLE"),
          lit(null).cast("double").as("ALQ"), col("DATE")): _*)
        .unionByName(wspecs.select(dkc ++ Seq(col("keywordIdx"), col("recordIdx"),
          lit("W").as("tag"), col("CHILD"), col("PARENT"), col("KEYWORD"),
          lit(null).cast("double").as("TERMINAL_PRESSURE"),
          lit(null).cast("int").as("VFP_TABLE"),
          lit(null).cast("double").as("ALQ"), col("DATE")): _*))
        .unionByName(fn.select(dkc ++ Seq(col("keywordIdx"), col("recordIdx"),
          lit("N").as("tag"), col("CHILD"), nullS.as("PARENT"), nullS.as("KEYWORD"),
          col("TERMINAL_PRESSURE"), col("VFP_TABLE"), col("ALQ"), col("DATE")): _*))
      // a family snapshot exists at every date any of its keywords (or
      // WELSPECS) changed — gruptree.py:204 `any(found_keywords[...])`
      val snapDates = tagged.select(dkc :+ col("DATE"): _*).distinct()
        .select(dk.map(k => col(k).as(s"SNAP_$k")) :+ col("DATE").as("SNAP_DATE"): _*)
      val deduped = Ops.lastWinsDedup(snapJoin(tagged, snapDates),
        keys = dk ++ Seq("SNAP_DATE", "CHILD", "tag"), ord = ord)
        .localCheckpoint(true)
      val outCols = dkc ++ Seq(col("SNAP_DATE"), col("CHILD"), col("PARENT"), col("KEYWORD"))
      val snapEdges = deduped.filter(col("tag") === "E").select(outCols: _*)
      val childs = snapEdges.select(dkc ++ Seq(col("SNAP_DATE"), col("CHILD")): _*)
      val wAll = deduped.filter(col("tag") === "W").select(outCols: _*)
      // BRANPROP trees only keep wells whose parent group is in the tree
      val ws =
        if (treetype == "BRANPROP")
          wAll.join(childs.withColumnRenamed("CHILD", "PARENT"),
            dk ++ Seq("SNAP_DATE", "PARENT"), "left_semi")
        else wAll
      // WELSPECS parents outside the GRUPTREE tree hang off FIELD
      val orphans =
        if (treetype == "GRUPTREE")
          ws.select(dkc ++ Seq(col("SNAP_DATE"), col("PARENT").as("CHILD")): _*).distinct()
            .join(childs, snapKeys, "left_anti")
            .select(dkc ++ Seq(col("SNAP_DATE"), col("CHILD"),
              lit("FIELD").as("PARENT"), lit(treetype).as("KEYWORD")): _*)
        else snapEdges.limit(0)
      val famEdges = snapEdges.unionByName(orphans)
      val parents = famEdges
        .select(dkc ++ Seq(col("SNAP_DATE"), col("PARENT").as("CHILD")): _*)
        .filter(col("CHILD").isNotNull).distinct()
      val roots = parents
        .join(famEdges.select(dkc ++ Seq(col("SNAP_DATE"), col("CHILD")): _*),
          snapKeys, "left_anti")
        .select(dkc ++ Seq(col("SNAP_DATE"), col("CHILD"),
          lit(null).cast("string").as("PARENT"), lit(treetype).as("KEYWORD")): _*)
      // node data as-of the snapshot, family-scoped, onto family rows and
      // roots (the reference leaves WELSPECS rows bare)
      val fnLast = deduped.filter(col("tag") === "N")
        .select(dkc ++ Seq(col("SNAP_DATE"), col("CHILD"),
          col("TERMINAL_PRESSURE"), col("VFP_TABLE"), col("ALQ")): _*)
      famEdges.unionByName(roots)
        .join(broadcast(fnLast), snapKeys, "left")
        .unionByName(ws
          .withColumn("TERMINAL_PRESSURE", lit(null).cast("double"))
          .withColumn("VFP_TABLE", lit(null).cast("int"))
          .withColumn("ALQ", lit(null).cast("double")))
    }

    // one bounded driver action over the raw keyword set decides which
    // families exist at all: a family with no edges contributes nothing
    // (GRUPNET/NODEPROP node data only ever attaches to family rows, and
    // the GRUPTREE family additionally materializes from bare WELSPECS via
    // orphan synthesis) — skipping an empty family halves the plan's
    // shuffle stages on GRUPTREE-only decks, the common case
    val present = events
      .filter(col("keyword").isin("GRUPTREE", "BRANPROP", "WELSPECS") &&
        size(col("items")) > 0)
      .select(col("keyword")).distinct().collect().map(_.getString(0)).toSet
    val fams = Seq(
      if (present("GRUPTREE") || present("WELSPECS"))
        Some(family("GRUPTREE", "GRUPNET")) else None,
      if (present("BRANPROP")) Some(family("BRANPROP", "NODEPROP")) else None).flatten
    val base = fams match {
      case Nil => family("GRUPTREE", "GRUPNET").limit(0) // schema-only, folds empty
      case f :: rest => rest.foldLeft(f)(_ unionByName _)
    }
    // the per-family `deduped` hubs (which the returned plan reads) have
    // materialized eagerly by now, so the upstream edge/node hub BLOCKS
    // can be released — a long-lived session calling this per deck would
    // otherwise accumulate them until GC + ContextCleaner. RDD-level
    // unpersist via the tracked ids (Dataset.unpersist is a no-op for
    // checkpointed frames). The family hubs themselves stay for the
    // caller's action (one or two frames per call; Bench and Verify
    // release them between queries via GraftSession.releaseCaches).
    sc.getPersistentRDDs.view.filterKeys(hubIds).values
      .foreach(_.unpersist(blocking = false))
    val out = base
      .dropDuplicates(dk ++ Seq("SNAP_DATE", "CHILD", "KEYWORD"))
      .select((if (keepDeckId) dkc else Nil) ++
        Seq(col("SNAP_DATE").as("DATE"), col("CHILD"), col("PARENT"), col("KEYWORD"),
          col("TERMINAL_PRESSURE"), col("VFP_TABLE"), col("ALQ")): _*)
    out.orderBy((if (keepDeckId) dkc else Nil) ++
      Seq(col("DATE"), col("PARENT").asc_nulls_first, col("CHILD")): _*)
  }
}
