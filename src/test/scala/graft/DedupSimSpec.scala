package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.PortableHash
import graft.queries.DedupSim

/** Properties of the portable hash family and the similarity/ANN queries
  * built on it (q26/q27/q30/q36), at sf0.001.
  */
class DedupSimSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("portable hash: values in range, deterministic, seed-sensitive") {
    val df = (0L until 64L).toDF("a")
    val vals = df.select(
      PortableHash.mix(col("a"), 0).as("h0"),
      PortableHash.mix(col("a"), 1).as("h1")).collect()
    assert(vals.forall(r => r.getLong(0) >= 0 && r.getLong(0) < PortableHash.P))
    // different seeds permute differently (no fixed offset relation)
    val diffs = vals.map(r => r.getLong(1) - r.getLong(0)).distinct
    assert(diffs.length > 32, "seed must not act as a constant shift")
  }

  test("portable hash signs: plane parities are uncorrelated across seeds") {
    // The additive-seed family failed exactly this: sign rows repeating
    // with period ~4 across seeds. Check pairwise agreement rates stay
    // within a wide band around 50% for the ANN plane seeds.
    val signs = (0 until 64).map { d =>
      (0 until 12).map { p =>
        val h = ((((d + 1L) * PortableHash.M1) % PortableHash.P + 1L) *
          (((200 + p + 1L) * PortableHash.M2) % PortableHash.P + 1L)) % PortableHash.P
        if (h % 2 == 1) 1 else -1
      }
    }
    for (p1 <- 0 until 12; p2 <- (p1 + 1) until 12) {
      val agree = signs.count(row => row(p1) == row(p2))
      // 66 pairwise comparisons over 64 dims: allow ±4.5σ around 32.
      // The additive family this guards against hit 0 or 64 exactly.
      assert(agree >= 14 && agree <= 52, s"planes $p1,$p2 agree on $agree/64 dims")
    }
  }

  test("q30 LSH buckets are balanced") {
    val out = DedupSim.q30AnnLsh(spark, dir)
    val maxBucket = out.groupBy("bucket").count().agg(max("count")).head.getLong(0)
    // pair count per bucket, not member count; still bounds collapse
    assert(maxBucket < 200, s"largest bucket pair-count $maxBucket suggests plane collapse")
  }

  test("q36 IVF recall: top-1 matches brute force for most queries") {
    val brute = DedupSim.q28CosineTopK(spark, dir)
      .filter(col("rn") === 1).select("qid", "neighbor_id").as[(Long, Long)].collect().toMap
    val ivf = DedupSim.q36AnnIvf(spark, dir)
      .filter(col("rn") === 1).select("qid", "neighbor_id").as[(Long, Long)].collect().toMap
    val hits = brute.keys.count(q => ivf.get(q).contains(brute(q)))
    assert(hits >= (brute.size * 6) / 10,
      s"IVF top-1 recall $hits/${brute.size} too low for nprobe=2")
  }

  test("native dot product matches the HOF formulation and stays in codegen") {
    import graft.functions.{SimilarityFunctions, VectorExpressions}
    val e = graft.sources.Tables.embeddings(spark, dir).limit(50)
    val a = e.select(col("vec_id").as("ida"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("idb"), col("embedding").as("eb"))
    val pairs = a.crossJoin(b).filter(col("ida") < col("idb"))
    val cmp = pairs.select(
      round(SimilarityFunctions.dot(col("ea"), col("eb")), 9).as("hof"),
      round(VectorExpressions.dot_native(col("ea"), col("eb")), 9).as("native"))
    assert(cmp.filter(col("hof") =!= col("native")).count() == 0)
    // the native expression must not force a CodegenFallback projection
    // (plain scan+project shape: AQE wrappers would hide codegen marks)
    val plan = graft.sources.Tables.embeddings(spark, dir)
      .select(VectorExpressions.dot_native(col("embedding"), col("embedding")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"),
      s"expected the projection inside a WholeStageCodegen span in:\n$plan")
    val hofPlan = graft.sources.Tables.embeddings(spark, dir)
      .select(SimilarityFunctions.dot(col("embedding"), col("embedding")))
      .queryExecution.executedPlan.toString
    assert(!hofPlan.contains("*(1) Project"),
      "HOF dot projection unexpectedly codegen'd — update docs")
  }

  test("q26 clusters: is_dup iff a lower doc_id shares a bucket; cluster ids are min") {
    val out = DedupSim.q26MinhashLsh(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val doc = r.getAs[Long]("doc_id"); val cl = r.getAs[Long]("cluster_id")
      assert(cl <= doc)
      assert(r.getAs[Boolean]("is_dup") == (cl < doc))
    }
  }

  test("portable string hash: codegen'd, matches the Horner fold, in range") {
    import graft.functions.PortableStringHash
    // spark.range keeps the projection in the plan (a local Seq would
    // constant-fold to a LocalTableScan and hide the codegen span)
    val df = spark.range(5)
      .select(concat(lit("tok_"), col("id")).as("tok"))
      .unionByName(Seq("alpha", "a" * 100, "Straße").toDF("tok"))
      .select(col("tok"), PortableStringHash.strHash(col("tok")).as("h"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"),
      s"expected the hash projection inside WholeStageCodegen:\n$plan")
    def horner(t: String): Long = {
      var h = 0L
      t.codePoints().limit(PortableStringHash.MaxChars).forEach(cp =>
        h = (h * PortableStringHash.B + cp + 1L) % PortableStringHash.P)
      h
    }
    df.collect().foreach { r =>
      val (tok, h) = (r.getString(0), r.getLong(1))
      assert(h == horner(tok), s"mismatch for '$tok'")
      assert(h >= 0 && h < PortableStringHash.P)
    }
    // truncation: chars beyond MaxChars don't change the hash
    assert(horner("a" * 100) == horner("a" * 64))
  }

  test("q39 open-vocab clusters: same invariants as q26, no dictionary dependency") {
    val out = DedupSim.q39MinhashOpenVocab(spark, dir).collect()
    assert(out.length == DedupSim.q26MinhashLsh(spark, dir).count())
    out.foreach { r =>
      val doc = r.getAs[Long]("doc_id"); val cl = r.getAs[Long]("cluster_id")
      assert(cl <= doc)
      assert(r.getAs[Boolean]("is_dup") == (cl < doc))
    }
    // identical duplicate texts must land in one cluster regardless of path
    val dups26 = DedupSim.q26MinhashLsh(spark, dir)
      .filter(col("is_dup")).count()
    val dups39 = out.count(_.getAs[Boolean]("is_dup"))
    assert(dups39 >= (dups26 * 8) / 10,
      s"open-vocab path found $dups39 dups vs dictionary path's $dups26")
  }

  test("q38 k-means IVF: well-formed top-k, recall not below the seeded quantizer") {
    val out = DedupSim.q38AnnIvfKmeans(spark, dir).collect()
    val byQ = out.groupBy(_.getAs[Long]("qid"))
    assert(byQ.size == 10)
    byQ.values.foreach { rs =>
      assert(rs.map(_.getAs[Long]("rn")).sorted.toSeq == (1L to rs.length))
      assert(rs.length <= 5)
    }
    val brute = DedupSim.q28CosineTopK(spark, dir)
      .filter(col("rn") === 1).select("qid", "neighbor_id").as[(Long, Long)].collect().toMap
    val km = out.filter(_.getAs[Long]("rn") == 1)
      .map(r => r.getAs[Long]("qid") -> r.getAs[Long]("neighbor_id")).toMap
    val hits = brute.keys.count(q => km.get(q).contains(brute(q)))
    assert(hits >= (brute.size * 6) / 10,
      s"k-means IVF top-1 recall $hits/${brute.size} below the seed-centroid floor")
  }

  test("token-dictionary fast path and distributed fallback agree (q25 masks)") {
    // q25's whole pipeline rides docTokenBits; the memoized literal-map
    // lookup must be plan-only — same rows as the window+join path the
    // oracle SQL replays.
    val out = DedupSim.q25Jaccard(spark, dir).collect()
    val sql = spark.sql(
      s"""WITH toks AS (SELECT doc_id, explode(array_distinct(split(trim(text), '\\\\s+'))) AS tok
                        FROM parquet.`$dir/documents.parquet`),
          vocab AS (SELECT tok, row_number() OVER (ORDER BY tok) - 1 AS bit
                    FROM (SELECT DISTINCT tok FROM toks)),
          masks AS (SELECT doc_id, bit_or(shiftleft(1L, cast(bit AS int))) AS mask
                    FROM toks JOIN vocab USING (tok) GROUP BY doc_id)
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 round(cast(bit_count(a.mask & b.mask) AS double)
                       / bit_count(a.mask | b.mask), 6) AS jaccard
          FROM masks a JOIN masks b ON a.doc_id < b.doc_id
          WHERE cast(bit_count(a.mask & b.mask) AS double)
                / bit_count(a.mask | b.mask) >= 0.95
          ORDER BY doc_a, doc_b""").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
      sql.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq)
  }

  test("q37 pigeonhole banding finds exactly the brute-force hamming pairs") {
    // The banded equi-join is a candidate FILTER, never a miss: every
    // distinct-fingerprint pair within the hamming threshold must appear,
    // and nothing outside it. Brute force over the collected fingerprints
    // (test-side only — the query itself has no cross join).
    val fps = DedupSim.q27Simhash(spark, dir)
      .select("doc_id", "simhash").as[(Long, Long)].collect()
    val groups = fps.groupBy(_._2).map { case (fp, ds) =>
      (fp, ds.map(_._1).min, ds.length.toLong)
    }.toSeq
    val brute = (for {
      (fpA, repA, nA) <- groups; (fpB, repB, nB) <- groups
      if repA < repB
      h = java.lang.Long.bitCount(fpA ^ fpB).toLong if h <= 8
    } yield (repA, repB, h, nA, nB)).sortBy(p => (p._1, p._2))
    val banded = DedupSim.q37SimhashNearDup(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(banded == brute)
  }

  test("q29 block-partitioned kernel matches driver brute force") {
    val rows = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val brute = (for {
      i <- rows.indices; j <- (i + 1) until rows.length
      d = rows(i)._2.map(_.toDouble).zip(rows(j)._2.map(_.toDouble)).map(p => p._1 * p._2).sum
      if d >= 0.4
    } yield (rows(i)._1, rows(j)._1)).sorted
    val blocked = DedupSim.q29CosineNearDup(spark, dir)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(blocked == brute)
  }

  test("q96 SemDeDup: removal rule matches driver brute force within clusters") {
    val out = DedupSim.q96SemDedup(spark, dir).collect()
    assert(out.length == 500)
    val cluster = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val removed = out.filter(!_.getBoolean(4)).map(_.getLong(0)).toSet
    // independent recomputation: exact pairwise dots with the SAME
    // HALF_UP 6-decimal rounding as the kernel, restricted to
    // same-cluster earlier-id neighbors — the q96 removal rule
    val rows = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val expected = (for {
      i <- rows.indices; j <- (i + 1) until rows.length
      if cluster(rows(i)._1) == cluster(rows(j)._1)
      d = rows(i)._2.map(_.toDouble).zip(rows(j)._2.map(_.toDouble)).map(p => p._1 * p._2).sum
      if BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble >= 0.4
    } yield rows(j)._1).toSet
    assert(removed == expected)
    // a cluster's min-id member can never have an earlier neighbor: kept
    val minIds = out.groupBy(_.getLong(1)).map { case (_, rs) => rs.map(_.getLong(0)).min }
    assert(minIds.forall(id => !removed.contains(id)))
  }

  test("q41 closes bucket chains into one component; refines q39 clusters") {
    // a path graph A-(b1)-B-(b2)-C: A and C share no bucket, so the
    // one-hop cluster id (q26/q39 shape) keeps them apart — the closure
    // must merge all three; D stays alone
    val membership = Seq((1L, "b1"), (2L, "b1"), (2L, "b2"), (3L, "b2"), (4L, "b3"))
      .toDF("doc_id", "bucket")
    val cc = DedupSim.connectedComponents(membership)
      .orderBy("doc_id").as[(Long, Long, Boolean)].collect().toSeq
    assert(cc == Seq((1L, 1L, false), (2L, 1L, true), (3L, 1L, true), (4L, 4L, false)))

    // on the corpus: every one-hop q39 cluster lies INSIDE a q41
    // component (components only merge, never split)
    val oneHop = DedupSim.q39MinhashOpenVocab(spark, dir)
      .select(col("doc_id"), col("cluster_id"))
    val full = DedupSim.q41DedupComponents(spark, dir)
      .select(col("doc_id"), col("component_id"))
    val joined = oneHop.join(full, "doc_id")
      .join(full.select(col("doc_id").as("cluster_id"), col("component_id").as("rep_comp")),
        "cluster_id")
    assert(joined.filter(col("component_id") =!= col("rep_comp")).count() == 0,
      "docs sharing a one-hop cluster must share a component")
    assert(full.select("component_id").distinct().count() <=
      oneHop.select("cluster_id").distinct().count())
  }

  test("q56 materializes exactly the canonical member per q41 component") {
    val comp = DedupSim.q41DedupComponents(spark, dir)
    val out = DedupSim.q56DedupMaterialize(spark, dir)
    // one survivor per component, and it IS the canonical (min-id) member
    val canon = comp.filter(!col("is_dup")).select("doc_id")
    assert(out.select("doc_id").exceptAll(canon).isEmpty &&
      canon.exceptAll(out.select("doc_id")).isEmpty)
    // fold counts partition the corpus: Σ n_merged == corpus size
    val total = out.agg(sum("n_merged")).as[Long].head()
    assert(total == comp.count())
    // survivors keep their document attributes (join didn't shift rows)
    val doc0 = graft.sources.Tables.documents(spark, dir)
      .select("doc_id", "source", "lang", "n_chars")
    assert(out.select("doc_id", "source", "lang", "n_chars")
      .exceptAll(doc0.join(canon, "doc_id")).isEmpty)
  }

  test("q57 per-source top-k is bounded and planned as a two-phase WindowGroupLimit") {
    val out = graft.queries.TextAnalytics.q57QualityTopK(spark, dir)
    val perSource = out.groupBy("source").count().collect()
    assert(perSource.nonEmpty && perSource.forall(_.getLong(1) <= 10))
    assert(out.agg(max("rank_in_source")).head.getInt(0) <= 10)
    // the optimizer must insert the Partial group limit BELOW the source
    // exchange — the two-phase top-k that keeps a hot source from
    // shipping its whole partition to one task at scale
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), "expected WindowGroupLimit in plan")
    assert(plan.contains("Partial"), "expected a Partial (pre-shuffle) group limit")
  }

  test("connectedComponents converges on a deep chain via pointer-jumping") {
    // an 80-hop path graph: plain min-label propagation moves the label
    // ~2 hops per iteration, so 25 iterations can't close it — only the
    // pointer-jump (label := label(label), distance doubling) can. This
    // is the regime the unconverged-exit guard and the jump exist for.
    val n = 80
    val membership = (0 until n - 1).flatMap(i =>
      Seq((i.toLong, s"b$i"), ((i + 1).toLong, s"b$i")))
      .toDF("doc_id", "bucket")
    val cc = DedupSim.connectedComponents(membership)
      .as[(Long, Long, Boolean)].collect()
    assert(cc.length == n)
    assert(cc.forall(_._2 == 0L), "every doc must reach component 0")
    assert(cc.count(!_._3) == 1)
  }

  test("a fixpoint round whose observed metrics never arrive fails loud, naming loop and round") {
    import scala.concurrent.duration._
    val never = org.apache.spark.sql.Observation("fixpoint_spec_never")
    val e = intercept[IllegalStateException](
      graft.core.Fixpoint.observedLong(never, "n", "spec loop", 3, 50.millis))
    assert(e.getMessage.contains("spec loop") && e.getMessage.contains("round 3"))
  }

  test("q42 repetition signals match hand-computed fractions") {
    // "a b a b a b": 3-grams [aba, bab, aba, bab] → dup = 1 - 2/4 = 0.5;
    // 2-grams [ab, ba, ab, ba, ab] → top share 3/5 = 0.6
    val d = java.nio.file.Files.createTempDirectory("graft-q42").toString
    Seq((1L, "a b a b a b"), (2L, "x y z"), (3L, "solo"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = graft.queries.TextAnalytics.q42Repetition(spark, d)
      .as[(Long, Double, Double)].collect().toSeq
    assert(out == Seq((1L, 0.5, 0.6), (2L, 0.0, 0.5), (3L, 0.0, 0.0)))
  }

  test("q40 df cap drops the hot shingle but keeps genuine near-dups") {
    // 150 docs sharing one boilerplate sentence (a hot shingle with
    // df = 150 > the cap floor of 100) plus two genuinely similar docs.
    // Without the cap the boilerplate contributes 150² join pairs; with
    // it, the boilerplate shingles vanish from the postings and only the
    // real near-dup pair survives the threshold.
    val boiler = "common header line always present here today"
    val docs = ((0 until 150).map(i => (i.toLong, s"$boiler unique$i trailer$i")) ++
      Seq((900L, "alpha beta gamma delta epsilon zeta"),
        (901L, "alpha beta gamma delta epsilon eta"))).toDF("doc_id", "text")
    val out = DedupSim.ngramJaccard(docs)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSeq
    // docs 900/901: post-cap shingle sets are their own 4 shingles; they
    // share 3 => jaccard 3/5 = 0.6. The boilerplate block must NOT pair.
    assert(out == Seq((900L, 901L, 0.6)))
  }

  test("q91 verification recovers the exact >=0.95 pair set with identical jaccards") {
    val sf = "/root/testdata/sf0.001"
    val out = DedupSim.q91LshVerify(spark, sf)
    // the verification stage's contract: nothing below threshold survives
    assert(out.filter(col("jaccard") < 0.7).count() == 0)
    assert(out.filter(col("n_buckets") < 1 || col("n_buckets") > 8).count() == 0)
    // ground truth: q25's exact all-pairs >= 0.95 set (same token-set
    // similarity). At j >= 0.95 a band collides with prob 1-(1-j^4)^8
    // ~ 0.999998 — on this fixed corpus every q25 pair must surface as
    // an LSH candidate and verify with the IDENTICAL jaccard value
    val exact = DedupSim.q25Jaccard(spark, sf)
      .select(col("doc_a"), col("doc_b"), col("jaccard").as("jx"))
    val nExact = exact.count()
    assert(nExact > 0) // the synthetic corpus is near-dup-heavy
    val joined = exact.join(out, Seq("doc_a", "doc_b"))
    assert(joined.count() == nExact)
    assert(joined.filter(col("jaccard") =!= col("jx")).count() == 0)
  }

  test("q91 plan: no Window and no SortMergeJoin between the band signatures and the pair kernel") {
    val plan = PlanText.finalPlanOf(DedupSim.q91LshVerify(spark, dir))
    val kernel = plan.indexOf("MapPartitions graft.core.GroupPairs")
    // the signature aggregate (minhashBandVecs) is the first min() fold
    // under the kernel on its main (left-most) path
    val sig = plan.indexOf("functions=[min(", kernel)
    assert(kernel >= 0 && sig > kernel, plan)
    val between = plan.substring(kernel, sig)
    assert(!between.contains("Window") && !between.contains("SortMergeJoin"), between)
  }

  test("q96 block kernel: a mega-cluster split across blocks equals one-block brute force") {
    // one cluster of all 500 sf0.01 vectors: more than BlockSize members,
    // so the kernel walks it as 2 blocks (two same-block cells and one
    // cross-block cell); driver brute force with the kernel's rounding
    // is the referee
    val members = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select(lit(0L).as("list_id"), col("vec_id"), col("embedding"))
    val rows = members.select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().sortBy(_._1)
    assert(rows.length > graft.core.GroupPairs.BlockSize)
    val brute = (for {
      i <- rows.indices; j <- (i + 1) until rows.length
      d = rows(i)._2.map(_.toDouble).zip(rows(j)._2.map(_.toDouble)).map(p => p._1 * p._2).sum
      r = BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if r >= 0.4
    } yield (rows(i)._1, rows(j)._1, r)).toSeq
    val got = DedupSim.clusterPairs(members)
      .select("id_a", "id_b", "sim").as[(Long, Long, Double)].collect().sorted.toSeq
    assert(got.nonEmpty && got == brute)
  }

}
