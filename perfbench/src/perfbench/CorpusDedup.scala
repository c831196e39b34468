package perfbench

import java.nio.file.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** `corpus_dedup`: a seeded `documents.parquet` (the testdata schema)
  * with planted near-duplicate clusters, run through the exact
  * τ-Jaccard similarity join `q194_ppjoin_exact` from
  * `SparkEntry.queries`. The prefix-filter candidate join, the set
  * verification and their shuffles do the work; no reservoir I/O runs.
  */
object CorpusDedup extends Workload {
  val name = "corpus_dedup"
  val tailPct = 0.5

  val Query = "q194_ppjoin_exact"
  val Docs = 1500
  val Vocabulary = 3000
  /** Zipf exponent of token frequencies over the vocabulary. */
  val ZipfS = 1.0
  val MinLen = 20
  val MaxLen = 80
  /** Share of the documents that are near-duplicate copies of another. */
  val NearDupFraction = 0.2
  /** Chance that a copy replaces each token of its original. */
  val Mutation = 0.1
  private val Langs = IndexedSeq("en", "de", "es", "fr")
  private val Sources = 5

  /** The generated corpus: each document's tokens, and the original each
    * planted copy was made from. */
  final case class Corpus(texts: IndexedSeq[String], copyOf: Map[Int, Int])

  def generate(seed: Long): Corpus = {
    val rng = new java.util.SplittableRandom(seed)
    val perm = Gen.permutation(rng, Vocabulary)
    val words = (0 until Vocabulary).map(i => "t" + Integer.toString(perm(i) + 46656, 36))
    val cdf = (1 to Vocabulary).map(r => math.pow(r, -ZipfS)).scanLeft(0.0)(_ + _).tail.toArray
    def draw(): String = {
      val u = rng.nextDouble() * cdf.last
      val i = java.util.Arrays.binarySearch(cdf, u)
      words(math.min(Vocabulary - 1, if (i >= 0) i else -i - 1))
    }
    val docs = Array.fill(Docs)(IndexedSeq.empty[String])
    val copyOf = scala.collection.mutable.Map[Int, Int]()
    val copies = (Docs * NearDupFraction).toInt
    // the copies are the last `copies` documents, each of a seeded
    // earlier original, at a seeded position among the doc ids
    val ids = Gen.permutation(rng, Docs)
    for (n <- 0 until Docs) {
      val id = ids(n)
      docs(id) =
        if (n < Docs - copies) IndexedSeq.fill(MinLen + rng.nextInt(MaxLen - MinLen + 1))(draw())
        else {
          val orig = ids(rng.nextInt(Docs - copies))
          copyOf(id) = orig
          docs(orig).map(t => if (rng.nextDouble() < Mutation) draw() else t)
        }
    }
    Corpus(docs.map(_.mkString(" ")).toIndexedSeq, copyOf.toMap)
  }

  /** The rows `q194_ppjoin_exact` must return: every pair with Jaccard
    * ≥ 1/2 over the documents' distinct tokens, found by brute force. */
  def expected(c: Corpus): Seq[(Long, Long, Long, Long, Long, Double)] = {
    val ids = new java.util.HashMap[String, Integer]()
    val sets = c.texts.map(t => t.split(' ').distinct.map(w => ids.computeIfAbsent(w, _ => ids.size).intValue).sorted)
    def inter(a: Array[Int], b: Array[Int]): Int = {
      var i = 0; var j = 0; var n = 0
      while (i < a.length && j < b.length)
        if (a(i) < b(j)) i += 1 else if (a(i) > b(j)) j += 1 else { n += 1; i += 1; j += 1 }
      n
    }
    for {
      a <- sets.indices
      b <- a + 1 until sets.length
      n = inter(sets(a), sets(b))
      if 3 * n >= sets(a).length + sets(b).length
    } yield {
      val (sa, sb) = (sets(a).length.toLong, sets(b).length.toLong)
      val j = BigDecimal(n.toDouble / (sa + sb - n).toDouble).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (a.toLong, b.toLong, n.toLong, sa, sb, j)
    }
  }

  def setup(spark: SparkSession, dir: Path, seed: Long): Instance = {
    val corpus = generate(seed)
    val rng = new java.util.SplittableRandom(seed ^ 0x5eedL)
    Gen.publish(dir) { tmp =>
      val schema = new StructType().add("doc_id", "long").add("text", "string")
        .add("lang", "string").add("source", "string").add("n_chars", "long")
      val rows = corpus.texts.zipWithIndex.map { case (t, i) =>
        Row(i.toLong, t, Langs(rng.nextInt(Langs.length)), s"src${rng.nextInt(Sources)}", t.length.toLong)
      }
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.parquet(tmp.resolve("documents.parquet").toString)
    }
    new Dedup(spark, dir, corpus)
  }

  final class Dedup(spark: SparkSession, dir: Path, corpus: Corpus) extends ClosedLoop(spark) {
    val warmPasses = 4
    private lazy val want = expected(corpus)
    /** The planted (original, copy) pairs that reach the threshold. */
    private lazy val planted = {
      val all = want.map(r => (r._1, r._2)).toSet
      corpus.copyOf.map { case (c, o) => (math.min(c, o).toLong, math.max(c, o).toLong) }.filter(all)
    }

    val ops: Seq[Op] = Seq(
      Op(Query, Gen.bytesUnder(dir.resolve("documents.parquet")), p => {
        val e = p.run(p.build(graft.SparkEntry.queries(Query)(spark, dir.toString)))
        () => {
          val got = e.rows().toSeq.map(r =>
            (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
          release()
          if (got == want) None
          else {
            val found = got.map(r => (r._1, r._2)).toSet
            val missed = planted.count(p => !found(p))
            Some(s"$Query: ${got.length} pairs vs ${want.length} expected, $missed planted pairs missed; " +
              s"first difference ${got.zipAll(want, null, null).find(p => p._1 != p._2).getOrElse("")}")
          }
        }
      }))

    /** Drop what the query persisted or checkpointed (it never unpersists
      * its frames), blocking until the blocks are gone, so one op's cached
      * data neither piles up under the next ones nor is freed while they
      * run. */
    private def release(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
    }

    /** Wall time of the op that no running stage covers: planning,
      * driver-side collection and job submission between stages. */
    override def opLayer(ts: Seq[OpTrace]): Map[String, Double] =
      ts.map { t =>
        val stages = t.spans.filter(_.name.startsWith("stage ")).map(s => (s.startMs, s.endMs))
        s"${t.op.name}.driver_gap_s" -> math.max(0.0, t.latencyS - Stats.covered(stages) / 1e3)
      }.toMap

    def calibrate(tr: Tracer): Map[String, Double] = Map.empty
  }
}
