package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector- and set-similarity primitives: dot/cosine over Array[Float]
  * embedding columns, and SimHash.
  *
  * Pure Column expressions (zip_with / aggregate / transform higher-order
  * functions) — no UDF serialization, vectors never leave Tungsten rows.
  */
object SimilarityFunctions {

  private def asDouble(a: Column): Column = transform(a, x => x.cast("double"))

  /** Dot product of two numeric arrays, accumulated in double, in element
    * order (deterministic).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity. For L2-normalized embeddings this equals dot(). */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** SimHash (64-bit) of a token set: per-bit votes (+1 if the token's
    * xxhash64 has the bit set, -1 otherwise) accumulated in a single pass
    * over the tokens with an array accumulator, then sign → bit.
    */
  def simhash(toks: Column): Column = {
    val zero = array((0 until 64).map(_ => lit(0L)): _*)
    val bitsOf = (t: Column) =>
      array((63 to 0 by -1).map(b =>
        when(shiftright(xxhash64(t), b).bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L))): _*)
    val votes = aggregate(toks, zero, (acc, t) => zip_with(acc, bitsOf(t), (a, v) => a + v))
    // fold the 64 sign bits (MSB first) into one long; shiftleft wraps
    // rather than throwing under ANSI mode when the sign bit lands
    aggregate(votes, lit(0L),
      (acc, v) => shiftleft(acc, 1).bitwiseOR(when(v > 0, 1L).otherwise(0L)))
  }
}

/** Engine-portable seeded hash family over small-integer keys.
  *
  * `mix(a, seed) = (((a+1)*2654435761 mod P) + 1) * C(seed) mod P` with
  * `P = 2^31-1` and `C(seed) = ((seed+1)*2246822519 mod P) + 1` — the seed
  * enters MULTIPLICATIVELY, which matters: an additive seed makes values
  * across consecutive seeds an arithmetic progression mod P, whose parity
  * sequence is a near-periodic Sturmian pattern — LSH plane signs then
  * correlate across planes (observed: 12 "independent" hyperplanes
  * collapsing to ~4, bucket sizes 150+ instead of ≤6). Working mod 2^31-1
  * keeps every product under 2^62: no overflow under Spark ANSI or DuckDB
  * BIGINT, so both engines compute bit-identical values. That is what makes
  * MinHash permutations, SimHash bit votes, and random-hyperplane LSH signs
  * oracle-checkable: the same formula runs as a codegen'd Spark expression
  * AND as DuckDB SQL.
  *
  * For the open-vocabulary path that skips the dictionary entirely, see
  * [[PortableStringHash]], which hashes token STRINGS portably; this family
  * hashes a dictionary index, the classic "build a vocab, then permute ids"
  * MinHash formulation — equally valid where a dictionary exists.
  */
object PortableHash {
  val M1 = 2654435761L
  val M2 = 2246822519L
  val P  = 2147483647L // 2^31-1 (prime); keeps products < 2^62

  private def seedC(seed: Int): Long = ((seed + 1L) * M2) % P + 1L

  /** Spark side: mix of a long column with a constant seed. */
  def mix(a: Column, seed: Int): Column =
    (((a + lit(1L)) * lit(M1)) % lit(P) + lit(1L)) * lit(seedC(seed)) % lit(P)

  /** Scalar twin of [[mix]] for JVM-side kernels — same bit-identical
    * values (used where one pass over the data beats re-evaluating the
    * column expression per seed, e.g. streaming signature projection).
    */
  def mixLong(a: Long, seed: Int): Long =
    (((a + 1L) * M1) % P + 1L) * seedC(seed) % P

  /** Oracle side: the same mix as SQL text over expression `a`. */
  def mixSql(a: String, seed: Int): String =
    s"((((($a + 1) * $M1) % $P + 1) * ${seedC(seed)}) % $P)"

  /** Spark side: ±1 sign from the mix parity. */
  def sign(a: Column, seed: Int): Column =
    when(mix(a, seed) % 2 === 1, lit(1L)).otherwise(lit(-1L))

  /** Oracle side: the same ±1 sign as SQL text. */
  def signSql(a: String, seed: Int): String =
    s"(CASE WHEN ${mixSql(a, seed)} % 2 = 1 THEN 1 ELSE -1 END)"
}

/** Engine-portable polynomial hash over token STRINGS — the
  * open-vocabulary companion to [[PortableHash]]: no dictionary build, no
  * distinct-shuffle, no vocabulary bound. Horner fold over the first
  * [[PortableStringHash.MaxChars]] codepoints,
  * `h_i = (h_{i-1} * B + cp_i + 1) mod P`, which equals the positional sum
  * `Σ (cp_i + 1) · B^(L-i) mod P` — the form the DuckDB oracle computes
  * with a precomputed-powers list (SQL can't fold over characters, but it
  * can unnest them with subscripts). Every intermediate stays under 2^62,
  * so Spark ANSI and DuckDB BIGINT arithmetic agree bit-for-bit.
  *
  * Spark side is a native unary Expression whose codegen is a single
  * static call — the token string is hashed inside whole-stage codegen,
  * no interpreted fallback. Parity holds for BMP codepoints without
  * combining sequences (DuckDB's per-character split vs. codePointAt);
  * whitespace-delimited ASCII/Latin tokens — the tokenizer's output — are
  * always safe.
  */
object PortableStringHash {
  val B = 131L
  val P: Long = PortableHash.P
  val MaxChars = 64

  /** Shared by interpreted eval and generated code. */
  def hashString(s: org.apache.spark.unsafe.types.UTF8String): Long =
    hashString(s.toString)

  /** String overload — the actual fold; JVM-side kernels call this
    * directly, skipping the UTF8String encode/decode round trip. */
  def hashString(str: String): Long = {
    var h = 0L
    var i = 0
    var n = 0
    while (i < str.length && n < MaxChars) {
      val cp = str.codePointAt(i)
      h = (h * B + cp + 1L) % P
      i += Character.charCount(cp)
      n += 1
    }
    h
  }

  /** Spark side: portable hash of a string column (BIGINT in [0, P)). */
  def strHash(c: Column): Column =
    org.apache.spark.sql.GraftShims.column(
      PortableStringHashExpr(org.apache.spark.sql.GraftShims.expression(c)))

  private def powMod(e: Int): Long = {
    var r = 1L; var i = 0
    while (i < e) { r = (r * B) % P; i += 1 }
    r
  }

  /** Oracle side: CTE text hashing `tokCol` of relation `src` into
    * `hashCol` (must differ from `tokCol`), keyed by `keys` (the
    * non-token identifying columns). Emits two CTEs named `<out>_chars`
    * and `<out>`; `<out>` has columns (keys..., hashCol).
    */
  def strHashCtes(src: String, keys: Seq[String], tokCol: String, out: String,
      hashCol: String): String = {
    require(hashCol != tokCol, "hashCol must differ from tokCol (GROUP BY ambiguity)")
    val pw = (0 until MaxChars).map(powMod).mkString("[", ", ", "]")
    val keyList = keys.mkString(", ")
    s"""${out}_chars AS (
         SELECT $keyList, $tokCol,
                unnest(string_split($tokCol, '')) AS ch,
                generate_subscripts(string_split($tokCol, ''), 1) AS i
         FROM $src),
       $out AS (
         SELECT $keyList,
                CAST(sum(CAST(ascii(ch) + 1 AS BIGINT) *
                         CAST(($pw)[CAST(least(len($tokCol), $MaxChars) - i + 1 AS INT)]
                              AS BIGINT)) % $P
                     AS BIGINT) AS $hashCol
         FROM ${out}_chars
         WHERE i <= least(len($tokCol), $MaxChars)
         GROUP BY $keyList, $tokCol)"""
  }
}

case class PortableStringHashExpr(child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.types._

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case _: StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"portable_str_hash expects a string input, got $other")
    }

  override def dataType: DataType = LongType

  override def nullSafeEval(s: Any): Any =
    PortableStringHash.hashString(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PortableStringHash.hashString($c)")

  override protected def withNewChildInternal(newChild: Expression): PortableStringHashExpr =
    copy(child = newChild)
}
