package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftColumns.{column, expression}

/** Column-level helpers shared by every graft operator.
  *
  * Design rules (100 TB discipline):
  *   - everything here is a plain Catalyst column expression (codegen'd,
  *     no Scala UDF closures in hot paths);
  *   - each kernel builder returns its expression class as a Column
  *     directly (through [[org.apache.spark.sql.GraftColumns]]): there is
  *     no SQL function registry, so a kernel column resolves in any
  *     session, and the Scala signature fixes its arity and its literal
  *     parameters;
  *   - all floating-point aggregates route through exact DECIMAL sums so the
  *     result is a deterministic IEEE value regardless of partition order —
  *     a 1000-executor shuffle must produce the same bytes as local[1]
  *     (also required for the DuckDB-oracle hash compare).
  */
object GraftFunctions {

  /** LSH band bucket values for an embedding column — one fused pass over
    * the vector for ALL hyperplane projections ([[HyperplaneLsh]]). */
  def hyperplaneBands(c: Column, planes: Int, bands: Int): Column =
    column(HyperplaneBands(expression(c), planes, bands))

  /** SimHash signature for a token-hash array — one fused pass over the
    * array for ALL signature bits ([[SimHashLsh]]). */
  def simhashBits(c: Column, bits: Int): Column = column(SimHashBits(expression(c), bits))

  /** MinHash signature for a shingle-hash array — one fused pass over the
    * array for ALL hash functions ([[MinhashLsh]]). */
  def minhashSigs(c: Column, numHashes: Int): Column = column(MinhashSigs(expression(c), numHashes))

  /** Morton (Z-order) interleave of two long columns' low `bits` bits —
    * one fused loop for the whole key ([[Morton]]). */
  def mortonInterleave(x: Column, y: Column, bits: Int): Column =
    column(MortonInterleave(expression(x), expression(y), bits))

  /** Sequential-fold dot product of two float/double array columns — the
    * codegen'd cosine kernel ([[VecOps]]; bit-identical to the interpreted
    * `aggregate(zip_with(…))` stack it replaces). */
  def vecDot(a: Column, b: Column): Column = column(VecDot(expression(a), expression(b)))

  /** Sequential-fold squared Euclidean distance of two float/double array
    * columns ([[VecOps.distSq]] — bit-identical to the interpreted
    * `(x−y)·(x−y)` zip_with fold it replaces). */
  def vecDistSq(a: Column, b: Column): Column = column(VecDistSq(expression(a), expression(b)))

  /** Hamming weight of the elementwise XOR of two `array<long>` signature
    * columns ([[VecOps.hamming]] — exact integer fold). */
  def vecHamming(a: Column, b: Column): Column = column(VecHamming(expression(a), expression(b)))

  /** Per-token [[hash31]] values of an `array<string>` column in one
    * codegen'd pass ([[TokenHash.hash31All]] — bit-identical to the
    * interpreted `transform(tk, t => hash31(t))` it replaces). */
  def hash31Tokens(tk: Column): Column = column(Hash31Tokens(expression(tk)))

  /** Polynomial k-gram hashes over a token-hash array column
    * ([[TokenHash.shinglePoly]] — the ShingleC per-term-mod arithmetic in
    * one codegen'd pass). */
  def shinglePoly(th: Column, coeffs: Seq[Long]): Column =
    column(ShinglePoly(expression(th), coeffs))

  /** All hashing-trick bucket sums of a token-hash array in one pass
    * ([[TokenHash.featureHashAll]]). */
  def featureHashBuckets(th: Column, dim: Int): Column =
    column(FeatureHashBuckets(expression(th), dim))

  /** All (h_prev, h_bigram) hash pairs of a token array column in one
    * pass ([[TokenHash.bigramHashes]]). */
  def bigramHashes(tk: Column): Column = column(BigramHashes(expression(tk)))

  /** All positional q-grams of a string column in one pass
    * ([[TokenHash.charQGrams]]). */
  def charQGrams(s: Column, q: Int): Column = column(CharQGrams(expression(s), q))

  /** Perceptual-hash band signature of a decoded payload string in one
    * pass ([[TokenHash.phashSim]]). */
  def phashSim(ptxt: Column, cells: Int, bands: Int, mod: Long): Column =
    column(PhashSim(expression(ptxt), cells, bands, mod))

  /** Per-window md5-based 60-bit hashes of space-joined token windows
    * ([[TokenHash.windowHash64]]). */
  def windowHash64(tk: Column, win: Int, stride: Int, clip: Boolean): Column =
    column(WindowHash64(expression(tk), win, stride, clip))

  /** Sequential polynomial rolling fold (acc·b + h) mod m over a
    * token-hash array ([[TokenHash.polyFold]]). */
  def polyFold(th: Column, b: Long, m: Long): Column = column(PolyFold(expression(th), b, m))

  /** Set-intersection cardinality of two long-array SETS — the Jaccard
    * verify counting kernel ([[SetOps.intersectCount]]); inputs must hold
    * distinct elements (every builder in the repo guarantees it). */
  def intersectCount(a: Column, b: Column): Column =
    column(IntersectCount(expression(a), expression(b)))

  /** Sorted-set intersection cardinality ([[SetOps.intersectCountSorted]]):
    * both arrays must be ascending-sorted (`array_sort` order). Sort each
    * set once at materialization; every probe is then one linear merge with
    * no per-pair scratch buffer — the verify kernel for similarity joins
    * that probe the same sets millions of times. */
  def intersectCountSorted(a: Column, b: Column): Column =
    column(IntersectCountSorted(expression(a), expression(b)))

  /** Floor-division nanos→micros via the named [[NanosToMicros]] expression —
    * the node [[graft.plans.NanosDatePushdown]] keys its rewrite on. */
  def nanosToMicros(c: Column): Column = column(NanosToMicros(expression(c)))

  /** ISO-8601 duration string → seconds (custom Catalyst expression, §2.8 F1). */
  def isoDurationSeconds(c: Column): Column = column(ParseIso8601Duration(expression(c)))

  /** Deterministic, cross-engine 64-bit content hash: first 15 hex chars of
    * md5 → non-negative long in [0, 2^60). Chosen because DuckDB computes the
    * identical value via `CAST('0x'||substr(md5(x),1,15) AS BIGINT)`, which
    * lets every hash-based operator (dedup, MinHash, LSH) be oracle-checked
    * exactly. md5 here is a *partitioner/fingerprint*, not security.
    */
  def hash64(c: Column): Column = conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** 31-bit variant for modular MinHash arithmetic that cannot overflow a
    * signed 64-bit product: h ∈ [0, 2^31-1); a*h+b stays < 2^62.
    */
  def hash31(c: Column): Column = pmod(hash64(c), lit(IntModulus))

  /** Prime modulus for the universal-hash family (2^31 - 1, Mersenne). */
  val IntModulus: Long = 2147483647L

  /** Exact partition-order-independent sum of a double column: cast each value
    * to DECIMAL(28,6) (exact for inputs with ≤6 meaningful decimals), sum
    * exactly, cast back to double (a single deterministic rounding).
    */
  def dsum(c: Column): Column = sum(c.cast("decimal(28,6)")).cast("double")

  /** Deterministic mean built from [[dsum]]: exact-sum → double → one IEEE
    * division. Identical bytes in Spark and DuckDB. */
  def davg(c: Column): Column = dsum(c) / count(lit(1))

  /** The pinned 2-dp HALF-EVEN mean (reference `round(mean, 2)` semantics):
    * exact decimal sum, decimal division, bround while still decimal — never
    * round the double (engines disagree on binary-vs-shortest-repr ties).
    *
    * PRECONDITION (ENFORCED): Spark's decimal division keeps scale 6 here,
    * so the pre-bround value is the true mean rounded at the 6th decimal.
    * For ≤2-dp inputs that intermediate rounding cannot cross a .xx5
    * boundary while groups stay under ~10⁷ rows (mean granularity
    * 1/(100·n) > 5e-7). Beyond [[Avg2GroupLimit]] the group RAISES instead
    * of silently diverging from the exact half-even oracle — at that size
    * compute the mean via the exact integer formulation (see the
    * q_daily_agg_rounded ORACLE's HUGEINT floor/mod form); Spark decimal
    * ops alone cannot hold the exact rational. The guard is one comparison
    * per GROUP (not per row) — free at any scale. */
  val Avg2GroupLimit: Long = 10000000L

  def avg2(c: Column): Column = {
    val n = count(lit(1))
    when(n <= Avg2GroupLimit,
        bround(sum(c.cast("decimal(28,6)")) / n, 2).cast("double"))
      .otherwise(raise_error(lit(
        s"avg2: group exceeds $Avg2GroupLimit rows — the scale-6 decimal mean is no " +
          "longer exact at 2dp half-even; use the exact integer formulation")).cast("double"))
  }

  /** Whitespace tokenization shared by the text operators — `trim` first so
    * leading blanks don't produce an empty token (DuckDB's
    * regexp_split_to_array(trim(x),'\s+') matches exactly). */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

}
