package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-token hash kernels for the shingle/text substrate (round 18,
  * guide §4).
  *
  * `transform(tk, t => hash31(t))` evaluates the md5 → hex → conv → pmod
  * column stack INTERPRETED once per token (higher-order functions fall
  * out of whole-stage codegen and bind a lambda variable per element),
  * which put millions of boxed md5 evaluations on the scan path of every
  * shingle-based dedup key. These expressions run the same arithmetic as
  * one JIT-compiled loop per row.
  *
  * EXACT-SEMANTICS CONTRACT: `hash31(t)` is
  * `pmod(conv(substring(md5(utf8(t)), 1, 15), 16, 10), 2147483647)`.
  * The first 15 hex chars of the digest are its first 60 bits, so the
  * value is bits 0..59 of the raw digest (big-endian) mod 2³¹−1 —
  * reproduced here with bit arithmetic on the digest bytes (no hex
  * string). A NULL token hashes to a NULL element (the `transform`
  * behavior); the fixtures contain none.
  */
object TokenHash {

  private val md = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** First 60 bits of md5(bytes) as a non-negative long — identical to
    * `conv(substring(md5(x), 1, 15), 16, 10)`. */
  def md5First60(bytes: Array[Byte]): Long = {
    val d = md.get()
    d.reset()
    val dig = d.digest(bytes)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (dig(i) & 0xffL); i += 1 }
    (v << 4) | ((dig(7) >> 4) & 0xfL)
  }

  val IntModulus: Long = GraftFunctions.IntModulus

  /** `array<string>` → `array<long>` of per-token hash31 values. */
  def hash31All(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        out(i) = java.lang.Long.valueOf(md5First60(s.getBytes) % IntModulus)
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** True iff the array has no null element (lengths are the caller's
    * business here — unary kernels). */
  def noNulls(a: ArrayData): Boolean = {
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return false
      i += 1
    }
    true
  }

  /** All hashing-trick bucket sums in ONE pass: bucket(h) = h mod dim,
    * sign(h) = ((h >> 4) mod 2)·2 − 1 — identical to the per-bucket
    * `aggregate` fold it replaces (which walked the token-hash array once
    * PER BUCKET). Null hashes contribute 0 (the `when`'s otherwise),
    * exactly as before. */
  def featureHashAll(th: ArrayData, dim: Int): ArrayData = {
    val out = new Array[Long](dim)
    val n = th.numElements()
    var i = 0
    while (i < n) {
      if (!th.isNullAt(i)) {
        val h = th.getLong(i)
        val b = (h % dim).toInt
        out(b) += ((h >> 4) % 2) * 2 - 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Sequential polynomial rolling fold acc ← (acc·b + h) mod m over a
    * token-hash array — identical to the interpreted `aggregate` fold.
    * Call only when [[noNulls]] (a null hash poisons the fold → NULL). */
  def polyFold(th: ArrayData, b: Long, m: Long): Long = {
    val n = th.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      acc = (acc * b + th.getLong(i)) % m
      i += 1
    }
    acc
  }

  private val joinBuf = new ThreadLocal[java.io.ByteArrayOutputStream] {
    override def initialValue(): java.io.ByteArrayOutputStream =
      new java.io.ByteArrayOutputStream(256)
  }

  /** Per-window [[md5First60]] hashes of space-joined token windows — one
    * codegen'd pass replacing `transform(sequence(…), i =>
    * hash64(array_join(slice(tk, …), " ")))`, which re-evaluated the
    * interpreted slice/join/md5 column stack per window. Exactness: the
    * joined bytes are the UTF-8 of `array_join(slice, " ")` (null tokens
    * skipped, single 0x20 between appended tokens — the fixtures have no
    * null tokens), and the hash is the identical first-60-bits rule.
    *
    * `clip = true` is the chunk grid: starts 0, stride, … with
    * ⌊(n−1)/stride⌋+1 windows (n ≥ 1 — a tokenized text is never empty),
    * each clipped to the array end. `clip = false` is the sliding
    * full-window grid: starts 0..n−win (callers guard n ≥ win; n < win
    * yields zero windows). */
  def windowHash64(tk: ArrayData, win: Int, stride: Int, clip: Boolean): ArrayData = {
    val n = tk.numElements()
    val m =
      if (clip) (if (n <= 1) 1 else (n - 1) / stride + 1)
      else if (n >= win) n - win + 1
      else 0
    val out = new Array[Long](m)
    val buf = joinBuf.get()
    var w = 0
    while (w < m) {
      val start = w * stride
      val end = math.min(start + win, n)
      buf.reset()
      var first = true
      var j = start
      while (j < end) {
        if (!tk.isNullAt(j)) {
          if (!first) buf.write(' ')
          first = false
          val b = tk.getUTF8String(j).getBytes
          buf.write(b, 0, b.length)
        }
        j += 1
      }
      out(w) = md5First60(buf.toByteArray)
      w += 1
    }
    new GenericArrayData(out)
  }

  /** All (h_prev, h_bigram) hash pairs of a token array in one pass —
    * replaces the per-position interpreted `struct(hash64(tok_i),
    * hash64(concat_ws("", tok_i, tok_{i+1})))` transform. Exactness:
    * hp = [[md5First60]] of token i's UTF-8 bytes; hb = the same hash of
    * token i's bytes + 0x1f + token i+1's bytes (concat_ws of non-null
    * strings). Callers guard n ≥ 2. A null token (never produced by the
    * whitespace tokenizer) yields a null pair element. */
  def bigramHashes(tk: ArrayData): ArrayData = {
    val n = tk.numElements()
    val m = if (n >= 2) n - 1 else 0
    val out = new Array[Any](m)
    val buf = joinBuf.get()
    var i = 0
    var prevBytes: Array[Byte] =
      if (n > 0 && !tk.isNullAt(0)) tk.getUTF8String(0).getBytes else null
    while (i < m) {
      val curBytes =
        if (!tk.isNullAt(i + 1)) tk.getUTF8String(i + 1).getBytes else null
      if (prevBytes != null && curBytes != null) {
        buf.reset()
        buf.write(prevBytes, 0, prevBytes.length)
        buf.write(0x1f)
        buf.write(curBytes, 0, curBytes.length)
        out(i) = org.apache.spark.sql.catalyst.InternalRow(
          md5First60(prevBytes), md5First60(buf.toByteArray))
      }
      prevBytes = curBytes
      i += 1
    }
    new GenericArrayData(out)
  }

  /** All positional q-grams of a string in one pass — replaces
    * `transform(sequence(1, len−q+1), i -> substring(k, i, q))`, which
    * re-ran the interpreted substring stack per position. Code-point
    * boundaries (Spark `length`/`substring` semantics, walked with Spark's
    * own lead-byte table, so malformed UTF-8 splits as Spark splits it); for
    * len < q the sequence(1, len−q+1) formulation still emits windows for
    * the descending sequence — callers guard len ≥ q (enforced upstream by
    * the EditMinKeyLen filter), so this kernel emits max(0, len−q+1)
    * grams. */
  def charQGrams(s: UTF8String, q: Int): ArrayData = {
    val bytes = s.getBytes
    val n = s.numChars()
    val cp = new Array[Int](n + 1)
    var i = 0
    var off = 0
    while (i < n) {
      cp(i) = off
      off += UTF8String.numBytesForFirstByte(bytes(off))
      i += 1
    }
    cp(n) = bytes.length
    val m = if (n >= q) n - q + 1 else 0
    val out = new Array[Any](m)
    i = 0
    while (i < m) {
      out(i) = UTF8String.fromBytes(
        java.util.Arrays.copyOfRange(bytes, cp(i), cp(i + q)))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The perceptual-hash band signature of [[phashSim]]'s scaladoc in one
    * pass — replaces the per-cell interpreted substr/concat/md5 HOF plus
    * the per-band interpreted bit fold. Exactness contract, mirroring the
    * Column formulation cell by cell:
    *   - the text splits at CODE-POINT boundaries (Spark `length`/`substr`
    *     semantics): cell i covers code points [⌊i·n/cells⌋,
    *     ⌊(i+1)·n/cells⌋) — i·n < 2³⁷ makes the former double-division
    *     floor exactly integer division;
    *   - cell intensity = md5First60(utf8("ph:" + i + ":" + cellText))
    *     mod `mod` (concat-then-cast is byte concatenation of the ASCII
    *     prefix and the cell's UTF-8 bytes);
    *   - band b packs bits j = 0..bits−1 of cells b·bits+j with weight 2^j
    *     (the MSB-first acc·2+bit fold), bit = intensity·cells > Σ
    *     intensities. */
  def phashSim(ptxt: UTF8String, cells: Int, bands: Int, mod: Long): ArrayData = {
    val bytes = ptxt.getBytes
    val n = ptxt.numChars()
    // byte offset of each code-point boundary (one linear walk)
    val cp = new Array[Int](n + 1)
    var i = 0
    var off = 0
    while (i < n) {
      cp(i) = off
      off += UTF8String.numBytesForFirstByte(bytes(off))
      i += 1
    }
    cp(n) = bytes.length
    val buf = joinBuf.get()
    val intens = new Array[Long](cells)
    var total = 0L
    var c = 0
    while (c < cells) {
      val startCp = (c.toLong * n / cells).toInt
      val endCp = ((c + 1).toLong * n / cells).toInt
      buf.reset()
      val prefix = ("ph:" + c + ":").getBytes("UTF-8")
      buf.write(prefix, 0, prefix.length)
      buf.write(bytes, cp(startCp), cp(endCp) - cp(startCp))
      val v = md5First60(buf.toByteArray) % mod
      intens(c) = v
      total += v
      c += 1
    }
    val bits = cells / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = 0L
      var j = bits - 1
      while (j >= 0) {
        acc = acc * 2 + (if (intens(b * bits + j) * cells > total) 1L else 0L)
        j -= 1
      }
      out(b) = acc
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Polynomial k-gram hashes over a token-hash array: for each window
    * start i (0-based, i ≤ n−k), Σ_j (th[i+j]·c_j mod M) mod M — the
    * identical per-term-mod arithmetic of the HOF formulation. A NULL
    * token hash poisons exactly its windows (null element out). */
  def shinglePoly(th: ArrayData, coeffs: Array[Long]): ArrayData = {
    val n = th.numElements()
    val k = coeffs.length
    val m = if (n >= k) n - k + 1 else 0
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      var acc = 0L
      var ok = true
      var j = 0
      while (j < k && ok) {
        if (th.isNullAt(i + j)) ok = false
        else acc += th.getLong(i + j) * coeffs(j) % IntModulus
        j += 1
      }
      if (ok) out(i) = java.lang.Long.valueOf(acc % IntModulus)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Catalyst-native `hash31_tokens(tk)` — see [[TokenHash.hash31All]].
  * Built by [[GraftFunctions.hash31Tokens]]. */
case class Hash31Tokens(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "hash31_tokens"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hash31_tokens expects array<string>, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    TokenHash.hash31All(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenHash.hash31All($c)")

  override protected def withNewChildInternal(newChild: Expression): Hash31Tokens =
    copy(child = newChild)
}

/** Catalyst-native `shingle_poly(th, c0, …)` — see [[TokenHash.shinglePoly]].
  * Coefficients arrive as long literals at registration. */
case class ShinglePoly(child: Expression, coeffs: Seq[Long]) extends UnaryExpression {
  require(coeffs.nonEmpty, "shingle_poly: at least one coefficient")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "shingle_poly"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_poly expects array<long>, got $other")
  }

  @transient private lazy val coeffArr: Array[Long] = coeffs.toArray

  override def nullSafeEval(input: Any): Any =
    TokenHash.shinglePoly(input.asInstanceOf[ArrayData], coeffArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("shingleCoeffs", coeffArr, "long[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenHash.shinglePoly($c, $cRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): ShinglePoly =
    copy(child = newChild)
}

/** Catalyst-native `bigram_hashes(tk)` — see [[TokenHash.bigramHashes]]. */
case class BigramHashes(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("hp", LongType, nullable = true),
      org.apache.spark.sql.types.StructField("hb", LongType, nullable = true))),
    containsNull = true)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "bigram_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bigram_hashes expects array<string>, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    TokenHash.bigramHashes(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenHash.bigramHashes($c)")

  override protected def withNewChildInternal(newChild: Expression): BigramHashes =
    copy(child = newChild)
}

/** Catalyst-native `char_qgrams(s, q)` — see [[TokenHash.charQGrams]]. */
case class CharQGrams(child: Expression, q: Int) extends UnaryExpression {
  require(q >= 1, s"char_qgrams: q must be >= 1, got $q")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "char_qgrams"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"char_qgrams expects string, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    TokenHash.charQGrams(input.asInstanceOf[UTF8String], q)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenHash.charQGrams($c, $q)")

  override protected def withNewChildInternal(newChild: Expression): CharQGrams =
    copy(child = newChild)
}

/** Catalyst-native `phash_sim(ptxt, cells, bands, mod)` — the whole
  * perceptual-hash band signature in ONE pass (see
  * [[TokenHash.phashSim]]). */
case class PhashSim(child: Expression, cells: Int, bands: Int, mod: Long)
    extends UnaryExpression {
  require(cells >= 1 && bands >= 1 && cells % bands == 0,
    s"phash_sim: bands ($bands) must divide cells ($cells)")
  require(cells / bands <= 63,
    s"phash_sim: ${cells / bands} bits per band does not fit a long")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "phash_sim"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"phash_sim expects string, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    TokenHash.phashSim(input.asInstanceOf[UTF8String], cells, bands, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TokenHash.phashSim($c, $cells, $bands, ${mod}L)")

  override protected def withNewChildInternal(newChild: Expression): PhashSim =
    copy(child = newChild)
}

/** Catalyst-native `window_hash64(tk, win, stride, clip)` — see
  * [[TokenHash.windowHash64]]. */
case class WindowHash64(child: Expression, win: Int, stride: Int, clip: Boolean)
    extends UnaryExpression {
  require(win >= 1 && stride >= 1,
    s"window_hash64: win/stride must be >= 1, got $win/$stride")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "window_hash64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"window_hash64 expects array<string>, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    TokenHash.windowHash64(input.asInstanceOf[ArrayData], win, stride, clip)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TokenHash.windowHash64($c, $win, $stride, $clip)")

  override protected def withNewChildInternal(newChild: Expression): WindowHash64 =
    copy(child = newChild)
}

/** Catalyst-native `feature_hash_buckets(th, dim)` — see
  * [[TokenHash.featureHashAll]]. */
case class FeatureHashBuckets(child: Expression, dim: Int) extends UnaryExpression {
  require(dim >= 1, s"feature_hash_buckets: dim must be >= 1, got $dim")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "feature_hash_buckets"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"feature_hash_buckets expects array<long>, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    TokenHash.featureHashAll(input.asInstanceOf[ArrayData], dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenHash.featureHashAll($c, $dim)")

  override protected def withNewChildInternal(newChild: Expression): FeatureHashBuckets =
    copy(child = newChild)
}

/** Catalyst-native `poly_fold(th, b, m)` — see [[TokenHash.polyFold]];
  * NULL on a null element (the poisoned interpreted fold). */
case class PolyFold(child: Expression, b: Long, m: Long) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "poly_fold"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"poly_fold expects array<long>, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    if (!TokenHash.noNulls(arr)) null
    else TokenHash.polyFold(arr, b, m)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |if (graft.functions.TokenHash.noNulls($c)) {
         |  ${ev.value} = graft.functions.TokenHash.polyFold($c, ${b}L, ${m}L);
         |} else {
         |  ${ev.isNull} = true;
         |}
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): PolyFold =
    copy(child = newChild)
}
