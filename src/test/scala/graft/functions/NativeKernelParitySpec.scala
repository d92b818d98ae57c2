package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-18 kernel parity: every native Catalyst kernel introduced to
  * replace an interpreted higher-order-function fold must be BIT-IDENTICAL
  * to the HOF formulation it replaced — same fold order, same casts, same
  * null semantics. Each test evaluates both formulations side by side over
  * a randomized-but-seeded frame (plus the edge rows: empty arrays, empty
  * strings, multi-byte code points, length mismatches, null elements) and
  * asserts zero differing rows. */
class NativeKernelParitySpec extends AnyFunSuite {
  private val spark = graft.SparkFixture.spark
  import spark.implicits._

  private def seqSum(arr: org.apache.spark.sql.Column) =
    aggregate(arr, lit(0.0), (acc, x) => acc + x)

  /** Malformed UTF-8 rows (stray continuation bytes at the start, middle
    * and end; a byte that cannot lead a sequence): Spark counts each such
    * byte as one code point, and the string kernels must split the same. */
  private def malformed(firstId: Long, name: String) =
    Seq("8061626364", "6162806364", "61626380", "61ff626364", "80616263" * 20)
      .zipWithIndex.map { case (h, i) => (firstId + i, h) }.toDF("id", "hex")
      .select(col("id"), unhex(col("hex")).cast("string").as(name))

  private val rnd = new scala.util.Random(181181L)
  private def fvec(n: Int): Seq[Float] = Seq.fill(n)(rnd.nextFloat() * 2 - 1)

  test("vec_dot / vec_dist_sq match the zip_with fold bit-for-bit, incl. null rules") {
    val rows = (1 to 200).map { i =>
      (i.toLong, fvec(64), fvec(64))
    } ++ Seq(
      (9001L, fvec(3), fvec(5)),          // length mismatch -> NULL
      (9002L, Seq.empty[Float], Seq.empty[Float]), // empty -> 0.0
      (9003L, fvec(4), null)              // null side -> NULL
    )
    val df = rows.toDF("id", "a", "b")
    val hofDot = seqSum(zip_with(col("a"), col("b"),
      (x, y) => x.cast("double") * y.cast("double")))
    val hofD2 = seqSum(zip_with(col("a"), col("b"),
      (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))))
    val diff = df.select(col("id"),
        hofDot.as("hd"), GraftFunctions.vecDot(col("a"), col("b")).as("nd"),
        hofD2.as("hq"), GraftFunctions.vecDistSq(col("a"), col("b")).as("nq"))
      .filter(!(col("hd") <=> col("nd")) || !(col("hq") <=> col("nq")))
    assert(diff.count() === 0)
  }

  test("vec_hamming matches the bit_count xor fold, incl. null rules") {
    val rows = (1 to 100).map { i =>
      (i.toLong, Seq.fill(4)(rnd.nextLong()), Seq.fill(4)(rnd.nextLong()))
    } ++ Seq((9001L, Seq.fill(2)(rnd.nextLong()), Seq.fill(3)(rnd.nextLong())))
    val df = rows.toDF("id", "a", "b")
    val hof = aggregate(zip_with(col("a"), col("b"),
      (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")), lit(0L), (s, v) => s + v)
    val diff = df.select(col("id"), hof.as("h"),
        GraftFunctions.vecHamming(col("a"), col("b")).as("n"))
      .filter(!(col("h") <=> col("n")))
    assert(diff.count() === 0)
  }

  test("hash31_tokens matches per-token md5 hash31; poly_fold matches the rolling fold") {
    val words = Seq("alpha", "Beta", "γράμμα", "словцо", "x", "", "123", "emoji🙂")
    val rows = (1 to 120).map { i =>
      (i.toLong, Seq.fill(1 + rnd.nextInt(30))(words(rnd.nextInt(words.size))))
    } :+ (9001L, Seq.empty[String])
    val df = rows.toDF("id", "tk")
    val hof = transform(col("tk"), t => GraftFunctions.hash31(t))
    val hofFold = aggregate(hof, lit(0L),
      (acc, h) => (acc * lit(1000003L) + h) % lit(GraftFunctions.IntModulus))
    val diff = df.select(col("id"), hof.as("h"),
        GraftFunctions.hash31Tokens(col("tk")).as("n"),
        hofFold.as("hf"),
        GraftFunctions.polyFold(GraftFunctions.hash31Tokens(col("tk")),
          1000003L, GraftFunctions.IntModulus).as("nf"))
      .filter(!(col("h") <=> col("n")) || !(col("hf") <=> col("nf")))
    assert(diff.count() === 0)
  }

  test("shingle_poly matches the ShingleC element_at chain") {
    val coeffs = Seq(911382323L, 972663749L, 31L)
    val m = GraftFunctions.IntModulus
    val rows = (1 to 120).map { i =>
      (i.toLong, Seq.fill(4 + rnd.nextInt(40))(rnd.nextLong().abs % m))
    }
    val df = rows.toDF("id", "th")
    val hof = transform(sequence(lit(0), size(col("th")) - 3), i =>
      coeffs.zipWithIndex.map { case (c, j) =>
        element_at(col("th"), i + j + 1) * lit(c) % lit(m)
      }.reduce(_ + _) % lit(m))
    val diff = df.select(col("id"), hof.as("h"),
        GraftFunctions.shinglePoly(col("th"), coeffs).as("n"))
      .filter(!(col("h") <=> col("n")))
    assert(diff.count() === 0)
  }

  test("window_hash64 matches hash64(array_join(slice(...))) on both grids") {
    val words = Seq("aa", "b", "γγ", "dd word", "", "zz🙂")
    val rows = (1 to 120).map { i =>
      (i.toLong, Seq.fill(1 + rnd.nextInt(25))(words(rnd.nextInt(words.size))))
    }
    val df = rows.toDF("id", "tk")
    val chunkHof = transform(
      sequence(lit(0L), floor((size(col("tk")) - 1) / lit(8.0)).cast("long")),
      i => GraftFunctions.hash64(array_join(slice(col("tk"), i * 8 + 1, lit(8)), " ")))
    val spanHof = transform(sequence(lit(0), size(col("tk")) - 4),
      i => GraftFunctions.hash64(array_join(slice(col("tk"), i + 1, lit(4)), " ")))
    val diff = df.select(col("id"),
        chunkHof.as("ch"), GraftFunctions.windowHash64(col("tk"), 8, 8, clip = true).as("cn"),
        when(size(col("tk")) >= 4, spanHof).as("sh"),
        when(size(col("tk")) >= 4,
          GraftFunctions.windowHash64(col("tk"), 4, 1, clip = false)).as("sn"))
      .filter(!(col("ch") <=> col("cn")) || !(col("sh") <=> col("sn")))
    assert(diff.count() === 0)
  }

  test("feature_hash_buckets matches the per-bucket aggregate fold") {
    val m = GraftFunctions.IntModulus
    val rows = (1 to 120).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(50))(rnd.nextLong().abs % m))
    }
    val df = rows.toDF("id", "th")
    val sign = (h: org.apache.spark.sql.Column) => pmod(shiftright(h, 4), lit(2L)) * 2 - 1
    val hof = transform(sequence(lit(0L), lit(15L)), bucket =>
      aggregate(col("th"), lit(0L), (acc, h) =>
        acc + when(pmod(h, lit(16L)) === bucket, sign(h)).otherwise(lit(0L))))
    val diff = df.select(col("id"), hof.as("h"),
        GraftFunctions.featureHashBuckets(col("th"), 16).as("n"))
      .filter(!(col("h") <=> col("n")))
    assert(diff.count() === 0)
  }

  test("bigram_hashes matches the per-position hash64 struct transform") {
    val words = Seq("alpha", "Beta", "γράμμα", "словцо", "x", "123", "emoji🙂")
    val rows = (1 to 100).map { i =>
      (i.toLong, Seq.fill(2 + rnd.nextInt(25))(words(rnd.nextInt(words.size))))
    }
    val df = rows.toDF("id", "tk")
    val hof = transform(sequence(lit(0), size(col("tk")) - 2), i => struct(
      GraftFunctions.hash64(element_at(col("tk"), i + 1)).as("hp"),
      GraftFunctions.hash64(concat_ws("\u001f", element_at(col("tk"), i + 1),
        element_at(col("tk"), i + 2))).as("hb")))
    val diff = df.select(col("id"), hof.as("h"),
        GraftFunctions.bigramHashes(col("tk")).as("n"))
      .filter(!(col("h").cast("array<struct<hp:long,hb:long>>") <=> col("n")))
    assert(diff.count() === 0)
  }

  test("char_qgrams matches the positional substring transform, incl. multi-byte text") {
    val pieces = Seq("abc", "γδε", "слв", "🙂xy", " z ")
    val rows = (1 to 100).map { i =>
      (i.toLong, Seq.fill(1 + rnd.nextInt(15))(pieces(rnd.nextInt(pieces.size))).mkString)
    }
    val df = rows.toDF("id", "k").union(malformed(9001L, "k"))
      .withColumn("len", length(col("k")))
    val hof = expr("transform(sequence(1, len - 2), i -> substring(k, i, 3))")
    val diff = df.filter(col("len") >= 3)
      .select(col("id"), hof.as("h"), GraftFunctions.charQGrams(col("k"), 3).as("n"))
      .filter(!(col("h") <=> col("n")))
    assert(diff.count() === 0)
  }

  test("phash_sim matches the cell-grid + band-fold formulation, incl. multi-byte text") {
    val pieces = Seq("plain ascii text ", "κείμενο ", "слова ", "🙂🙃", "x", "")
    val rows = (1 to 80).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(40))(pieces(rnd.nextInt(pieces.size))).mkString)
    } :+ (9001L, "")
    val df = rows.toDF("id", "ptxt").union(malformed(9101L, "ptxt"))
      .withColumn("n", length(col("ptxt")).cast("long"))
    def cdiv(x: org.apache.spark.sql.Column) =
      floor(x.cast("double") / lit(64.0)).cast("long")
    val cells = transform(sequence(lit(0L), lit(63L)), i => {
      val start = cdiv(i * col("n")) + lit(1L)
      val clen = cdiv((i + lit(1L)) * col("n")) - cdiv(i * col("n"))
      pmod(GraftFunctions.hash64(concat(lit("ph:"), i.cast("string"), lit(":"),
        col("ptxt").substr(start.cast("int"), clen.cast("int")))), lit(1L << 32))
    })
    val bandVals = transform(sequence(lit(0), lit(3)), b =>
      aggregate(sequence(lit(15), lit(0), lit(-1)), lit(0L), (acc, j) =>
        acc * lit(2L) + when(
          element_at(col("cl"), b * lit(16) + j + lit(1)) * lit(64L) > col("total"),
          lit(1L)).otherwise(lit(0L))))
    val hof = df.select(col("id"), cells.as("cl"))
      .withColumn("total", aggregate(col("cl"), lit(0L), (a, x) => a + x))
      .select(col("id"), bandVals.as("h"))
    val nat = df.select(col("id"),
      GraftFunctions.phashSim(col("ptxt"), 64, 4, 1L << 32).as("n"))
    val diff = hof.join(nat, Seq("id")).filter(!(col("h") <=> col("n")))
    assert(diff.count() === 0)
  }
}
