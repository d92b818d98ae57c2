package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** `e_bpe_train` claims: the distributed count→argmax→string-rewrite chain
  * equals the CLASSIC sequential BPE trainer (greedy left-to-right
  * non-overlapping merge scan per word, frequency-weighted pair counts,
  * (n DESC, lhs, rhs) tie-break) — the string-replace device must be
  * indistinguishable from the per-word scan it replaces — and its first
  * round is exactly `e_bpe_merges`' top-ranked pair. Symbols are code
  * points and ties break in the engines' UTF-8 byte order, also past the
  * BMP; an exhausted vocabulary ends the merge table early. */
class BpeTrainSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val dir = "/root/testdata/sf0.001"

  /** Sequential greedy merge: one left-to-right pass, non-overlapping. */
  private def applyMerge(s: Vector[String], l: String, r: String): Vector[String] = {
    val buf = Vector.newBuilder[String]
    var i = 0
    while (i < s.length) {
      if (i + 1 < s.length && s(i) == l && s(i + 1) == r) { buf += (l + r); i += 2 }
      else { buf += s(i); i += 1 }
    }
    buf.result()
  }

  /** One symbol per code point, as the engines' `split(w, "")`. */
  private def codePoints(w: String): Vector[String] =
    w.codePoints().toArray.toVector.map(cp => new String(Character.toChars(cp)))

  /** UTF-8 byte order, which is code point order — the engines' string
    * order (UTF-16 `compareTo` differs past the BMP). */
  private val engineOrder: Ordering[String] =
    Ordering.by[String, Vector[Int]](_.codePoints().toArray.toVector)(
      Ordering.Implicits.seqOrdering[Vector, Int])

  private def localTrain(rounds: Int,
      corpus: String = dir): Seq[(Int, String, String, Long)] = {
    val words = spark.read.parquet(s"$corpus/documents.parquet")
      .select("text").collect().map(_.getString(0))
      .flatMap(_.trim.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, xs) => w -> xs.length.toLong }
    var vocab: Map[Vector[String], Long] = words.groupBy(w => codePoints(w._1))
      .map { case (syms, ws) => syms -> ws.values.sum }
    (1 to rounds).map { it =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, wc) =>
        syms.sliding(2).filter(_.size == 2).foreach { p =>
          counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + wc
        }
      }
      val ((l, r), n) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }(
        Ordering.Tuple3(Ordering.Long, engineOrder, engineOrder))
      vocab = vocab.toSeq.map { case (syms, wc) => (applyMerge(syms, l, r), wc) }
        .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).sum }
      (it, l, r, n)
    }
  }

  test("matches the sequential BPE trainer round for round") {
    import spark.implicits._
    val got = ExtQueries.bpeTrain(spark, dir)
      .as[(Int, String, String, Long)].collect().toSeq
    spark.catalog.clearCache()
    val want = localTrain(ExtQueries.BpeTrainRounds)
    // an ordered Seq: the merge table is read in `iter` order as it is
    assert(got == want, s"distributed chain diverged:\n got=$got\nwant=$want")
    // non-vacuous: by round 6 at least one merge must build on an earlier
    // merged symbol (a multi-char lhs or rhs), or the chain never chained
    assert(got.exists { case (_, l, r, _) => l.length > 1 || r.length > 1 },
      "no merge consumed a previously merged symbol — chain is vacuous")
  }

  test("encoder serves the trained rules: local replay of the merge table") {
    import spark.implicits._
    val enc = ExtQueries.bpeEncode(spark, dir)
      .as[(Long, Long, Long, Double)].collect()
    spark.catalog.clearCache()
    val rules = localTrain(ExtQueries.BpeTrainRounds).map(m => (m._2, m._3))
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val want = docs.map { case (id, t) =>
      val words = t.trim.split("\\s+").filter(_.nonEmpty)
      val nBpe = words.map { w =>
        var syms = codePoints(w)
        rules.foreach { case (l, r) => syms = applyMerge(syms, l, r) }
        syms.length.toLong
      }.sum
      (id, words.length.toLong, nBpe)
    }.filter(_._2 > 0).sortBy(_._1)
    assert(enc.map(e => (e._1, e._2, e._3)).toSeq == want.toSeq)
    enc.foreach(e => assert(e._4 == e._3.toDouble / e._2.toDouble))
    // non-vacuous: the learned merges must actually compress — some doc's
    // BPE count is strictly below its character count
    val chars = docs.toMap
    assert(enc.exists { e =>
      e._3 < chars(e._1).trim.split("\\s+").filter(_.nonEmpty).map(_.length.toLong).sum })
  }

  test("round 1 is e_bpe_merges' top-ranked pair") {
    import spark.implicits._
    // the table comes back in `iter` order, unsorted by the reader
    val first = ExtQueries.bpeTrain(spark, dir)
      .as[(Int, String, String, Long)].collect().head
    spark.catalog.clearCache()
    val top = ExtQueries.bpeMerges(spark, dir)
      .as[(String, Long)].collect().head
    spark.catalog.clearCache()
    assert(first._2 + first._3 == top._1 && first._4 == top._2)
  }

  private def corpus(texts: String*): String = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-bpe").toString
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .write.parquet(s"$tmp/documents.parquet")
    tmp
  }

  private def train(corpusDir: String, rounds: Int): Seq[(Int, String, String, Long)] = {
    import spark.implicits._
    ExtQueries.bpeTrainRounds(spark, corpusDir, rounds)
      .as[(Int, String, String, Long)].collect().toSeq
  }

  test("an exhausted vocabulary ends the merge table at its last pair") {
    // round 1 merges "ab"; then every word is one symbol and no pair is left
    assert(train(corpus("ab ab c"), 3) == Seq((1, "a", "b", 2L)))
  }

  test("ties break in engine (UTF-8) order; symbols are code points") {
    val tmp = corpus("ｚb 😀b")
    // U+FF5A sorts before U+1F600 in UTF-8 bytes, but after its UTF-16
    // high surrogate: a String.compareTo trainer would pick the emoji
    assert("ｚ".compareTo("😀") > 0 && engineOrder.lt("ｚ", "😀"))
    assert(train(tmp, 1) == Seq((1, "ｚ", "b", 1L)))
    // the emoji is ONE symbol: round 2 merges it whole, then nothing is left
    val want = Seq((1, "ｚ", "b", 1L), (2, "😀", "b", 1L))
    assert(train(tmp, 3) == want)
    assert(localTrain(2, tmp) == want)
  }
}
