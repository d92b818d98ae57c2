package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** `e_feature_hash` / `e_dedup_sweep`. The hashed vectors are replayed
  * sequentially (same md5-based token hash, same bucket/sign rule) and
  * pinned exactly; the sweep must be monotone non-increasing in t and
  * reproduce the detector's own pair counts at each threshold. */
class FeatureHashSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val dir = "/root/testdata/sf0.001"
  private val P = graft.functions.GraftFunctions.IntModulus
  private val D = ExtQueries.FhDim

  private def h31(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(15), 16) % P
  }

  test("hashed vectors equal the sequential replay; vector mass equals token count") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val want = docs.flatMap { case (id, t) =>
      val hs = t.trim.split("\\s+").map(h31)
      (0L until D).map { b =>
        (id, b) -> hs.map(h =>
          if (h % D == b) ((h / D) % 2) * 2 - 1 else 0L).sum
      }
    }.toMap
    val got = ExtQueries.featureHash(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == want)
    // |v_b| can cancel, but Σ_b |v_b| ≤ n_tokens with equality iff no
    // bucket collision cancels — spot-check the upper bound holds
    for ((id, t) <- docs) {
      val mass = (0L until D).map(b => math.abs(got((id, b)))).sum
      assert(mass <= t.trim.split("\\s+").length)
    }
  }

  test("a null-text document gets FhDim zero rows, as in the oracle") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-fh-null").toString
    Seq((1L, Option("alpha beta alpha")), (2L, Option.empty[String])).toDF("doc_id", "text")
      .write.parquet(s"$tmp/documents.parquet")
    val got = ExtQueries.featureHash(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.filter(_._1 == 2L).toSeq == (0L until D).map(b => (2L, b, 0L)))
    assert(got.count(_._1 == 1L) == D)
  }

  test("dedup sweep is monotone and matches the detector's own pair counts") {
    val pairs = ExtQueries.minhashDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong, r.getInt(3).toLong))
    spark.catalog.clearCache()
    val got = ExtQueries.dedupSweep(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    spark.catalog.clearCache()
    assert(got.map(_._1).toSeq == ExtQueries.SweepThresholds)
    for ((t, nPairs, nDocs) <- got) {
      val kept = pairs.filter { case (_, _, i, u) => 100 * i >= t * u }
      assert(nPairs == kept.length, s"t=$t")
      assert(nDocs == kept.flatMap(p => Seq(p._1, p._2)).distinct.length, s"t=$t")
    }
    val ps = got.map(_._2)
    assert(ps.zip(ps.tail).forall { case (a, b) => a >= b },
      "pair counts must be non-increasing in the threshold")
  }
}
