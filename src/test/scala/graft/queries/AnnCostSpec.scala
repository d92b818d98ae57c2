package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkFixture

/** `e_ann_cost` — the (recall, bytes) frontier of the unfiltered ANN
  * families. Recomputes every analytic candidate count from a sequential
  * replay of the indexes' own metadata (band buckets, cell sizes) and the
  * hit totals from the composed recall harness, then pins the frontier
  * facts that make the table actionable: bucketed/cell-bounded families
  * score fewer pairs than exact, compressed families score narrower
  * bytes, and refined composites pay exactly their shortlist on top. */
class AnnCostSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val dir = "/root/testdata/sf0.001"

  private def norm(v: Array[Float]): Double =
    math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
  private def dot(a: Array[Float], b: Array[Float]): Double =
    a.zip(b).foldLeft(0.0)((acc, p) => acc + p._1.toDouble * p._2.toDouble)

  /** The HyperplaneBandsSpec reference fold, over float32 input. */
  private def bandsOf(v: Array[Float]): Array[Long] = {
    def coef(p: Int, d: Int): Double =
      ((p * 64L + d) * 2654435761L % 2147483648L).toDouble / 2.147483648e9 - 0.5
    val proj = Array.tabulate(ExtQueries.AnnPlanes) { p =>
      v.indices.foldLeft(0.0)((acc, d) => acc + coef(p, d) * v(d).toDouble)
    }
    val bits = ExtQueries.AnnBandBits
    Array.tabulate(ExtQueries.AnnBands) { b =>
      (0 until bits).foldLeft(0L)((bv, r) =>
        if (proj(b * bits + r) > 0) bv | (1L << r) else bv)
    }
  }

  test("frontier rows equal the sequential metadata replay and the recall harness") {
    val rows = RefQueries.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val n = rows.length.toLong
    val queries = rows.filter(_._1 < 8)
    val nQ = queries.length.toLong

    // LSH: distinct band-bucket collisions
    val banded = rows.map { case (id, e) => (id, bandsOf(e)) }
    val byBucket = banded.flatMap { case (id, bvs) =>
      bvs.zipWithIndex.map { case (bv, b) => ((b, bv), id) }
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val lshCand = queries.map(_._1).map { qid =>
      banded.find(_._1 == qid).get._2.zipWithIndex.flatMap { case (bv, b) =>
        byBucket((b, bv)).filter(_ != qid)
      }.distinct.length.toLong
    }.sum

    // cells: assignment + per-query probe order
    val cents = rows.filter(_._1 < ExtQueries.IvfCells)
      .map { case (id, e) => (id, e, norm(e)) }
    def cellOrder(e: Array[Float]): Seq[Long] = {
      val nrm = norm(e)
      cents.map { case (cid, ce, nc) => (cid, dot(e, ce) / (nrm * nc)) }
        .sortBy { case (cid, s) => (-s, cid) }.map(_._1).toSeq
    }
    val cellSize = rows.map { case (_, e) => cellOrder(e).head }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    var s1 = 0L; var s12 = 0L; var pqShort = 0L
    queries.foreach { case (_, qe) =>
      val order = cellOrder(qe)
      val c1 = cellSize.getOrElse(order.head, 0L)
      s1 += c1
      s12 += c1 + cellSize.getOrElse(order(1), 0L)
      pqShort += math.min(ExtQueries.IvfPqRerankR.toLong, c1 - 1)
    }

    // hit totals from the composed harness
    val ar = ExtQueries.annRecall(spark, dir).collect()
    spark.catalog.clearCache()
    def tot(c: String): Long = ar.map(_.getAs[Long](c)).sum
    val tExact = tot("n_exact")

    val all = nQ * (n - 1)
    val full = ExtQueries.AnnCostBytesFull
    // one byte-sized code id per subspace, from the PQ geometry itself: the
    // cost constant must not be its own expectation
    val (bSq, bPq) = (ExtQueries.AnnCostBytesSq, ExtQueries.PqSubspaces.toLong)
    val sqrFull = nQ * math.min(ExtQueries.SqRerankR.toLong, n - 1)
    val want = Map(
      "exact" -> ((0L, 0L, all, tExact)),
      "lsh" -> ((0L, 0L, lshCand, tot("n_lsh"))),
      "ivf" -> ((0L, 0L, s1 - nQ, tot("n_ivf"))),
      "ivf2" -> ((0L, 0L, s12 - nQ, tot("n_ivf2"))),
      "pq" -> ((all, bPq, 0L, tot("n_pq"))),
      "sq" -> ((all, bSq, 0L, tot("n_sq"))),
      "sqr" -> ((all, bSq, sqrFull, tot("n_sqr"))),
      "ivfpq" -> ((s1 - nQ, bPq, 0L, tot("n_ivfpq"))),
      "ivfpqr" -> ((s1 - nQ, bPq, pqShort, tot("n_ivfpqr"))))

    val got = ExtQueries.annCost(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))).toMap
    spark.catalog.clearCache()

    assert(got.keySet == want.keySet)
    got.foreach { case (fam, (nCode, bpc, nFull, bytes, nHit, recall)) =>
      val (wCode, wBpc, wFull, wHit) = want(fam)
      assert((nCode, bpc, nFull) == ((wCode, wBpc, wFull)), s"$fam: work counts")
      assert(bytes == nCode * bpc + nFull * full, s"$fam: bytes identity")
      assert(nHit == wHit, s"$fam: hit total must compose the recall harness")
      assert(recall == nHit.toDouble / tExact.toDouble, s"$fam: recall")
    }
    // frontier facts
    assert(got("exact")._6 == 1.0)
    assert(got("lsh")._3 < all, "bucketing must cut the candidate count")
    assert(got("ivf")._3 < all && got("ivf2")._3 <= 2 * got("ivf")._3 + nQ)
    assert(got("sq")._4 < got("exact")._4, "SQ must cut bytes 4x")
    assert(got("ivfpq")._4 < got("sq")._4, "IVF-PQ scores narrowest")
    assert(got("sqr")._4 == got("sq")._4 + sqrFull * full,
      "refine pays exactly its shortlist on top")
    assert(got("ivfpqr")._4 == got("ivfpq")._4 + pqShort * full)
  }
}
