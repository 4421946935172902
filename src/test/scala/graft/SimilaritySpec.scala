package graft

import org.apache.spark.sql.functions._

import graft.operators.{Multimodal, Similarity}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosineTopK ranks exact neighbors with id tie-breaks") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(1.0f, 0.01f)), // nearly parallel to probe
      (2L, Array(0.0f, 1.0f)), // orthogonal
      (3L, Array(-1.0f, 0.0f))) // opposite
      .toDF("vec_id", "embedding")
    val got = Similarity.cosineTopK(vecs, col("vec_id") === 0, 3)
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(got.map(_._3) == Seq(1L, 2L, 3L))
    assert(got.head._4 > 0.99 && got(1)._4 == 0.0 && got(2)._4 == -1.0)
  }

  test("lshAnn only pairs vectors within a bucket; parallel vectors share buckets") {
    val vecs = (0L until 8L).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0.2f, -0.3f, 0.5f) else Array(-0.7f, 0.9f, 0.1f, -0.4f)
      (i, base.map(_ * (1.0f + 0.001f * i)))
    }.toDF("vec_id", "embedding")
    val planes = Similarity.hyperplanes(spark, 4)
    val buckets = Similarity.lshBuckets(vecs, planes).cache()
    // scaling a vector never changes its hyperplane signs → 2 buckets exactly
    assert(buckets.select("bucket").distinct().count() == 2)
    val ann = Similarity.lshAnn(vecs, buckets, col("vec_id") < 2, 5)
    // probe 0 (even family) must only see even ids, probe 1 only odd
    val got = ann.select("probe_id", "cand_id")
      .as[(Long, Long)].collect()
    assert(got.forall { case (p, c) => (p % 2) == (c % 2) })
  }

  test("ivfAnn searches only the probe's nProbe inverted lists, exact cosines") {
    // Two well-separated directions: ids 0-3 cluster around +x, 4-7
    // around +y. Centroids = ids {0, 4} (one per cluster).
    val vecs = (0L until 8L).map { i =>
      val v =
        if (i < 4) Array(1.0f, 0.01f * i, 0.0f)
        else Array(0.01f * i, 1.0f, 0.0f)
      (i, v)
    }.toDF("vec_id", "embedding")
    val got = Similarity.ivfAnn(
      vecs, col("vec_id") === 1L, col("vec_id") === 0L || col("vec_id") === 4L,
      nProbe = 1, k = 5)
      .as[(Long, Int, Long, Double, Long)].collect().toSeq
    // probe 1's single probed list is centroid 0's → only +x-cluster
    // candidates, ranked by exact cosine
    assert(got.nonEmpty && got.forall(_._5 == 0L))
    assert(got.map(_._3).toSet.subsetOf(Set(0L, 2L, 3L)))
    assert(got.map(_._4) == got.map(_._4).sorted.reverse)
    // with nProbe = 2 both clusters are probed → all 7 others reachable
    val wide = Similarity.ivfAnn(
      vecs, col("vec_id") === 1L, col("vec_id") === 0L || col("vec_id") === 4L,
      nProbe = 2, k = 10)
      .as[(Long, Int, Long, Double, Long)].collect().toSeq
    assert(wide.map(_._3).toSet == Set(0L, 2L, 3L, 4L, 5L, 6L, 7L))
  }

  test("kmeans-trained IVF recovers well-separated clusters") {
    val vecs = (0L until 8L).map { i =>
      val v =
        if (i < 4) Array(1.0f, 0.01f * i, 0.0f)
        else Array(0.01f * i, 1.0f, 0.0f)
      (i, v)
    }.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(vecs, k = 2, seed = 7L)
    assert(cents.count() == 2)
    val got = Similarity.ivfAnnWith(vecs, col("vec_id") === 1L, cents, nProbe = 1, k = 5)
      .as[(Long, Int, Long, Double, Long)].collect().toSeq
    // probe 1 sits in the +x cluster; its single probed list holds
    // exactly the other +x vectors
    assert(got.map(_._3).toSet == Set(0L, 2L, 3L))
    assert(got.map(_._4) == got.map(_._4).sorted.reverse)
  }

  test("cosineDupPairs keeps only same-bucket pairs at/above the threshold") {
    // two near-parallel families; scaling never changes hyperplane signs
    val vecs = (0L until 6L).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0.2f, -0.3f, 0.5f) else Array(-0.7f, 0.9f, 0.1f, -0.4f)
      (i, base.map(_ * (1.0f + 0.001f * i)))
    }.toDF("vec_id", "embedding")
    val planes = Similarity.hyperplanes(spark, 4)
    val buckets = Similarity.lshBuckets(vecs, planes)
    val got = Similarity.cosineDupPairs(vecs, buckets, 0.99)
      .as[(Long, Long, Double)].collect().toSeq
    // near-parallel same-family pairs all survive; cross-family never blocks together
    assert(got.nonEmpty)
    assert(got.forall { case (a, b, c) => a < b && (a % 2) == (b % 2) && c >= 0.99 })
    assert(got.map(p => (p._1, p._2)).distinct.size == got.size)
    // an impossible threshold yields nothing
    assert(Similarity.cosineDupPairs(vecs, buckets, 1.1).count() == 0)
  }

  test("native quantized_dot matches the higher-order-function formulation") {
    graft.functions.GraftFunctions.register(spark)
    val df = Seq(
      (Array(1L, 2L, 3L), Array(4L, 5L, 6L)),
      (Array(-7L, 0L, 9L), Array(2L, 100L, -3L))).toDF("a", "b")
    val got = df.selectExpr("quantized_dot(a, b)").as[Long].collect().toSeq
    val want = df.selectExpr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, x) -> acc + x)")
      .as[Long].collect().toSeq
    assert(got == want && got == Seq(32L, -41L))
  }

  test("multimodal decodeBatched preserves schema and determinism") {
    val docs = Tables(spark, sf, "documents").limit(50)
    val out = Multimodal.decodeBatched(spark, docs).collect().sortBy(_.doc_id)
    assert(out.length == 50)
    assert(out.forall(_.n_bytes == 16))
    assert(out.forall(m => m.byte0 >= 0 && m.byte0 <= 255))
    // byte0 equals the expression-derived byte0 in Multimodal.meta
    val metaByte0 = Multimodal.meta(docs).select("doc_id", "byte0")
      .as[(Long, Int)].collect().toMap
    assert(out.forall(m => metaByte0(m.doc_id) == m.byte0))
  }

  test("ann_recall hits are within [0, k] and recall is the exact ratio") {
    val rows = QueriesText.annRecallQ(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (p, h, r) =>
      assert(h >= 0 && h <= QueriesText.topK, s"probe $p hits $h")
      assert(math.abs(r - h.toDouble / QueriesText.topK) < 1e-15)
    }
  }

  test("embed_int8 reconstruction error is bounded by half a quantization step") {
    val bad = QueriesText.embedInt8Q(spark, sf)
      .filter(col("mae") > (col("mx") - col("mn")) / 255.0 / 2.0 + lit(1e-12))
      .count()
    assert(bad == 0L)
  }

  test("TopKPairs ranks NaN keys largest, -0.0 as 0.0, independent of arrival order") {
    val in = Seq((Double.NaN, 1L), (0.5, 2L), (Double.NaN, 0L), (-0.0, 4L),
      (0.0, 3L), (1.0, 5L))
    def run(k: Int, desc: Boolean, rows: Seq[(Double, Long)]): Seq[(Double, Long)] = {
      val agg = new graft.functions.TopKPairs(k, desc)
      agg.finish(rows.foldLeft(agg.zero)(agg.reduce))
    }
    // NaN == NaN compares false, so render keys for the comparison
    def show(r: Seq[(Double, Long)]) = r.map { case (v, id) => (v.toString, id) }
    for (k <- Seq(2, 3, 6); desc <- Seq(false, true))
      assert(show(run(k, desc, in)) == show(run(k, desc, in.reverse)),
        s"k=$k desc=$desc depends on arrival order")
    // ascending: -0.0 and 0.0 tie on key and break by id; NaN sorts last
    assert(run(6, desc = false, in).map(_._2) == Seq(3L, 4L, 2L, 5L, 0L, 1L))
    // descending: NaN is largest, so it leads
    assert(run(3, desc = true, in).map(_._2) == Seq(0L, 1L, 5L))
  }
}
