package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Lake
import graft.ops.Similarity

class SimilaritySpec extends SparkTestBase {

  /** Original embeddings + (replicas-1) perturbed copies, withNorm shape.
    * Replica r of vector v gets id v + r*1e6 and components scaled by
    * (1 + ((r*31 + pos*17) % 13 - 6) / 200) — deterministic, ±3%. */
  def corpus10x(spark: SparkSession, dir: String, replicas: Int): DataFrame = {
    val base = Lake(spark, dir).embeddings
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
    val rep = spark.range(replicas.toLong).select(col("id").as("replica"))
    base.crossJoin(broadcast(rep))
      .select(
        (col("vec_id") + col("replica") * 1000000L).as("vec_id"),
        transform(col("v"),
          (x, pos) => x * (lit(1.0) +
            ((col("replica") * 31 + pos * 17) % 13 - 6).cast("double") / 200.0))
          .as("v"))
      .withColumn("nrm", Similarity.l2Norm(col("v")))
  }

  /** Fraction of exact top-k pairs the approximate result recovers. */
  def recallOf(approx: DataFrame, exact: DataFrame): Double = {
    val hits = approx.select("query_id", "neighbor_id")
      .join(exact.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_semi").count()
    hits.toDouble / exact.count()
  }

  test("lshTopK: bucket+multiprobe ANN agrees with brute force on obvious clusters") {
    import testImplicits._
    import org.apache.spark.sql.functions.col
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.0f, 1.0f)), (4L, Seq(0.1f, 1.0f)),
      (5L, Seq(0.95f, 0.05f))
    ).toDF("vec_id", "embedding")
    val corpus = Similarity.withNorm(vecs, "vec_id", "embedding")
    val q = corpus.filter(col("vec_id") === 1L)
    val lsh = Similarity.lshTopK(corpus, q, k = 1, nPlanes = 4, dim = 2).collect()
    val exact = Similarity.bruteForceTopK(corpus, q, k = 1).collect()
    assert(lsh.length == 1)
    // top-1 must agree: near-identical vectors always share the sign bucket
    assert(lsh.head.getAs[Long]("neighbor_id") == exact.head.getAs[Long]("neighbor_id"))
    assert(lsh.head.getAs[Double]("cos") == exact.head.getAs[Double]("cos"))
  }

  test("kMeansCentroids: converges onto two obvious clusters and drives ivfTopK") {
    import testImplicits._
    import org.apache.spark.sql.functions.col
    // 2-D corpus: ids 1-4 hug the x-axis, ids 5-8 the y-axis
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(1.0f, 0.1f)), (4L, Seq(0.95f, 0.0f)),
      (5L, Seq(0.0f, 1.0f)), (6L, Seq(0.1f, 0.9f)),
      (7L, Seq(0.1f, 1.0f)), (8L, Seq(0.0f, 0.95f))
    ).toDF("vec_id", "embedding")
    val corpus = Similarity.withNorm(vecs, "vec_id", "embedding")
    val centroids = Similarity.kMeansCentroids(corpus, k = 2, maxIter = 4)
    val cents = centroids.orderBy("vec_id").collect()
      .map(r => r.getSeq[Double](1))
    assert(cents.length == 2)
    // one centroid dominated by x, the other by y
    val xish = cents.count(c => c.head > c(1))
    assert(xish == 1)
    // cluster assignment separates the two groups
    val assigned = Similarity.ivfAssign(corpus, centroids)
      .select("vec_id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Set(1L, 2L, 3L, 4L).map(assigned) != Set(5L, 6L, 7L, 8L).map(assigned))
    assert(Set(1L, 2L, 3L, 4L).map(assigned).size == 1)
    // IVF top-1 with nProbe=1 finds an in-cluster neighbor
    val q = corpus.filter(col("vec_id") === 1L)
    val nn = Similarity.ivfTopK(corpus, centroids, q, k = 1, nProbe = 1).collect()
    assert(nn.length == 1 && Set(2L, 3L, 4L).contains(nn.head.getAs[Long]("neighbor_id")))
  }
  import testImplicits._

  private def emb(rows: (Long, Seq[Float])*) =
    rows.toDF("vec_id", "embedding")

  test("cosine: parallel → 1, orthogonal → 0, opposite → -1") {
    val df = Seq(
      (Seq(1.0, 0.0), Seq(2.0, 0.0)),
      (Seq(1.0, 0.0), Seq(0.0, 3.0)),
      (Seq(1.0, 0.0), Seq(-1.0, 0.0))
    ).toDF("a", "b").select(Similarity.cosine(col("a"), col("b")).as("c"))
    val cs = df.collect().map(_.getDouble(0))
    assert(math.abs(cs(0) - 1.0) < 1e-12)
    assert(math.abs(cs(1)) < 1e-12)
    assert(math.abs(cs(2) + 1.0) < 1e-12)
  }

  test("bruteForceTopK: nearest first, self excluded, k respected") {
    val corpus = Similarity.withNorm(emb(
      (0L, Seq(1f, 0f)), (1L, Seq(0.9f, 0.1f)), (2L, Seq(0f, 1f)), (3L, Seq(-1f, 0f))),
      "vec_id", "embedding")
    val out = Similarity.bruteForceTopK(corpus, corpus.filter(col("vec_id") === 0), 2)
      .orderBy("rank").collect()
    assert(out.length == 2)
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(1L, 2L))
  }

  test("ivfAssign: every vector lands on its nearest centroid") {
    val corpus = Similarity.withNorm(emb(
      (0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)),
      (10L, Seq(0.99f, 0.01f)), (11L, Seq(0.01f, 0.99f))),
      "vec_id", "embedding")
    val centroids = corpus.filter(col("vec_id") < 2)
    val out = Similarity.ivfAssign(corpus, centroids).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(out(10L) == 0L && out(11L) == 1L)
    assert(out(0L) == 0L && out(1L) == 1L)
  }

  test("ANN recall floor: ivf and lsh recover the exact neighbors on a clustered corpus") {
    import org.apache.spark.sql.functions.col
    // 4× replicated sf0.001 embeddings (2000 vectors): every original grows
    // a tight ±3%-perturbed cluster — the regime ANN exists for. Floors sit
    // under the measured recalls (Similarity scaladoc) with
    // margin; a bucketing/probe regression drops recall far below them.
    val corpus = corpus10x(spark, sfDir, replicas = 4)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val queries = corpus.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(corpus, queries, 5)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    exact.count()
    val centroids = Similarity.kMeansCentroids(corpus, k = 16, maxIter = 2)
    val rIvf = recallOf(
      Similarity.ivfTopK(corpus, centroids, queries, k = 5, nProbe = 2), exact)
    val rLsh = recallOf(
      Similarity.lshTopK(corpus, queries, k = 5, nPlanes = 6, dim = 64), exact)
    corpus.unpersist(); exact.unpersist()
    assert(rIvf >= 0.9, f"ivf recall@5 regressed: $rIvf%.3f")
    assert(rLsh >= 0.8, f"lsh recall@5 regressed: $rLsh%.3f")
  }

  test("quantizeInt8: codes bounded, zero vector safe, extremes hit ±127 exactly") {
    import testImplicits._
    val vecs = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f)),   // max|x|=1.0 → codes 64,-127,32
      (2L, Seq(0.0f, 0.0f, 0.0f)),     // zero vector: no NaN, zero codes
      (3L, Seq(3.0f, 3.0f, -3.0f))     // uniform magnitude → ±127
    ).toDF("vec_id", "embedding")
    val qz = Similarity.quantizeInt8(vecs, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[Long](1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(qz(1L)._1 == Seq(64L, -127L, 32L)) // round(0.5*127)=round(63.5)=64
    assert(qz(1L)._2 == 1.0)
    assert(qz(2L)._1 == Seq(0L, 0L, 0L) && qz(2L)._2 == 0.0 && qz(2L)._3 == 0.0)
    assert(qz(3L)._1 == Seq(127L, 127L, -127L))
  }

  test("quantized ANN: recall@5 against exact brute force stays high on clusters") {
    import org.apache.spark.sql.functions.col
    // int8 keeps ~7 significant bits per dim — on the clustered corpus its
    // top-5 should almost exactly match the float brute force
    val base = corpus10x(spark, sfDir, replicas = 4)
    val raw = base.select(col("vec_id"),
      transform(col("v"), x => x.cast("float")).as("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val corpus = Similarity.withNorm(raw, "vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(corpus, queries, 5)
    val qz = Similarity.quantizeInt8(raw, "vec_id", "embedding")
    val approx = Similarity.quantizedTopK(qz, qz.filter(col("vec_id") < 20), 5)
    val r = recallOf(approx, exact)
    raw.unpersist()
    assert(r >= 0.9, f"int8 recall@5 regressed: $r%.3f")
  }

  test("PQ: encode snaps to codebook entries; ADC is exact on codebook-composed vectors") {
    import testImplicits._
    // seeds 0/1 ARE the codebooks (m=2, dsub=2, 2 codes); vectors 10/11
    // are cross-compositions of seed slices, so quantization is LOSSLESS
    // and ADC must equal the true squared distance — an exact gate on
    // the whole codebook→encode→table→sum chain, no recall fuzz
    val vecs = Seq(
      (0L, Seq(0f, 0f, 1f, 1f)),
      (1L, Seq(4f, 4f, 9f, 9f)),
      (10L, Seq(0f, 0f, 9f, 9f)),
      (11L, Seq(4f, 4f, 1f, 1f))
    ).toDF("vec_id", "embedding")
    val corpus = Similarity.withNorm(vecs, "vec_id", "embedding")
    val cb = Similarity.pqCodebooks(corpus, m = 2, dsub = 2, codes = 2)
    val codes = Similarity.pqEncode(corpus, cb, m = 2, dsub = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(codes == Map(0L -> ((0L, 0L)), 1L -> ((1L, 1L)),
      10L -> ((0L, 1L)), 11L -> ((1L, 0L))))
    val enc = Similarity.pqEncode(corpus, cb, m = 2, dsub = 2)
    val out = Similarity.pqTopK(enc,
      corpus.filter(col("vec_id") === 10L).select("vec_id", "v"),
      cb, k = 3, m = 2, dsub = 2)
      .orderBy("rank")
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, 32.0), (0L, 128.0), (11L, 160.0)))
  }

  test("ivfTopK: finds in-cluster neighbors") {
    val corpus = Similarity.withNorm(emb(
      (0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)),
      (10L, Seq(0.99f, 0.01f)), (11L, Seq(0.98f, 0.02f)), (12L, Seq(0.01f, 0.99f))),
      "vec_id", "embedding")
    val centroids = corpus.filter(col("vec_id") < 2)
    val queries = corpus.filter(col("vec_id") === 10)
    val out = Similarity.ivfTopK(corpus, centroids, queries, k = 2, nProbe = 1)
      .orderBy("rank").collect()
    // probe=1 → only cluster 0 searched: neighbors are 0 and 11, never 12
    assert(out.map(_.getAs[Long]("neighbor_id")).toSet == Set(0L, 11L))
  }

  test("hardNegatives: the nearest same-label vector is excluded from the top-k") {
    // query 0 (label 0); vec 1 is nearly identical but SAME label ->
    // must not appear; vecs 2/3 differ in label and rank by cosine
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f), 0),
      (1L, Seq(0.999f, 0.01f), 0),
      (2L, Seq(0.9f, 0.4f), 1),
      (3L, Seq(0.0f, 1.0f), 2)
    ).toDF("vec_id", "embedding", "label")
    val corpus = Similarity.withNorm(emb, "vec_id", "embedding")
      .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
    val out = Similarity.hardNegatives(
        corpus, corpus.filter(col("vec_id") === 0L), k = 2)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(2L, 3L))
    assert(out.forall(_.getAs[Int]("neighbor_label") != 0))
  }
}
