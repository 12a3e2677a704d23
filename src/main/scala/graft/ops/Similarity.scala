package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Vector similarity search over an embedding column (`array<float>`).
  *
  * All arithmetic is done in double precision with a strict left-to-right
  * fold (`aggregate`), which makes results bit-reproducible across engines —
  * the property the DuckDB oracle comparison relies on (its `list_reduce`
  * folds the same way).
  *
  * Scale paths:
  *   - [[bruteForceTopK]] — exact: corpus × queries. Right only when the
  *     query set is small enough to broadcast; cost is linear in corpus size
  *     per query (this is the baseline, not the 100 TB plan).
  *   - [[ivfTopK]] — IVF: vectors are bucketed by nearest centroid once
  *     (linear scan vs the tiny centroid set), and each query probes only
  *     `nProbe` buckets. At 100 TB the corpus side stays partitioned by
  *     centroid id and only ~nProbe/nCentroids of it is touched per query.
  *     The q36 oracle takes centroids deterministically (lowest ids);
  *     [[kMeansCentroids]] is the production centroid pass.
  *
  * MEASURED quality/speed (r4 RecallProbe: 10× sf0.1 embeddings
  * = 20k vectors in ±3%-perturbed clusters, 50 queries, recall@10 vs
  * [[bruteForceTopK]] ground truth, cold, local[32] — the ANN analogue of
  * the dedup family's 99.9%-recall probe):
  *   - brute force: 1.63 s (the exact baseline);
  *   - IVF, 32 k-means centroids: recall 0.958/0.968/0.974 at nProbe
  *     1/2/4, ~1.0-1.1 s; centroid build 5.3 s — amortized setup, rebuilt
  *     per corpus snapshot, not per query batch;
  *   - LSH, 8 planes: recall 0.912 (1-bit probes, 0.35 s) / 0.944 (2-bit,
  *     0.46 s) — ~3.5× over brute force, and the probed fraction (37/256
  *     buckets) is scale-invariant while brute force grows linearly.
  * All defaults clear the ≥95% bar via nProbe ≥ 1 (IVF) and sit at ~94%
  * for the centroid-free LSH path with 2-bit multiprobe (its default);
  * SimilaritySpec pins recall floors so a bucketing regression fails CI.
  *
  * SERVING shape (r5 IvfServeProbe, retired: BENCH_NOTES "Retired
  * measurement probes"; cluster-partitioned
  * parquet index built once as setup — 1.7-2.2 s — then query batches
  * against the persisted index): 10 queries 0.58 s vs 100 queries
  * 0.51 s at 1× (ratio 0.87 — fixed stage setup dominates, per-query
  * marginal cost ~0), and a 10× corpus (20k vectors) leaves the serve
  * time flat (0.48/0.56 s) because only the probed clusters are read —
  * O(queries × probed-cluster volume), not O(corpus). q98 gates the
  * parquet round trip bit-exactly against q36's derive-from-scratch
  * oracle.
  */
object Similarity {

  /** `array<float>` → `array<double>` (all math in doubles). */
  def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Strict sequential dot product — deterministic fold order. Backed by the
    * codegen'd [[graft.functions.DotProduct]] expression; the equivalent
    * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` built-in computes the same
    * bits but interpreted, ~100× slower in pair-join hot loops. */
  def dot(a: Column, b: Column): Column = graft.functions.VectorFunctions.dot(a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Pre-normalize: (id, v, norm) with doubles. Computing norms once before
    * a pair join halves the flops and keeps the join row narrow. */
  def withNorm(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(
      col(idCol).as("vec_id"),
      asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", l2Norm(col("v")))

  /** Exact top-k cosine neighbors for each query vector (excluding self).
    * The query side is broadcast; ranking is per-query via window. Ranking
    * uses the raw cosine with id tiebreak — deterministic because the dot
    * products are. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val joined = broadcast(queries.as("q")).join(
      corpus.as("c"), col("q.vec_id") =!= col("c.vec_id"))
      .select(
        col("q.vec_id").as("query_id"),
        col("c.vec_id").as("neighbor_id"),
        (dot(col("q.v"), col("c.v")) / (col("q.nrm") * col("c.nrm"))).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    joined.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Hard-negative mining for contrastive / metric learning: for each
    * query, the k most-SIMILAR corpus vectors with a DIFFERENT label —
    * the near-miss examples a triplet/InfoNCE loss learns the most from
    * (random negatives are trivially separable; the hard ones sit just
    * across the decision boundary). Same shape as [[bruteForceTopK]]
    * (broadcast query side, windowed top-k) with the label-mismatch
    * predicate INSIDE the join condition, so same-label pairs are
    * discarded at the join, not ranked and filtered after; at scale
    * swap the corpus side for the IVF/LSH-bucketed candidate frames
    * exactly as q98 serves q36. Inputs need (vec_id, v, nrm, label).
    * Gated by q161 against the label-filtered window oracle. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val joined = broadcast(queries.as("q")).join(
      corpus.as("c"),
      col("q.vec_id") =!= col("c.vec_id") &&
        col("q.label") =!= col("c.label"))
      .select(
        col("q.vec_id").as("query_id"),
        col("q.label").as("query_label"),
        col("c.vec_id").as("neighbor_id"),
        col("c.label").as("neighbor_label"),
        (dot(col("q.v"), col("c.v")) / (col("q.nrm") * col("c.nrm"))).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    joined.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Assign every vector to its nearest centroid (by cosine). Centroid set
    * is broadcast; argmax via window over the small per-vector candidate
    * list. Returns corpus columns + cluster_id. */
  def ivfAssign(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("__sim").desc, col("__cid"))
    corpus.as("c")
      .join(broadcast(centroids.select(
        col("vec_id").as("__cid"), col("v").as("__cv"), col("nrm").as("__cn")))
      )
      .withColumn("__sim", dot(col("c.v"), col("__cv")) / (col("c.nrm") * col("__cn")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("c.vec_id").as("vec_id"), col("c.v").as("v"), col("c.nrm").as("nrm"),
        col("__cid").as("cluster_id"))
  }

  /** IVF approximate top-k: each query probes its `nProbe` nearest centroids
    * and ranks only vectors assigned to those clusters. */
  def ivfTopK(
      corpus: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      k: Int,
      nProbe: Int
  ): DataFrame =
    ivfTopKFromAssigned(ivfAssign(corpus, centroids), centroids, queries, k, nProbe)

  /** The SERVING path of [[ivfTopK]]: probe an already-assigned corpus —
    * in production `assigned` is [[ivfAssign]]'s output written ONCE per
    * corpus snapshot as parquet partitioned by `cluster_id`, so a query
    * batch costs only the probed partitions (the probes join on the
    * partition column, so partition pruning skips ~(1 − nProbe/k_c) of
    * the index on disk — the incrementalMinhash persisted-index shape
    * applied to ANN). The assignment pass is setup cost, amortized
    * across every batch that probes the same snapshot; per batch the
    * work is O(queries × probed-cluster size), independent of corpus
    * growth outside the probed clusters. */
  def ivfTopKFromAssigned(
      assigned: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      k: Int,
      nProbe: Int
  ): DataFrame = {
    // per-query probe list: nProbe nearest centroids
    val pw = Window.partitionBy(col("q.vec_id")).orderBy(col("__sim").desc, col("__cid"))
    val probes = queries.as("q")
      .join(broadcast(centroids.select(
        col("vec_id").as("__cid"), col("v").as("__cv"), col("nrm").as("__cn"))))
      .withColumn("__sim", dot(col("q.v"), col("__cv")) / (col("q.nrm") * col("__cn")))
      .withColumn("__rn", row_number().over(pw))
      .filter(col("__rn") <= nProbe)
      .select(col("q.vec_id").as("query_id"), col("q.v").as("qv"),
        col("q.nrm").as("qn"), col("__cid").as("cluster_id"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    broadcast(probes).join(assigned, Seq("cluster_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Deterministic rational hyperplane `p` for [[lshTopK]]: integer
    * arithmetic only, so any engine reproduces the exact same vector (and
    * therefore the exact same sign bits — no float-threshold flakiness
    * between the Spark plan and the SQL oracle). */
  def hyperplane(p: Int, dim: Int): Seq[Double] =
    (0 until dim).map(j => (((p * 31 + j * 17) % 13) - 6).toDouble)

  /** Sign-LSH bucket id: bit p of the bucket is `dot(v, hyperplane(p)) >= 0`.
    * `nPlanes` bits → 2^nPlanes buckets. */
  def lshBucket(v: Column, nPlanes: Int, dim: Int): Column =
    (0 until nPlanes).map { p =>
      val h = array(hyperplane(p, dim).map(lit): _*)
      when(dot(v, h) >= 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)

  /** LSH-bucketed approximate top-k — the second scale path next to
    * [[ivfTopK]] (random-hyperplane buckets need no centroid pass).
    * Corpus vectors are bucketed once; each query probes its own bucket
    * plus every `multiprobeBits`-or-fewer-bit-flip neighbor, so per query
    * only ~(probes)/2^nPlanes of the corpus is ranked. A doc lives in
    * exactly one bucket and probe keys (distinct XOR masks) are distinct,
    * so no candidate dedup is needed. At 100 TB the corpus side stays
    * hash-partitioned by bucket; the probe fan-out is rows-per-query ×
    * probes, not data-sized.
    *
    * Multiprobe width is the recall lever (MEASURED, r4 `RecallProbe`,
    * 20k-vector clustered corpus, nPlanes 8, recall@10 vs brute force):
    * 1-bit probes (9 of 256 buckets) → recall 0.912 at 0.35 s; 2-bit
    * probes (37 of 256) → recall 0.944 at 0.46 s, vs brute force 1.63 s —
    * ~3.5× faster at ~94% recall, and the gap widens with corpus size
    * (probed fraction is 37/256 regardless of scale). On a tighter
    * 6-plane test corpus the 1-bit form drops to 0.73 recall while 2-bit
    * holds (SimilaritySpec floor test) — near-identical vectors routinely
    * differ in 2 sign bits, so 2-bit probing is the default. */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nPlanes: Int,
      dim: Int,
      multiprobeBits: Int = 2
  ): DataFrame = {
    require(multiprobeBits >= 0 && multiprobeBits <= 2,
      s"multiprobeBits must be 0 (exact bucket), 1, or 2: $multiprobeBits")
    val bucketed = corpus.withColumn("bucket", lshBucket(col("v"), nPlanes, dim))
    val flips1 =
      if (multiprobeBits < 1) Seq.empty else (0 until nPlanes).map(p => 1 << p)
    val flips2 =
      if (multiprobeBits < 2) Seq.empty
      else for { p <- 0 until nPlanes; q <- (p + 1) until nPlanes }
        yield (1 << p) | (1 << q)
    val probeKeys = col("bucket0") +:
      (flips1 ++ flips2).map(m => col("bucket0").bitwiseXOR(lit(m)))
    val probes = queries
      .withColumn("bucket0", lshBucket(col("v"), nPlanes, dim))
      .select(
        col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"),
        explode(array(probeKeys: _*)).as("bucket"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    broadcast(probes).join(bucketed, Seq("bucket"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Lloyd's k-means over a `withNorm`-shaped corpus — the production
    * centroid pass for [[ivfTopK]] (the oracle query q36 keeps its
    * deterministic lowest-id centroids; this replaces them when cluster
    * quality matters).
    *
    * Per iteration: assign every vector to its nearest centroid (broadcast
    * — [[ivfAssign]]), then recompute each centroid as the element-wise
    * mean via `posexplode` + per-(cluster, dim) average — two data-sized
    * shuffles, no all-pairs anything. The k×dim centroid matrix is
    * collected to the driver between iterations: that is k rows, not data;
    * it breaks the iterative lineage exactly the way MLlib's own k-means
    * does. Empty clusters keep their previous centroid. Init is the k
    * lowest-id vectors, so runs are reproducible up to floating-point
    * summation order inside the means.
    */
  def kMeansCentroids(corpus: DataFrame, k: Int, maxIter: Int = 5): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._

    def toCentroidFrame(rows: Seq[(Long, Seq[Double])]): DataFrame =
      rows.toDF("vec_id", "v")
        .select(col("vec_id"), col("v"), l2Norm(col("v")).as("nrm"))

    var centroids: Seq[(Long, Seq[Double])] = corpus
      .orderBy("vec_id").limit(k)
      .select(col("v")).collect()
      .zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Double](0)) }.toSeq

    for (_ <- 1 to maxIter) {
      val means = ivfAssign(corpus, toCentroidFrame(centroids))
        .select(col("cluster_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cluster_id", "pos").agg(avg(col("x")).as("m"))
        .groupBy("cluster_id")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cluster_id"),
          transform(col("pm"), s => s.getField("m")).as("v"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      centroids = centroids.map { case (cid, v) => (cid, means.getOrElse(cid, v)) }
    }
    toCentroidFrame(centroids)
  }

  /** Semantic dedup, the SemDeDup shape (Abbas et al. 2023): cluster the
    * embedding space, pair-join WITHIN clusters only, and apply the
    * paper's keep rule — a vector is DROPPED iff any smaller-id vector
    * in its cluster is within `threshold` (the upper-triangular pass
    * over the cluster similarity matrix, exactly as the reference
    * implementation orders it). Returns a total map (vec_id, cluster_id,
    * canonical_id, is_kept) — the curation pass keeps `is_kept` rows,
    * dropping semantically redundant documents that textual dedup
    * (different words, same meaning) cannot see.
    *
    * Two contract points to read precisely:
    *   - `canonical_id` is the smallest DIRECT ≥-threshold neighbor —
    *     an audit attribution ("dropped because of this doc"), not a
    *     transitive representative. In a chain a–b–c where only
    *     adjacent pairs clear the threshold, c's attribution b is
    *     itself dropped; the kept set is exactly {v: no smaller
    *     near-dup}, which is SemDeDup's semantics (greedy chain
    *     deletion is accepted by design — at the paper's tight
    *     thresholds near-dup groups are cliques and the distinction
    *     vanishes).
    *   - If the use case needs every dropped doc to map to a KEPT
    *     representative (loose thresholds, chain-shaped groups), feed
    *     the within-cluster pair list to
    *     [[graft.ops.Dedup.connectedComponents]] instead (the q50
    *     machinery) and keep each component's minimum.
    *
    * Scale shape: the centroid set bounds the pair join — a vector only
    * meets its own cluster, so the shuffle key is cluster_id and the pair
    * count is Σ C(cluster_size, 2), tunable via k (more centroids →
    * smaller clusters → fewer pairs, slightly lower recall at cluster
    * borders; SemDeDup accepts that trade by design). Centroids come from
    * [[kMeansCentroids]] in production; the q59 oracle pins the
    * deterministic lowest-id variant.
    *
    * MEASURED at 10× (r4 `RecallProbe`: 20k vectors in 2k true near-dup
    * groups of 10, threshold 0.995): k=32 k-means clusters → 1.11 s,
    * 17,933 of the 18,000 redundant replicas dropped (99.6% dedup
    * recall); k=128 → 2.92 s, 17,966 dropped. Assignment costs O(n·k)
    * while the pair join saves O(Σ C(size,2)) — at this corpus size the
    * assignment term dominates, so raise k only when cluster sizes (not
    * centroid count) are the bottleneck. */
  def semanticDedup(
      corpus: DataFrame, centroids: DataFrame, threshold: Double): DataFrame = {
    val assigned = ivfAssign(corpus, centroids)
    val pairs = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cluster_id") === col("b.cluster_id") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        (dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))).as("cos"))
      .filter(col("cos") >= threshold)
    val canon = pairs.groupBy(col("id_b").as("vec_id"))
      .agg(min("id_a").as("__min_nb"))
    assigned.select("vec_id", "cluster_id")
      .join(canon, Seq("vec_id"), "left")
      .withColumn("canonical_id", coalesce(col("__min_nb"), col("vec_id")))
      .withColumn("is_kept", col("vec_id") === col("canonical_id"))
      .select("vec_id", "cluster_id", "canonical_id", "is_kept")
  }

  /** Blocked near-duplicate pairs: cosine ≥ threshold within a blocking key
    * (a cheap LSH stand-in: label, cluster id, or an LSH bucket). The block
    * key bounds the pair join — never all-pairs. */
  def blockedNearDupPairs(
      emb: DataFrame, idCol: String, vecCol: String, blockCol: String,
      threshold: Double
  ): DataFrame = {
    val n = emb.select(
      col(idCol).as("vec_id"), col(blockCol).as("block"),
      asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", l2Norm(col("v")))
    n.as("a").join(n.as("b"),
        col("a.block") === col("b.block") && col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        col("a.block").as("block"),
        (dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Symmetric per-vector int8 scalar quantization — the memory lever
    * that makes billion-vector serving fit: codes are `array<bigint>`
    * holding values in [−127, 127] (one byte of information per
    * dimension; the storage layer can pack them, the COMPUTE contract
    * is what matters here), scale = max|x|/127 restores magnitudes.
    * Quantized dot products are EXACT INTEGERS ([[graft.functions.LongDotProduct]],
    * codegen'd) — order-independent, so downstream rankings carry no
    * float-fold caveat at all; the only float arithmetic left is one
    * fixed multiply/divide chain per pair when converting back to a
    * cosine estimate. Zero vectors quantize to all-zero codes with
    * scale 0 (guarded — no NaN poisoning).
    *
    * Output: (vec_id, code, scale, nrm) — norm kept so the cosine
    * denominator uses TRUE magnitudes and quantization error lives
    * only in the numerator (the standard SQ trade). */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = asDouble(col(vecCol))
    val maxAbs = aggregate(v, lit(0.0d), (acc, x) => greatest(acc, abs(x)))
    emb.select(
      col(idCol).as("vec_id"),
      v.as("__v"),
      maxAbs.as("__ma"))
      .select(
        col("vec_id"),
        when(col("__ma") === 0.0d,
          transform(col("__v"), _ => lit(0L)))
          .otherwise(transform(col("__v"),
            x => round(x * lit(127.0d) / col("__ma")).cast("long")))
          .as("code"),
        col("__ma").as("scale"),
        l2Norm(col("__v")).as("nrm"))
  }

  /** Product-quantization codebooks from seed vectors: subspace `sub`'s
    * codebook entry `code` is seed vector `code`'s slice — the
    * deterministic-codebook simplification the IVF gates (q36/q98) use
    * for centroids, applied per-subspace. A production build would run
    * [[kMeansCentroids]] per subspace over sampled slices; the encode /
    * ADC machinery downstream is identical either way. Output:
    * (sub, code, cent), m×`codes` rows — broadcast-sized by
    * construction. */
  def pqCodebooks(corpus: DataFrame, m: Int, dsub: Int, codes: Int = 16): DataFrame =
    corpus.filter(col("vec_id") < codes)
      .select(col("vec_id").as("code"),
        explode(array((0 until m).map(j =>
          struct(lit(j).as("sub"),
            slice(col("v"), j * dsub + 1, dsub).as("cent"))): _*)).as("__s"))
      .select(col("__s.sub").as("sub"), col("code"), col("__s.cent").as("cent"))

  /** Encode every corpus vector as m one-byte codes — nearest codebook
    * entry per subspace by squared L2 ([[graft.functions.SquaredDistance]],
    * codegen'd), ties to the lower code. Output is WIDE (vec_id,
    * code_0..code_{m-1}): the ADC join downstream needs one row per
    * vector, and the conditional-max pivot keeps the argmin inside one
    * aggregate exchange keyed on vec_id. 64 bits of code replaces 2 KiB
    * of floats per vector — the PQ memory story. */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame, m: Int, dsub: Int): DataFrame = {
    val sq = graft.functions.VectorFunctions.sqDist _
    val scored = corpus
      .crossJoin(broadcast(codebooks))
      .select(col("vec_id"), col("sub"), col("code"),
        sq(slice(col("v"), col("sub") * dsub + 1, lit(dsub)), col("cent"))
          .as("d2"))
    val w = Window.partitionBy("vec_id", "sub")
      .orderBy(col("d2"), col("code"))
    val best = scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    val aggs = (0 until m).map(j =>
      max(when(col("sub") === j, col("code"))).as(s"code_$j"))
    best.groupBy("vec_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Asymmetric-distance (ADC) top-k: per query, ONE distance-table row
    * per (sub, code) — m×|codebook| floats — then each corpus vector's
    * approximate distance is the FIXED-ORDER sum of its m looked-up
    * cells: m broadcast joins on (code_j), a left-assoc add chain, no
    * per-pair vector math at all. That is the PQ serving shape: the
    * corpus side streams 8-byte codes, flops are m adds per candidate.
    * Deterministic end to end (strict-fold cell distances, fixed add
    * order, id tiebreak) — which is what lets q143's oracle state the
    * identical algebra. */
  def pqTopK(
      corpusCodes: DataFrame,
      queries: DataFrame,
      codebooks: DataFrame,
      k: Int,
      m: Int,
      dsub: Int
  ): DataFrame = {
    val sq = graft.functions.VectorFunctions.sqDist _
    val dtable = queries
      .crossJoin(broadcast(codebooks))
      .select(col("vec_id").as("query_id"), col("sub"), col("code"),
        sq(slice(col("v"), col("sub") * dsub + 1, lit(dsub)), col("cent"))
          .as("d2"))
    val joined = (0 until m).foldLeft(
      corpusCodes.crossJoin(broadcast(queries.select(col("vec_id").as("query_id"))))
        .filter(col("query_id") =!= col("vec_id"))) { (acc, j) =>
      acc.join(
        broadcast(dtable.filter(col("sub") === j)
          .select(col("query_id"), col("code").as(s"code_$j"),
            col("d2").as(s"d2_$j"))),
        Seq("query_id", s"code_$j"))
    }
    val adist = (1 until m).foldLeft(col("d2_0"))((e, j) => e + col(s"d2_$j"))
    val w = Window.partitionBy("query_id").orderBy(col("adist"), col("neighbor_id"))
    joined.select(col("query_id"), col("vec_id").as("neighbor_id"),
        adist.as("adist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Exact top-k by QUANTIZED cosine for each query: the integer dot
    * product ranks, one deterministic float chain rescales — the
    * brute-force twin of [[bruteForceTopK]] run entirely on int8 codes
    * (8× less bandwidth per pair at equal join shape; at serving scale
    * the corpus side streams codes, not floats). Tie order: score
    * desc, then neighbor id. Gated by q139 against a DuckDB oracle
    * stating the identical quantize-then-rank algebra. */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val qdot = graft.functions.VectorFunctions.dotLong(col("q.code"), col("c.code"))
    val joined = broadcast(queries.as("q")).join(
      corpus.as("c"), col("q.vec_id") =!= col("c.vec_id"))
      .select(
        col("q.vec_id").as("query_id"),
        col("c.vec_id").as("neighbor_id"),
        qdot.as("qdot"),
        (col("q.scale") * col("c.scale")).as("__ss"),
        (col("q.nrm") * col("c.nrm")).as("__nn"))
      .select(col("query_id"), col("neighbor_id"), col("qdot"),
        (col("qdot").cast("double") * col("__ss") /
          (lit(16129.0d) * col("__nn"))).as("qcos"))
    val w = Window.partitionBy("query_id").orderBy(col("qcos").desc, col("neighbor_id"))
    joined.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }
}
