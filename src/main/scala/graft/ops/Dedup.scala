package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication operators for training-data pipelines: exact,
  * n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design (the point of every choice here):
  *   - NO all-pairs comparison anywhere. Candidate pairs come from an
  *     inverted index (shared shingle) or an LSH band bucket, so the join
  *     key is the shingle/band — a shuffle that grows with corpus size, not
  *     its square.
  *   - Hashes are `md5` of the shingle text: deterministic across engines
  *     and machines (Spark's `hash()` murmur seed would work too, but md5
  *     makes results reproducible against any external oracle).
  *   - Hot shingles (stop-phrases) are the skew risk at 100 TB: a shingle
  *     shared by 1M docs creates 10^12 candidate pairs. [[shingles]] callers
  *     can cap document frequency via [[capDocFrequency]] before pairing —
  *     standard practice in web-scale dedup.
  *
  * Measured scaling (10× corpus probe: 50k docs built by replicating the
  * sf0.1 documents with 30% perturbed variants, local[32]):
  *   - [[exact]] 4.6 s (30k dup rows) — linear, one shuffle;
  *   - [[simhashPairs]] 18.6 s (219k pairs) — output-bound;
  *   - [[jaccardDedup]] 80.6 s vs [[minhashDedupCapped]] 11.3 s for the
  *     SAME ~250k-pair answer (minhash recall 99.9%: 250,025 of 250,378).
  *     Exact Jaccard pays Σ C(df,2) candidate rows per shared shingle —
  *     with ~10 near-copies per doc that is ~11M grouped rows; LSH
  *     collapses identical signatures into band buckets first. This 7×
  *     gap WIDENS with duplication factor, which is why minhash is the
  *     default at real scale and exact Jaccard the verification oracle.
  *
  * Measured regimes for the EXACT paths (SimJoinScaleProbe, 50k docs,
  * local[32]): with uniform small df (no boilerplate) [[jaccardPairs]]
  * 35 s ≈ [[prefixFilterPairs]] 37 s — candidates are not the
  * bottleneck, the prefix machinery buys nothing. Add ONE universal
  * boilerplate sentence (8 shingles at df = 50k) and the inverted index
  * detonates (C(50k,2)·8 ≈ 10^10 candidate rows, infeasible) while the
  * prefix filter runs 31 s — faster than the df-capped variant (35 s,
  * and that one silently changes answers: 109,499 vs the true 108,260
  * pairs) and exact. Template-heavy corpora are exactly the web regime.
  */
object Dedup {

  /** Exact dedup (hash-groupBy): every doc mapped to the smallest doc id
    * sharing its content hash. One shuffle on the 128-bit hash. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = md5(col(textCol))
    docs
      .select(col(idCol).as("doc_id"), h.as("content_hash"))
      .withColumn("canonical_id",
        min(col("doc_id")).over(Window.partitionBy("content_hash")))
  }

  /** Distinct word `n`-gram shingles per document: (doc_id, shingle).
    * Docs shorter than `n` words contribute no shingles. */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val grams = (0 until n).map(j => col("__ws")(col("__i") + j))
    docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("__ws"))
      .select(col("doc_id"),
        explode(when(size(col("__ws")) >= n,
          sequence(lit(0), size(col("__ws")) - n)).otherwise(array())).as("__i"),
        col("__ws"))
      .select(col("doc_id"), concat_ws(" ", grams: _*).as("shingle"))
      .distinct()
  }

  /** Drop shingles occurring in more than `maxDf` documents — the skew guard
    * for web-scale corpora (boilerplate phrases otherwise explode the
    * candidate-pair join). */
  def capDocFrequency(sh: DataFrame, maxDf: Long): DataFrame = {
    val df = sh.groupBy("shingle").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf).select("shingle")
    sh.join(df, Seq("shingle"), "left_semi")
  }

  /** Exact Jaccard over an inverted index: candidate pairs = docs sharing at
    * least one shingle; |A∩B| from the shingle self-join, |A| and |B| from
    * per-doc shingle counts; keep pairs with jaccard ≥ threshold.
    *
    * Shuffles: one on shingle (the pair join), one on doc_id (counts),
    * one on the pair key (common-count agg). All keys are data-sized.
    *
    * The shingle frame feeds three consumers (counts + both join sides);
    * persisting it runs the explode+distinct pipeline once — the self-join
    * sides share a ReusedExchange, but the doc_id-keyed counts shuffle
    * would otherwise recompute the scan from scratch. Callers that already
    * persisted `sh` (or that need the raw logical plan, e.g. plan tests)
    * pass `cache = false` — persist is keyed by the analyzed plan, so a
    * second persist of the same frame is only warning noise.
    */
  def jaccardPairs(sh: DataFrame, threshold: Double, cache: Boolean = true): DataFrame = {
    val shc = if (cache)
      sh.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else sh
    val counts = shc.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val common = shc.as("a")
      .join(shc.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(counts.withColumnsRenamed(Map("doc_id" -> "doc_a", "n_shingles" -> "n_a")), "doc_a")
      .join(counts.withColumnsRenamed(Map("doc_id" -> "doc_b", "n_shingles" -> "n_b")), "doc_b")
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard")
  }

  /** MinHash signature: `numHashes` permutations simulated by seeded md5;
    * signature h_i(doc) = min over shingles of md5(i ":" shingle). One
    * shuffle on doc_id; the min is a partial (map-side) aggregate.
    *
    * `includeCount` fuses the per-doc shingle count into the SAME
    * aggregation as an `n_shingles` column (the Jaccard verify needs it;
    * a separate counts pass would shuffle the full shingle frame on
    * doc_id a second time for data this shuffle already carries). One
    * definition of the hash expression serves every consumer — q32's
    * fused path and q54's index build cannot drift apart. */
  def minhashSignatures(
      sh: DataFrame, numHashes: Int = 16, includeCount: Boolean = false): DataFrame = {
    val aggs = (0 until numHashes).map { i =>
      min(md5(concat(lit(s"$i:"), col("shingle")))).as(s"h$i")
    } ++ (if (includeCount) Seq(count(lit(1)).as("n_shingles")) else Seq.empty)
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: signature split into `bands` bands of `rowsPerBand`
    * hashes; band key = md5 of the concatenated hashes. Docs colliding on
    * any band key are candidate pairs. Returns (doc_id, band_idx, band_key).
    *
    * Single pass: all band keys are computed as one array and `posexplode`d,
    * so the signature frame is scanned ONCE — a per-band select unioned
    * `bands` times would recompute the whole upstream pipeline per band. */
  def lshBands(sig: DataFrame, bands: Int = 4, rowsPerBand: Int = 4): DataFrame = {
    // rowsPerBand = 0 would key every band as md5 of ZERO columns — one
    // identical key for the whole corpus, i.e. the C(n,2) all-pairs
    // blowup this module exists to avoid — so the degenerate geometry
    // must fail loudly at plan time, not melt down at run time
    require(bands >= 1 && rowsPerBand >= 1,
      s"degenerate LSH geometry: bands=$bands rowsPerBand=$rowsPerBand")
    val bandKeys = (0 until bands).map { b =>
      val cols = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      md5(concat_ws("|", cols: _*))
    }
    sig.select(
      col("doc_id"),
      posexplode(array(bandKeys: _*)).as(Seq("band_idx", "band_key")))
  }

  /** Candidate pairs from band collisions (distinct across bands). The join
    * key (band_idx, band_key) is uniform by construction — md5 destroys any
    * input skew, so this shuffle cannot hot-spot. */
  def lshCandidates(bandsDf: DataFrame): DataFrame =
    bandsDf.as("a")
      .join(bandsDf.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

  /** MinHash+LSH dedup end-to-end: candidates from band collisions, then
    * exact-Jaccard verification restricted to candidates (the verify join
    * touches only candidate docs' shingles, not the full corpus square).
    *
    * The per-doc shingle counts the Jaccard needs are FUSED into the
    * signature aggregation (same groupBy key, one extra count column) —
    * a separate counts pass would shuffle the full shingle frame on
    * doc_id a second time for data the signature shuffle already carries.
    * That leaves the shingle frame with three consumers (the fused
    * signature+count agg, both sides of the verify join) and the signature
    * frame with two (the band self-join); both are persisted so the
    * explode+distinct shingle shuffle runs once. Callers that keep the
    * shingle frame around can `unpersist()` after the result is
    * materialized.
    *
    * Measured (r4 attribution run, sf0.1, local[32], cold): the whole
    * pipeline is ~1.5-2.0 s — shingles 0.40, signatures 0.40, band
    * candidates 0.30, Jaccard verify 0.91. BENCH_r03's 7.25 s was
    * neither this plan's cost nor (as r2→r3 comparison suggested) cache
    * substitution: cold-isolated and warm-after-q31 both measure ~1.5-1.7
    * s in a dedicated session — the 7 s number only reproduces inside the
    * full 57-query bench sweep (host/JVM-context inflation, see
    * BENCH_NOTES.md). */
  def minhashDedup(
      sh: DataFrame,
      threshold: Double,
      numHashes: Int = 16,
      bands: Int = 4
  ): DataFrame = {
    // non-divisible geometry would silently IGNORE the trailing hashes
    // (numHashes=16, bands=5 → 15 used), quietly lowering recall
    require(numHashes >= 1 && bands >= 1 && numHashes % bands == 0,
      s"bands must divide numHashes: numHashes=$numHashes bands=$bands")
    import org.apache.spark.storage.StorageLevel
    val shc = sh.persist(StorageLevel.MEMORY_AND_DISK)
    val sig = minhashSignatures(shc, numHashes, includeCount = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cands = lshCandidates(lshBands(sig, bands, numHashes / bands))
    val counts = sig.select(col("doc_id"), col("n_shingles"))
    val common = cands
      .join(shc.as("sa"), col("sa.doc_id") === col("doc_a"))
      .join(shc.as("sb"),
        col("sb.doc_id") === col("doc_b") && col("sb.shingle") === col("sa.shingle"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_common"))
    common
      .join(counts.withColumnsRenamed(Map("doc_id" -> "doc_a", "n_shingles" -> "n_a")), "doc_a")
      .join(counts.withColumnsRenamed(Map("doc_id" -> "doc_b", "n_shingles" -> "n_b")), "doc_b")
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** PRODUCTION n-gram Jaccard dedup: shingle → document-frequency cap →
    * inverted-index pair join. This is the entry point a pipeline should
    * call at scale; the uncapped [[jaccardPairs]] path exists for oracle
    * parity and small corpora.
    *
    * `maxDf` choice: the pair join emits C(df,2) candidates per shingle, so
    * a shingle in 10k docs costs ~5·10^7 pairs on its own. Capping df at
    * 1000 bounds any one shingle to ~5·10^5 pairs while keeping recall —
    * a true near-duplicate pair shares many shingles, so losing its few
    * boilerplate shingles (the high-df ones are navigation chrome, license
    * headers, templates) still leaves shared low-df shingles to surface the
    * pair. The same default governs web-scale dedup in practice; tune down
    * toward 100 for template-heavy corpora. */
  def jaccardDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.8,
      maxDf: Long = 1000
  ): DataFrame =
    jaccardPairs(capDocFrequency(shingles(docs, idCol, textCol, n), maxDf), threshold)

  /** PRODUCTION MinHash+LSH dedup with the same document-frequency guard:
    * the cap bounds both the signature cost (fewer shingle rows) and —
    * because boilerplate shingles no longer dominate the minima — the
    * band-collision rate of template-heavy corpora. */
  def minhashDedupCapped(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.8,
      numHashes: Int = 16,
      bands: Int = 4,
      maxDf: Long = 1000
  ): DataFrame =
    minhashDedup(capDocFrequency(shingles(docs, idCol, textCol, n), maxDf),
      threshold, numHashes, bands)

  /** 64-bit SimHash packed into four 16-bit integer bands (`b0`-`b3`):
    * bit i of the fingerprint is the sign of Σ_tokens ±1, where the ±1 is
    * bit (3 - i%4) of md5-hex-nibble i/4. Integers, not bit-strings, on
    * purpose: the first cut carried a 64-char fingerprint string and 64
    * substring aggregates — its generated code took ~25 s to JIT and the
    * pair verify did 128 substring compares per row. Packed bands make
    * banding a plain equi-key and Hamming a `bit_count(xor)` — both
    * codegen to a handful of integer ops. One shuffle on doc_id.
    *
    * 64 bits (not [[simhash16]]'s 16) is what survives scale: a 16-bit
    * space has 65536 fingerprints, so at thousands of documents its band
    * buckets saturate and banded pairing degenerates toward all-pairs
    * (measured at sf0.1: 3.5M "candidate" pairs from 5k docs). */
  def simhash64Bands(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = docs.select(
      col(idCol).as("doc_id"),
      explode(split(col(textCol), " ")).as("word"))
      .withColumn("__h", md5(col("word")))
    // two 32-bit hex parses per token, then pure integer bit tests: the
    // previous shape ran 16 single-char conv()s per token (16 substring
    // allocations + 16 radix parses); nibble j of an 8-char half is
    // (half >> 4*(8-j)) & 15, bit-identical to parsing char j alone
    // (r13, guide §4 — fewer non-trivial expressions in the hot path)
    val halves = Seq(
      conv(substring(col("__h"), 1, 8), 16, 10).cast("long").as("__w1"),
      conv(substring(col("__h"), 9, 8), 16, 10).cast("long").as("__w2"))
    val withWords = tok.select(col("doc_id") +: halves: _*)
    val nibs = (1 to 16).map { j =>
      val (w, jj) = if (j <= 8) (col("__w1"), j) else (col("__w2"), j - 8)
      shiftright(w, 4 * (8 - jj)).bitwiseAND(lit(15L)).cast("int").as(s"n$j")
    }
    val withNibs = withWords.select(col("doc_id") +: nibs: _*)
    val bitSums = (0 until 64).map { i =>
      val nib = col(s"n${i / 4 + 1}")
      val shift = 3 - i % 4
      sum(when(shiftright(nib, shift).bitwiseAND(lit(1)) === 1, 1).otherwise(-1))
        .as(s"s$i")
    }
    val bandCols = (0 until 4).map { b =>
      (0 until 16).map { k =>
        when(col(s"s${b * 16 + k}") >= 0, lit(1 << (15 - k))).otherwise(lit(0))
      }.reduce(_ + _).as(s"b$b")
    }
    withNibs.groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id") +: bandCols: _*)
  }

  /** SimHash near-duplicate pairs via band blocking + exact Hamming verify
    * over a [[simhash64Bands]] frame.
    *
    * Docs sharing any of the four 16-bit band values are candidates (one
    * shuffle on the band value), then exact Hamming — Σ `bit_count(xor)`
    * of the bands — filters to ≤ `maxHamming`. By pigeonhole, any pair
    * within `bands - 1 = 3` differing bits shares at least one clean
    * band, so for maxHamming ≤ 3 this returns EXACTLY the all-pairs
    * answer without ever forming all pairs — the q29 oracle states the
    * all-pairs spec and the hash gate proves the equality.
    *
    * Band width is the skew lever, MEASURED on the synthetic corpus at
    * sf0.1 (5k docs, short shared-vocab texts → fingerprints cluster,
    * median pairwise Hamming 20/64): 16-bit bands → 188k candidate pairs,
    * hottest bucket 279 docs; 8-bit bands → 5.0M candidates, hottest
    * bucket 1138 docs. */
  def simhashPairs(fp: DataFrame, maxHamming: Int = 3): DataFrame = {
    val bandNames = (0 until 4).map(b => s"b$b")
    val banded = fp.select(
      col("doc_id") +: bandNames.map(col) :+
        posexplode(array(bandNames.map(col): _*)).as(Seq("band_idx", "band_val")): _*)
    val cands = banded.as("a")
      .join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a") +: col("b.doc_id").as("doc_b") +:
          (bandNames.map(n => col(s"a.$n").as(s"a_$n")) ++
            bandNames.map(n => col(s"b.$n").as(s"b_$n"))): _*)
      .distinct()
    val hamming = bandNames.map(n =>
      bit_count(col(s"a_$n").bitwiseXOR(col(s"b_$n")))).reduce(_ + _)
    cands
      .withColumn("hamming", hamming)
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Incremental banded-Hamming dedup — [[simhashPairs]]'s O(batch)
    * serving form, and the media-dedup twin of [[minhashIncremental]]:
    * near-dup pairs INVOLVING A NEW BATCH of fingerprints against a
    * persisted fingerprint index, without re-pairing the corpus.
    *
    * The production loop: the lake persists each document's 4×16-bit
    * fingerprint bands (aHash/dHash/wHash for images, [[graft.ops
    * .Multimodal.audioFingerprint]] for audio, simhash for text — a few
    * bytes per doc); a new batch computes ITS OWN fingerprints only,
    * joins its bands against index ∪ own bands for candidates, and
    * Hamming-verifies with both fingerprints in hand. Corpus-side work
    * is the band join restricted to colliding keys — O(batch), not
    * O(corpus). Corpus-internal pairs are never re-emitted (one side of
    * every candidate is a new doc); new-new pairs appear once
    * (doc_a < doc_b). Inputs carry (doc_id, b0..b3) with ids disjoint
    * across the two frames (the lake's append-only contract). Returns
    * (doc_a, doc_b, hamming) with hamming ≤ `maxHamming`; doc_a < doc_b.
    * Gated by q320 against the full-recompute oracle restricted to
    * new-involving pairs. */
  def simhashIncremental(
      newFp: DataFrame, indexFp: DataFrame, maxHamming: Int = 3): DataFrame = {
    val bandNames = (0 until 4).map(b => s"b$b")
    def banded(fp: DataFrame): DataFrame = fp.select(
      Seq(col("doc_id"),
        posexplode(array(bandNames.map(col): _*))
          .as(Seq("band_idx", "band_val"))): _*)
    val newB = banded(newFp)
    val allB = banded(newFp.unionByName(indexFp))
    // one side is ALWAYS a new doc; new-new pairs orient a < b, new-index
    // pairs keep both orientations out by the id inequality then reorient
    val cand = newB.as("a")
      .join(allB.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(
        least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
    val all = newFp.unionByName(indexFp)
    val withFp = cand
      .join(all.withColumnsRenamed(
        (("doc_id" -> "doc_a") +: bandNames.map(n => n -> s"a_$n")).toMap), "doc_a")
      .join(all.withColumnsRenamed(
        (("doc_id" -> "doc_b") +: bandNames.map(n => n -> s"b_$n")).toMap), "doc_b")
    val hamming = bandNames.map(n =>
      bit_count(col(s"a_$n").bitwiseXOR(col(s"b_$n")))).reduce(_ + _)
    withFp
      .withColumn("hamming", hamming)
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** The banded fingerprint layout [[writeSimhashIndexBucketed]] persists:
    * one row per (doc, band) carrying the FULL fingerprint (b0..b3)
    * inline next to the band key. The inline fingerprints cost 32 extra
    * bytes/row but buy the whole verify step: a band-key join already has
    * both sides' fingerprints in hand, so the incremental probe needs NO
    * second join back into the corpus — at 100 TB that second join is a
    * corpus-sized shuffle this layout deletes. */
  def simhashBandRows(fp: DataFrame): DataFrame = {
    val bandNames = (0 until 4).map(b => s"b$b")
    fp.select(
      col("doc_id") +: bandNames.map(col) :+
        posexplode(array(bandNames.map(col): _*))
          .as(Seq("band_idx", "band_val")): _*)
  }

  /** Compaction half of the EXCHANGE-FREE incremental dedup loop: persist
    * a fingerprint frame's band rows ([[simhashBandRows]]) bucketed AND
    * sorted on the band key via [[graft.core.Bucketing]].
    *
    * Writing both the corpus index (at compaction) and each daily batch
    * (tiny) through this same writer makes the per-batch band join
    * bucket-aligned on (band_idx, band_val): Spark plans it with ZERO
    * exchanges and zero sorts — the corpus index is NEVER re-shuffled,
    * not even once per batch. This is the difference vs
    * [[simhashIncremental]], which re-shuffles index ∪ batch on the band
    * key every run; PlanSpec pins the physical property and q327 pins
    * the value contract. Bucket count must match between index and batch
    * (Spark only aligns equal bucket counts); at 100 TB size it so one
    * bucket's band rows fit an executor core (thousands).
    *
    * MEASURED (BucketedDedupProbe, local[32], fixed 2k-doc batch, min of
    * 3, cold caches): against a 100k→1M→3M-doc index, the unbucketed
    * [[simhashIncremental]] grows with the corpus it re-shuffles every
    * run — 0.50 → 0.98 → 1.80 s — while [[probeSimhashIndexBucketed]]
    * stays flat at 1.11 → 1.08 → 1.51 s (the ×30 rise is candidate
    * density, paid by both arms). Local crossover at ~1M docs; at
    * cluster scale the shuffled arm's corpus-sized exchange is the
    * difference between a daily batch and an impossible one. The
    * table-to-table form adds a ~3 s per-batch `saveAsTable` metastore
    * commit locally — use it when the batch is being compacted into the
    * lake anyway, [[probeSimhashIndexBucketed]] otherwise. */
  def writeSimhashIndexBucketed(
      fp: DataFrame, table: String, path: String, nBuckets: Int): Unit =
    graft.core.Bucketing.writeBucketed(
      simhashBandRows(fp), table, path, nBuckets, Seq("band_idx", "band_val"))

  /** Probe half of the exchange-free incremental dedup loop —
    * [[simhashIncremental]]'s contract ((doc_a, doc_b, hamming ≤ max),
    * doc_a < doc_b, new-involving pairs only, new-new once) served from
    * two bucketed band tables written by [[writeSimhashIndexBucketed]].
    *
    * Plan shape (PlanSpec-pinned): the batch↔index and batch↔batch band
    * joins are sort-merge joins with NO exchange and NO sort on either
    * side — co-location was paid once at write time. The only exchange
    * in the whole plan is the final distinct over CANDIDATE pairs
    * (multi-band collisions emit duplicates), which is O(candidates) —
    * batch-sized, never corpus-sized. Fingerprints ride inline in the
    * band rows, so there is no join back into the corpus at all.
    *
    * Doc ids must be disjoint across the two tables (the lake's
    * append-only contract, as in [[simhashIncremental]]). */
  def simhashIncrementalBucketed(
      spark: org.apache.spark.sql.SparkSession,
      batchTable: String, indexTable: String,
      maxHamming: Int = 3): DataFrame =
    incrementalFromBands(
      spark.table(batchTable), spark.table(indexTable), maxHamming)

  /** Serving-path twin of [[simhashIncrementalBucketed]] for the
    * latency-sensitive loop: probe the bucketed index with a PLAIN batch
    * fingerprint frame — no per-batch table write, no metastore round
    * trip. The batch side pays ONE batch-sized exchange to align with
    * the index's bucket spec — the explicit repartition below, which all
    * three join inputs (new-old probe side, both new-new sides) REUSE —
    * and the corpus index itself is never shuffled (PlanSpec pins
    * exactly one band-key exchange in the plan, where the unbucketed
    * [[simhashIncremental]] shuffles index ∪ batch). Same output
    * contract. Use the table-to-table form when the batch is being
    * compacted into the lake anyway; use this form for probe-only
    * batches. */
  def probeSimhashIndexBucketed(
      spark: org.apache.spark.sql.SparkSession,
      batchFp: DataFrame, indexTable: String,
      maxHamming: Int = 3): DataFrame = {
    // align the batch to the index's bucketing ONCE: HashPartitioning on
    // the bucket keys with the bucket count co-partitions with the
    // bucketed scan, so neither join adds an exchange of its own
    val nBuckets = spark.sessionState.catalog
      .getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(indexTable))
      .bucketSpec.map(_.numBuckets)
    val bands = simhashBandRows(batchFp)
    val bat = nBuckets
      .map(n => bands.repartition(n, col("band_idx"), col("band_val")))
      .getOrElse(bands)
    incrementalFromBands(bat, spark.table(indexTable), maxHamming)
  }

  /** Shared candidate+verify shape of the bucketed incremental family:
    * band-key joins (batch↔index new-old, batch↔batch new-new once),
    * Hamming off the inline fingerprints, distinct over candidates. */
  private def incrementalFromBands(
      bat: DataFrame, idx: DataFrame, maxHamming: Int): DataFrame = {
    def emit(b: DataFrame, newNew: Boolean): DataFrame = {
      val keys = col("a.band_idx") === col("b.band_idx") &&
        col("a.band_val") === col("b.band_val")
      val cond =
        if (newNew) keys && col("a.doc_id") < col("b.doc_id")
        else keys // id-disjoint frames: no self pair possible
      val hamming = (0 until 4).map(i =>
        bit_count(col(s"a.b$i").bitwiseXOR(col(s"b.b$i")))).reduce(_ + _)
      bat.as("a").join(b.as("b"), cond)
        .select(
          least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
          hamming.as("hamming"))
        .filter(col("hamming") <= maxHamming)
    }
    emit(idx, newNew = false)
      .unionByName(emit(bat, newNew = true))
      .distinct()
  }

  /** Incremental MinHash dedup: near-dup pairs INVOLVING A NEW BATCH
    * against an existing corpus, without recomputing the corpus.
    *
    * The production loop this supports: at ingest time the lake persists
    * the corpus' band index — `lshBands(minhashSignatures(shingles))` as
    * parquet, a few dozen bytes per document — and each daily batch then
    * (1) computes bands for ITS OWN documents only, (2) joins them against
    * index ∪ own-bands for candidates, (3) Jaccard-verifies candidates
    * against the combined shingle frames. Corpus-side work is a semi-join
    * restricted to candidate docs, so the job is O(batch), not O(corpus) —
    * at 100 TB that is the difference between a daily job and an
    * impossible one. Corpus-internal pairs are (by construction) never
    * re-emitted: one side of the candidate join is always a new doc.
    *
    * Returns the same (doc_a, doc_b, jaccard) contract as [[minhashDedup]]
    * with doc_a < doc_b; new-new pairs appear once.
    *
    * The new batch's shingle and band frames are persisted (they feed the
    * band join and the verify join); a long-lived driver running this
    * daily should `spark.catalog.clearCache()` (or unpersist) after
    * materializing each day's result, or the per-day frames accumulate.
    *
    * MEASURED O(batch) (r4 IncrementalProbe, sf0.1 documents,
    * parquet-backed corpus artifacts, cold, min-of-3): splitting the same
    * 5k-doc table at three points — corpus 250/batch 4750 → 2.39 s,
    * corpus 4500/batch 500 → 1.80 s, corpus 4900/batch 100 → 1.67 s.
    * Runtime tracks the BATCH size over a ~1.6 s local scheduling floor
    * while the corpus side grows 20× — the scaling a daily loop needs.
    * (The q54 bench number uses the oracle's corpus-250 split, where the
    * "batch" is 95% of the table; it necessarily costs what a full q32
    * pass costs.)
    *
    * @param indexBands   persisted corpus band index (doc_id, band_idx, band_key)
    * @param corpusShingles corpus shingle frame (only candidate docs' rows
    *                       are touched — keep it parquet-backed and lazy)
    * @param newSh        the new batch's shingles ([[shingles]] output)
    */
  def incrementalMinhash(
      indexBands: DataFrame,
      corpusShingles: DataFrame,
      newSh: DataFrame,
      threshold: Double,
      numHashes: Int = 16,
      bands: Int = 4
  ): DataFrame = {
    require(numHashes >= 1 && bands >= 1 && numHashes % bands == 0,
      s"bands must divide numHashes: numHashes=$numHashes bands=$bands")
    import org.apache.spark.storage.StorageLevel
    val shc = newSh.persist(StorageLevel.MEMORY_AND_DISK)
    val newBands = lshBands(minhashSignatures(shc, numHashes), bands, numHashes / bands)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val allBands = indexBands.unionByName(newBands)
    // the candidate pair list is tiny (near-dup pairs touching the batch)
    // but feeds FOUR downstream consumers (candDocs × the three sh reads,
    // plus the verify join) — unpersisted, each one would replay the band
    // self-join; measured at sf0.1 this persist+the sh persist below cut
    // the operator from 6.6 s to the ~2 s the O(batch) shape predicts
    val cands = newBands.as("a")
      .join(allBands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(
        least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    jaccardVerifyCandidates(cands, corpusShingles.unionByName(shc),
      threshold, cache = true)
  }

  /** Shared exact-Jaccard verify over a CANDIDATE pair frame: restrict
    * the (possibly corpus-sized) shingle frame to candidate docs via a
    * semi-join BEFORE any aggregation — the restriction is what makes
    * the incremental family O(batch) — then common-shingle counts and
    * the threshold filter. Used by [[incrementalMinhash]] and
    * [[incrementalMinhashBucketed]]. */
  private def jaccardVerifyCandidates(
      cands: DataFrame, allShingles: DataFrame, threshold: Double,
      cache: Boolean): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val candDocs = cands.select(col("doc_a").as("doc_id"))
      .union(cands.select(col("doc_b").as("doc_id"))).distinct()
    // candidate docs' shingles only — small, read three times
    // (counts + both sides of the verify join)
    val shRaw = allShingles.join(candDocs, Seq("doc_id"), "left_semi")
    val sh = if (cache) shRaw.persist(StorageLevel.MEMORY_AND_DISK) else shRaw
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val common = cands
      .join(sh.as("sa"), col("sa.doc_id") === col("doc_a"))
      .join(sh.as("sb"),
        col("sb.doc_id") === col("doc_b") && col("sb.shingle") === col("sa.shingle"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_common"))
    common
      .join(counts.withColumnsRenamed(Map("doc_id" -> "doc_a", "n_shingles" -> "n_a")), "doc_a")
      .join(counts.withColumnsRenamed(Map("doc_id" -> "doc_b", "n_shingles" -> "n_b")), "doc_b")
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Compaction half of the exchange-free incremental MinHash loop:
    * persist an [[lshBands]] frame bucketed+sorted on the band key —
    * the text twin of [[writeSimhashIndexBucketed]]. */
  def writeMinhashIndexBucketed(
      indexBands: DataFrame, table: String, path: String, nBuckets: Int): Unit =
    graft.core.Bucketing.writeBucketed(
      indexBands, table, path, nBuckets, Seq("band_idx", "band_key"))

  /** Corpus shingle store bucketed on doc_id — the verify side's
    * artifact: per-doc shingle counts aggregate exchange-free on the
    * bucketing, and the candidate semi-join broadcasts its tiny doc
    * list against the scan rather than shuffling the corpus. */
  def writeShingleStoreBucketed(
      sh: DataFrame, table: String, path: String, nBuckets: Int): Unit =
    graft.core.Bucketing.writeBucketed(sh, table, path, nBuckets, Seq("doc_id"))

  /** EXCHANGE-FREE serving form of [[incrementalMinhash]] — the q54
    * production loop with the index re-shuffle deleted, mirroring
    * [[probeSimhashIndexBucketed]]: the persisted band index (written by
    * [[writeMinhashIndexBucketed]]) is NEVER re-shuffled; the batch's
    * bands pay one explicit repartition to the index's bucket spec
    * (AQE-stage-reused across the new-old and new-new joins), and the
    * corpus shingle store (written by [[writeShingleStoreBucketed]])
    * reaches the verify through a broadcast semi-join on the tiny
    * candidate doc list — no corpus-sized exchange anywhere in the
    * plan (PlanSpec pins it; q333 pins the value contract ≡ q54's
    * full-recompute-restricted oracle). `cache = false` is for plan
    * tests only (the persists hide filters inside InMemoryRelation).
    *
    * MEASURED, honestly (BucketedMinhashProbe, sf0.1, 500-doc batch,
    * corpus ×1/×10/×20, min of 3): LOCALLY both forms are corpus-size-
    * flat (shuffled 2.09→2.27→2.43 s, bucketed 2.36→2.61→2.89 s) — at
    * these fixture sizes the batch's own shingle/signature work
    * dominates and the bucketed form's ~0.3-0.5 s metastore constant is
    * a net loss. The exchange it deletes grows with the corpus while
    * everything else here is batch-bound, and the mechanism's measured
    * win at index sizes where the shuffle IS the cost (1-3M rows) is on
    * record in [[probeSimhashIndexBucketed]]'s BucketedDedupProbe
    * numbers; prefer plain [[incrementalMinhash]] below that regime. */
  def incrementalMinhashBucketed(
      spark: org.apache.spark.sql.SparkSession,
      indexBandsTable: String,
      corpusShinglesTable: String,
      newSh: DataFrame,
      threshold: Double,
      numHashes: Int = 16,
      bands: Int = 4,
      cache: Boolean = true
  ): DataFrame = {
    require(numHashes >= 1 && bands >= 1 && numHashes % bands == 0,
      s"bands must divide numHashes: numHashes=$numHashes bands=$bands")
    import org.apache.spark.storage.StorageLevel
    val indexBands = spark.table(indexBandsTable)
    val nBuckets = spark.sessionState.catalog
      .getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(indexBandsTable))
      .bucketSpec.map(_.numBuckets)
    val shc =
      if (cache) newSh.persist(StorageLevel.MEMORY_AND_DISK) else newSh
    val rawBands =
      lshBands(minhashSignatures(shc, numHashes), bands, numHashes / bands)
    val aligned = nBuckets
      .map(n => rawBands.repartition(n, col("band_idx"), col("band_key")))
      .getOrElse(rawBands)
    val newBands =
      if (cache) aligned.persist(StorageLevel.MEMORY_AND_DISK) else aligned
    def pairs(b: DataFrame, newNew: Boolean): DataFrame = {
      val keys = col("a.band_idx") === col("b.band_idx") &&
        col("a.band_key") === col("b.band_key")
      val cond =
        if (newNew) keys && col("a.doc_id") < col("b.doc_id")
        else keys // id-disjoint: index never contains batch docs
      newBands.as("a").join(b.as("b"), cond)
        .select(
          least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
    }
    val candsRaw = pairs(indexBands, newNew = false)
      .unionByName(pairs(newBands, newNew = true))
      .distinct()
    val cands =
      if (cache) candsRaw.persist(StorageLevel.MEMORY_AND_DISK) else candsRaw
    jaccardVerifyCandidates(cands,
      spark.table(corpusShinglesTable).unionByName(shc), threshold, cache)
  }

  /** Connected components over an undirected pair list by iterative
    * min-label propagation: every node's label converges to the smallest
    * node id in its component. This is the step that turns near-duplicate
    * PAIRS ([[jaccardPairs]], [[minhashDedup]], [[simhashPairs]]) into
    * duplicate CLUSTERS with a canonical representative — what a curation
    * pass actually consumes (keep min id, drop the rest).
    *
    * Scale shape: each round shuffles on node id twice — messages along
    * symmetrized edges AND a pointer jump (my new label = min of my
    * label, my neighbors' labels, and my label's label). The jump doubles
    * the distance a label travels per round, so convergence is
    * O(log diameter) rounds, not O(diameter) — a million-hop chain
    * resolves in ~20 rounds (the same doubling idea as the alternating
    * large-star/small-star MapReduce algorithm, Kiveris et al.). Near-dup
    * graphs are star-ish cliques anyway (2-3 rounds in practice). The
    * loop is a [[Fixpoint.converge]] (checkpointing, the one count per
    * round, loud non-convergence).
    *
    * @param nodes one row per node: (`doc_id`)
    * @param pairs undirected edges: (`doc_a`, `doc_b`)
    * @return (doc_id, cluster_id) — cluster_id = min doc_id reachable
    */
  def connectedComponents(
      nodes: DataFrame, pairs: DataFrame, maxIter: Int = 20): DataFrame =
    connectedComponentsWithRounds(nodes, pairs, maxIter)._1

  /** [[connectedComponents]] plus the number of rounds the loop actually
    * ran (the converged round — where no label changed — included). The
    * count is the observable the O(log diameter) pointer-jump claim rests
    * on: a diameter-64 chain must close in ~log2(64)+2 ≈ 8 rounds, and
    * DedupSpec pins that bound so a regression that drops the jump join
    * (and silently degrades to O(diameter) rounds) fails a test instead of
    * surfacing as slowness at production scale. Non-convergence throws: a
    * truncated loop would split real components into several "canonical"
    * docs and a curation pass would keep duplicates (raise maxIter, or
    * pre-collapse long chains). */
  def connectedComponentsWithRounds(
      nodes: DataFrame, pairs: DataFrame, maxIter: Int = 20): (DataFrame, Int) = {
    import org.apache.spark.storage.StorageLevel
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (labels, rounds) = Fixpoint.converge("connectedComponents", maxIter,
        nodes.select(col("doc_id"), col("doc_id").as("cluster_id")),
        changed = Some(col("cluster_id") =!= col("__old"))) { prev =>
      val labels = prev.drop("__old")
      val labelType = labels.schema("cluster_id").dataType
      val msgs = edges
        .join(labels.withColumnRenamed("doc_id", "src"), Seq("src"))
        .select(col("dst").as("doc_id"), col("cluster_id"),
          lit(null).cast(labelType).as("__old"))
      // pointer jump: adopt my label's own label (doubles propagation
      // distance per round — O(log diameter) total rounds). The jump leg
      // also CARRIES each node's old label (`a.cluster_id`): labels only
      // decrease, so min(msgs ∪ jump) ≤ old and a separate `labels` leg
      // in the union is redundant; and max(__old) rides the SAME
      // aggregation, so convergence is read off the checkpointed result
      // with a plain scan — no per-round next⋈labels shuffle join just to
      // detect convergence (guide §2.4: two operations keyed the same way
      // share one exchange). Every node has exactly one jump row (its
      // label is itself a doc_id), so no node can drop out of the
      // aggregation.
      val jump = labels.as("a")
        .join(labels.as("b"), col("a.cluster_id") === col("b.doc_id"))
        .select(col("a.doc_id"), col("b.cluster_id").as("cluster_id"),
          col("a.cluster_id").as("__old"))
      msgs.union(jump)
        .groupBy("doc_id").agg(
          min("cluster_id").as("cluster_id"), max("__old").as("__old"))
    }
    edges.unpersist()
    (labels.drop("__old"), rounds)
  }

  /** Duplicate clusters end-to-end: documents + near-dup pairs →
    * (doc_id, cluster_id, cluster_size). Singleton documents form their
    * own cluster of size 1, so the output is a total map over the corpus —
    * a curation pass keeps `doc_id == cluster_id` rows and drops the rest. */
  def dupClusters(nodes: DataFrame, pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    connectedComponents(nodes, pairs)
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster_id")))
  }

  /** Canonical-survivor selection — the step after [[dupClusters]] that
    * actually SHRINKS the corpus: keep exactly one document per duplicate
    * cluster, chosen by a quality score (longest text, classifier score,
    * source priority — any numeric column), ties broken by smallest
    * doc_id so the choice is deterministic under any partitioning.
    * `dupClusters`' own `doc_id == cluster_id` rule keeps the
    * smallest-id member regardless of quality; real curation wants the
    * BEST member, which is this operator.
    *
    * Plan shape: one broadcast-able join of the cluster map onto the
    * score frame, then a row_number window on hash(cluster_id) — at
    * corpus scale the window state per task is one cluster's rows, and
    * no full-row data moves (join carries only doc_id, cluster
    * metadata, and the score column).
    *
    * @param clusters [[dupClusters]] output (doc_id, cluster_id, cluster_size)
    * @param scores   (doc_id, scoreCol, ...) — one row per corpus doc
    * @return one row per cluster: the surviving doc with its cluster_id,
    *         cluster_size, and n_dropped = cluster_size − 1
    */
  def keepCanonical(
      clusters: DataFrame, scores: DataFrame, scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("cluster_id")
      .orderBy(col(scoreCol).desc, col("doc_id"))
    clusters.join(scores, Seq("doc_id"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("cluster_size") - lit(1L)).cast("long").as("n_dropped"))
  }

  /** Benchmark decontamination: corpus documents sharing at least
    * `minOverlap` distinct shingles with an evaluation/benchmark set.
    * Training corpora must drop these rows or eval numbers are
    * contaminated; the standard check is exactly this n-gram overlap.
    *
    * Scale shape: the benchmark side is tiny (eval suites are thousands
    * of rows) — its distinct shingle set broadcasts, so the corpus scan
    * is one pass with a broadcast semi-join and a doc_id-keyed count.
    * Nothing touches corpus×corpus pairs.
    *
    * @return (doc_id, n_overlap) for contaminated docs only
    */
  def contamination(
      corpusSh: DataFrame, benchSh: DataFrame, minOverlap: Int = 1): DataFrame =
    corpusSh
      .join(broadcast(benchSh.select("shingle").distinct()), Seq("shingle"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)

  /** 16-bit SimHash over whitespace tokens (with multiplicity): bit j of the
    * fingerprint is the sign of Σ_tokens (±1), where the ±1 is the j-th
    * nibble-MSB of md5(token). Single shuffle on doc_id; 16 parallel sums. */
  def simhash16(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val highNibbles = Seq("8", "9", "a", "b", "c", "d", "e", "f")
    val tok = docs.select(
      col(idCol).as("doc_id"),
      explode(split(col(textCol), " ")).as("word"))
      .withColumn("__h", md5(col("word")))
    val bitSums = (1 to 16).map { j =>
      sum(when(substring(col("__h"), j, 1).isInCollection(highNibbles), 1)
        .otherwise(-1)).as(s"s$j")
    }
    val bits = (1 to 16).map(j => when(col(s"s$j") >= 0, "1").otherwise("0"))
    tok.groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), concat(bits: _*).as("simhash"))
  }

  /** Sub-document span dedup — the C4 rule ("any three-sentence span
    * occurring more than once in the corpus is removed once seen twice"),
    * at fixed word-span granularity since this corpus has no sentence
    * marks: documents split into consecutive `span`-word chunks, every
    * chunk whose exact text appears in ≥ `minDocs` DISTINCT documents is
    * dropped from all of them, and each document is re-assembled from its
    * surviving chunks in order. This removes boilerplate (headers,
    * licenses, navigation) that document-level dedup can never see
    * because the surrounding text differs.
    *
    * Scale shape:
    *   - chunking is the zero-shuffle posexplode fan-out
    *     ([[graft.ops.Packing.chunkDocuments]] with overlap 0);
    *   - ONE shuffle keyed on the span text for the distinct-doc count
    *     (map-side combine; span keys are near-uniform — the hot-key
    *     ceiling is docs-per-boilerplate-span, exactly the thing being
    *     removed, and a `maxDf`-style cap is unnecessary because the
    *     count aggregate is O(1) state per key however hot the key);
    *   - at 100 TB the join back is keyed on `md5(span)` instead of the
    *     raw span text to keep shuffle rows narrow — same answer, 16
    *     bytes per key;
    *   - re-assembly is one doc_id shuffle; the per-doc fold collects
    *     only that document's own spans (bounded by document length).
    *
    * Measured (TextScaleProbe, sf0.1 → 10× = 50k near-dup docs,
    * local[32]): 0.77 s → 2.55 s (3.3× for 10× data, with every span
    * shared across all 10 replicas — the worst-case join-back fan-in).
    *
    * @return (doc_id, n_spans, n_dropped, clean_text), total over the
    *         corpus — clean_text is '' when every span was shared
    */
  def spanDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      span: Int,
      minDocs: Int = 2
  ): DataFrame = {
    require(span >= 1, s"span must be >= 1: $span")
    // non-overlapping chunking IS chunkDocuments with overlap 0 — one
    // implementation of the slice/sequence-bound subtleties, not two
    val spans = Packing.chunkDocuments(docs, idCol, textCol,
      chunkTokens = span, overlap = 0)
      .select(
        col("doc_id"),
        col("chunk_idx").as("span_idx"),
        col("chunk_text").as("span_text"))
    val shared = spans
      .groupBy("span_text")
      .agg(countDistinct("doc_id").as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("span_text"), lit(true).as("__dup"))
    spans
      .join(shared, Seq("span_text"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("__dup"), lit(1L)).otherwise(lit(0L))).as("n_dropped"),
        concat_ws(" ",
          transform(
            array_sort(collect_list(
              when(not(coalesce(col("__dup"), lit(false))),
                struct(col("span_idx"), col("span_text"))))),
            s => s.getField("span_text"))).as("clean_text"))
  }

  /** Word n-gram shingles WITH their 0-based start positions:
    * (doc_id, pos, shingle). The positional variant of [[shingles]] —
    * needed whenever WHERE a duplicate sits matters, not just that it
    * exists ([[sharedSpans]]). Docs shorter than `n` words contribute
    * nothing. */
  def positionalShingles(
      docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 1, s"bad shingle width: $n")
    docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("__ws"))
      .select(col("doc_id"),
        explode(when(size(col("__ws")) >= n,
          transform(sequence(lit(0), size(col("__ws")) - n), i =>
            struct(i.cast("long").as("pos"),
              array_join(slice(col("__ws"), i + 1, lit(n)), " ").as("shingle"))))
          .otherwise(array().cast("array<struct<pos:bigint,shingle:string>>")))
          .as("__p"))
      .select(col("doc_id"), col("__p.pos").as("pos"), col("__p.shingle").as("shingle"))
  }

  /** Cross-document duplicated-SPAN localization — the "deduplicating
    * training data" measurement (Lee et al. 2021-style exact substring
    * duplication, at shingle resolution): for every document pair sharing
    * at least one df-capped `n`-gram, merge the shared shingle start
    * positions into maximal contiguous runs and report how much
    * contiguous text the pair shares. A run of `L` consecutive shared
    * starts is a duplicated span of `L + n − 1` tokens — the thing a
    * span-level deduper ([[spanDedup]]) would excise, here surfaced as
    * evidence with doc-pair provenance instead of silently removed.
    *
    * Scale: the pair join is on the shingle (inverted-index discipline),
    * bounded by the [[capDocFrequency]]-style df window [2, maxDf] —
    * stop-phrases never fan out, singletons never join. The run merge is
    * one window over (doc_a, doc_b) — pair-sized, far smaller than the
    * shingle frame. Gated by q169 (planted common phrases + the same
    * window algebra in the oracle). MEASURED (GovernanceScaleProbe,
    * sf0.1 documents ×10): 3.2 → 11.6 s = 3.6× — the df-window keeps the
    * pair frame subquadratic as the corpus grows. */
  def sharedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      maxDf: Long
  ): DataFrame =
    sharedSpansFromPositional(positionalShingles(docs, idCol, textCol, n), n, maxDf)

  /** [[sharedSpans]] over a caller-built positional-shingle frame — the
    * seam that lets an ensemble (q171) pay the shingle scan ONCE and
    * feed both the Jaccard chain (positions dropped + distinct) and the
    * span chain from the same persisted frame. */
  def sharedSpansFromPositional(
      sh: DataFrame,
      n: Int,
      maxDf: Long
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keep = sh.groupBy("shingle")
      .agg(count_distinct(col("doc_id")).as("__df"))
      .filter(col("__df") >= 2 && col("__df") <= maxDf)
      .select("shingle")
    val capped = sh.join(keep, Seq("shingle"), "left_semi")
    // the b side only contributes doc identity: dedup it to (doc, shingle)
    // BEFORE the join so a shingle repeated inside doc_b doesn't fan out
    // (a, pos_a) rows that a post-join distinct would pay to collapse —
    // measured 5.2 → ~3 s at sf0.1 on q169
    val bSide = capped.select(col("doc_id").as("doc_b"), col("shingle"))
      .distinct()
    val pairs = capped.as("a")
      .join(bSide,
        col("a.shingle") === bSide("shingle") &&
          col("a.doc_id") < col("doc_b"))
      .select(col("a.doc_id").as("doc_a"), col("doc_b"),
        col("a.pos").as("pos_a"))
    val w = Window.partitionBy("doc_a", "doc_b").orderBy("pos_a")
    val runs = pairs
      .withColumn("__prev", lag(col("pos_a"), 1).over(w))
      .withColumn("__new",
        when(col("__prev").isNull || col("pos_a") > col("__prev") + 1, 1L)
          .otherwise(0L))
      .withColumn("__blk", sum(col("__new")).over(w))
      .groupBy("doc_a", "doc_b", "__blk")
      .agg(count(lit(1)).as("__len"))
    runs.groupBy("doc_a", "doc_b")
      .agg(
        sum(col("__len")).as("n_shared"),
        count(lit(1)).as("n_spans"),
        (max(col("__len")) + lit((n - 1).toLong)).as("longest_span_tokens"))
      .orderBy("doc_a", "doc_b")
  }

  /** Exact-Jaccard pair detection via AllPairs/PPJoin-style prefix
    * filtering (Bayardo et al., "Scaling Up All Pairs Similarity Search",
    * WWW'07): the same OUTPUT as [[jaccardPairs]] — every pair with
    * jaccard ≥ threshold, same evidence columns — but candidate pairs come
    * only from the PREFIX of each document's token list in ascending
    * global-document-frequency order, never from the full inverted index.
    *
    * Why this is the exact-dedup scale path: [[jaccardPairs]] pays
    * Σ_shingles C(df,2) candidate rows — boilerplate shingles dominate and
    * [[capDocFrequency]] can only drop them (losing recall on
    * template-heavy corpora). Prefix filtering keeps EVERY shingle but
    * only indexes each doc's |x| − ⌈t·|x|⌉ + 1 rarest tokens: a pair with
    * J ≥ t must share a token inside both prefixes (if all common tokens
    * sat in x's final ⌈t·|x|⌉ − 1 positions, the overlap would be below
    * the t·|x| ≤ |x∩y| bound), so completeness holds with no df cap and
    * the candidate join is driven by exactly the RAREST tokens — the
    * anti-skew choice: hot shingles land in nobody's prefix.
    *
    * Distributed shape (no global sort, no all-pairs): the total token
    * order (df asc, shingle asc) is embedded into a sortable string key
    * `zeroPad(df) ∥ shingle`, so per-doc ordering is a local
    * `sort_array` — ranking tokens globally would otherwise be a
    * single-partition window. Shuffles: df agg (shingle), per-doc prefix
    * agg (doc_id), prefix self-join (key), verify joins (doc, shingle) —
    * all data-sized keys.
    *
    * Size bounds are checked with exact rational arithmetic: threshold is
    * lowered to num/1e6 ≤ t (floor), so ⌈t·n⌉ and the candidate length
    * filters t·|a| ≤ |b| ≤ |a|/t never exclude a boundary-true pair to
    * double rounding; the final jaccard ≥ t filter uses the identical
    * double formula as the oracle. Gate: q215 (SimJoinQueries) against the
    * brute-force inverted-index oracle. */
  def prefixFilterPairs(sh: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1]: $threshold")
    val den = 1000000L
    val num = math.floor(threshold * den).toLong
    val shc = sh.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfreq = shc.groupBy("shingle").agg(count(lit(1)).as("__df"))
    // the 12-char zero-padded df prefix makes plain string order equal to
    // (df asc, shingle asc) tuple order; df is a function of the shingle so
    // the key is injective and no separator is needed
    val keyed = shc.join(dfreq, "shingle")
      .select(col("doc_id"),
        concat(lpad(col("__df").cast("string"), 12, "0"), col("shingle"))
          .as("__k"))
    // ceil(t*n) as exact integers: floor((n*num + den - 1) / den); the
    // magnitudes (n <= 10^7 tokens/doc) stay far under 2^53 so the double
    // floor is exact
    val ceilTn = floor((col("n") * lit(num) + lit(den - 1L)) / lit(den.toDouble))
      .cast("long")
    // the per-doc sorted key array serves BOTH stages: its head slice is
    // the prefix index, and the full array is the verification payload —
    // candidate verify is then two doc-keyed joins + one array_intersect
    // per pair, never a re-shuffle of the (doc, shingle) inverted frame
    // (the key is injective per shingle, so |ka ∩ kb| IS |A ∩ B|).
    // Measured (SimJoinScaleProbe, 50k docs with universal boilerplate):
    // 141 s with the inverted-frame verify → 31 s with the array verify
    // — faster than the df-capped approximation (35 s) while exact.
    val perDoc = keyed.groupBy("doc_id")
      .agg(sort_array(collect_list(col("__k"))).as("__ks"),
        count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // posexplode keeps each token's 1-based position in the FULL sorted
    // order, which feeds the PPJoin positional filter (Xiao et al.,
    // WWW'08): a pair matching on prefix positions (i, j) can overlap at
    // most 1 + min(|A| − i, |B| − j), which must reach the tighter
    // α = ⌈t·(|A|+|B|)/(1+t)⌉ bound — this prunes the candidate pairs a
    // plain prefix match lets through (measured: q215 13.6 s → ~5 s at
    // sf0.1, where loose 2-gram prefixes collide heavily). All bounds in
    // exact rational arithmetic on the conservative num/den ≤ t side.
    val prefix = perDoc
      .select(col("doc_id"), col("n"),
        posexplode(slice(col("__ks"), lit(1),
          (col("n") - ceilTn + lit(1L)).cast("int"))))
      .select(col("doc_id"), col("n"), (col("pos") + 1).cast("long").as("__i"),
        col("col").as("__k"))
    val alphaCeil = floor(
      (lit(num) * (col("a.n") + col("b.n")) + lit(den + num - 1L)) /
        lit((den + num).toDouble)).cast("long")
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.__k") === col("b.__k") && col("a.doc_id") < col("b.doc_id") &&
          col("b.n") * lit(den) >= col("a.n") * lit(num) &&
          col("a.n") * lit(den) >= col("b.n") * lit(num) &&
          lit(1L) + least(col("a.n") - col("a.__i"),
            col("b.n") - col("b.__i")) >= alphaCeil)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(perDoc.select(col("doc_id").as("doc_a"), col("__ks").as("__ka"),
        col("n").as("n_a")), "doc_a")
      .join(perDoc.select(col("doc_id").as("doc_b"), col("__ks").as("__kb"),
        col("n").as("n_b")), "doc_b")
      .withColumn("n_common",
        size(array_intersect(col("__ka"), col("__kb"))).cast("long"))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard")
  }

  /** Sampled-stratum LSH recall estimate — the 100 TB form of the full
    * recall audit (q302): instead of replaying the exact-Jaccard ground
    * truth over the whole corpus (O(pairs-within-df) — at web scale the
    * audit would cost more than the dedup it audits), BOTH chains run
    * over a deterministic md5 stratum of the documents and the recall is
    * extrapolated with a deterministic bootstrap CI.
    *
    * Why restricting BOTH chains to the stratum measures the production
    * chain's recall: a band collision between docs a and b depends ONLY
    * on their two signatures — no third document participates — so for
    * any pair with both endpoints in the stratum, the stratum-restricted
    * candidate chain fires exactly iff the full-corpus chain would. The
    * within-stratum truth pairs are therefore an unbiased probe of the
    * production chain's per-pair hit behavior, at O(frac²) of the full
    * audit's pair volume (frac=1 recovers q302's exact recall — the
    * SimilaritySpec convergence law).
    *
    * Determinism (the q51/q304 discipline — no RNG anywhere):
    *   - the stratum is [[Sampling.keeps]] (md5-prefix string compare on
    *     the doc id), so any engine selects the identical document set;
    *   - the bootstrap's replicate r draws its i-th element as
    *     `md5(i "#" r) mod m + 1` over the truth pairs rank-indexed by
    *     [[Ranks.globalRowNumber]] — every rerun, engine, and executor
    *     regenerates the identical resample;
    *   - `boot_lo`/`boot_hi` are the `bootLo`/`bootHi`-th order
    *     statistics of the value-sorted replicate recalls (defaults 3/14
    *     of B=16: an ~80% percentile-bootstrap interval; with B fixed
    *     the convention is pinned, never interpolated).
    *
    * Empty-stratum edge (possible at tiny frac): `m = 0` nulls the draw
    * via `nullif`, the replicate frame is empty, and every readout
    * coalesces to the recall-1.0 convention — no ANSI divide-by-zero,
    * no out-of-bounds element_at (try_element_at mirrors DuckDB's
    * null-on-out-of-range list index).
    *
    * Shuffles: the stratum filter is a scan-level predicate (PlanSpec
    * pins that the truth chain's shingle explode sits ABOVE the md5
    * filter — the audit provably touches only stratum documents);
    * everything downstream is the production dedup chain's own shape
    * plus O(truth-pair) bootstrap frames; the only broadcasts are
    * one-row aggregates and the B-row replicate spine.
    *
    * The shingle frame feeds three consumers (the truth chain's counts +
    * self-join, the candidate chain's signatures); `cache = true`
    * persists it so the explode+distinct runs once. Pass `cache = false`
    * for plan inspection (no InMemoryRelation hides the filter) —
    * callers owning the sweep should `spark.catalog.clearCache()` after
    * the final action either way.
    *
    * MEASURED (DedupScaleProbe, sf0.1 ×10 shingle-disjoint replicas,
    * local[32], frac = 0.5): 4.51 s → 9.25 s — 2.1× at 10× rows. */
  def lshRecallSampled(
      docs: DataFrame, idCol: String, textCol: String, frac: Double,
      threshold: Double = 0.8, shingleN: Int = 3,
      numHashes: Int = 16, bands: Int = 4, rowsPerBand: Int = 4,
      salt: String = "", bootReps: Int = 16,
      bootLo: Int = 3, bootHi: Int = 14, cache: Boolean = true): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, s"frac must be in (0,1]: $frac")
    require(bootReps >= 1 && bootLo >= 1 && bootHi <= bootReps && bootLo <= bootHi,
      s"bad bootstrap geometry: B=$bootReps lo=$bootLo hi=$bootHi")
    val stratum = docs.filter(Sampling.keeps(col(idCol), frac, salt))
    val shRaw = shingles(stratum, idCol, textCol, shingleN)
    val sh = if (cache)
      shRaw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else shRaw
    val truth = jaccardPairs(sh, threshold, cache = false)
      .select("doc_a", "doc_b")
    val cand = lshCandidates(
      lshBands(minhashSignatures(sh, numHashes), bands, rowsPerBand))
    val flaggedRaw = truth
      .join(cand.withColumn("__c", lit(1)), Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"),
        when(col("__c").isNotNull, 1L).otherwise(0L).as("hit"))
    // four consumers read the flagged-pair frame (the rank index, the
    // bootstrap join, the pair count, the final hit tally); without this
    // persist EACH replays the jaccard self-join and the banded candidate
    // chain — measured 8.7 s → 4.0 s at sf0.1. O(truth pairs) rows.
    val flagged = if (cache)
      flaggedRaw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else flaggedRaw
    val ci = indicatorBootstrapCI(
      flagged, Seq(col("doc_a"), col("doc_b")), bootReps, bootLo, bootHi,
      emptyDefault = 1.0)
    stratum.agg(count(lit(1)).as("n_stratum_docs"))
      .crossJoin(broadcast(flagged.agg(
        count(lit(1)).as("n_truth"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hit"))))
      .crossJoin(broadcast(ci))
      .select(col("n_stratum_docs"), col("n_truth"), col("n_hit"),
        (col("n_truth") - col("n_hit")).as("n_missed"),
        coalesce(col("n_hit").cast("double") /
          nullif(col("n_truth").cast("double"), lit(0.0d)), lit(1.0d))
          .as("recall"),
        col("boot_lo"), col("boot_hi"))
  }

  /** Deterministic percentile-bootstrap CI over a 0/1 `hit` column — the
    * shared engine under [[lshRecallSampled]] and
    * [[contaminationRateSampled]] (the q304 discipline, no RNG anywhere):
    * the population is rank-indexed by [[Ranks.globalRowNumber]] over
    * `orderCols`, replicate r draws its i-th element as
    * `md5(i "#" r) mod m + 1`, and the interval is the (`bootLo`,
    * `bootHi`)-th order statistics of the value-sorted replicate means.
    * Empty population: `m = 0` nulls every draw via `nullif` and both
    * bounds coalesce to `emptyDefault` (1.0 for recall — "nothing to
    * miss"; 0.0 for contamination — "nothing flagged"). Returns ONE row
    * (boot_lo, boot_hi); all frames are O(population × B). */
  private def indicatorBootstrapCI(
      flagged: DataFrame, orderCols: Seq[Column],
      bootReps: Int, bootLo: Int, bootHi: Int,
      emptyDefault: Double): DataFrame = {
    val ranked = Ranks.globalRowNumber(flagged, orderCols, "rn")
    val mF = flagged.agg(count(lit(1)).as("m"))
    val reps = flagged.sparkSession.range(bootReps.toLong)
      .select(col("id").as("rep"))
    val draws = ranked.select(col("rn").as("i"))
      .crossJoin(broadcast(reps))
      .crossJoin(broadcast(mF))
      .select(col("rep"),
        (conv(substring(md5(concat(col("i").cast("string"), lit("#"),
          col("rep").cast("string"))), 1, 12), 16, 10).cast("long")
          % nullif(col("m"), lit(0L)) + 1L).as("draw"))
    draws
      .join(ranked.select(col("rn"), col("hit")), col("draw") === col("rn"))
      .groupBy("rep")
      .agg(sum(col("hit")).as("__h"), count(lit(1)).as("__k"))
      .select(col("rep"),
        (col("__h").cast("double") / col("__k").cast("double")).as("m"))
      .agg(sort_array(collect_list(struct(col("m"), col("rep")))).as("arr"))
      .select(
        coalesce(try_element_at(col("arr"), lit(bootLo))("m"),
          lit(emptyDefault)).as("boot_lo"),
        coalesce(try_element_at(col("arr"), lit(bootHi))("m"),
          lit(emptyDefault)).as("boot_hi"))
  }

  /** Sampled-stratum decontamination audit — [[lshRecallSampled]]'s
    * discipline applied to the q55 concern: at extreme scale even the
    * single broadcast-join corpus pass of [[contamination]] is worth
    * AUDITING on a stratum before paying for it in full, and the
    * contamination RATE (what fraction of corpus documents overlap the
    * eval suite?) is the number that decides whether decontamination is
    * even needed. The corpus is cut to a deterministic md5 stratum
    * ([[Sampling.keeps]] — any engine selects the identical documents);
    * every stratum document gets a 0/1 flag (≥ `minOverlap` distinct
    * shingles shared with the benchmark set, exactly [[contamination]]'s
    * rule); the rate ships with the deterministic bootstrap CI. The
    * benchmark side is never sampled — it is O(eval suite), already
    * small and broadcast. frac→1 converges to the exact full-corpus
    * flag census (DedupSpec law). */
  def contaminationRateSampled(
      corpus: DataFrame, bench: DataFrame, idCol: String, textCol: String,
      frac: Double, minOverlap: Int = 2, shingleN: Int = 3,
      salt: String = "", bootReps: Int = 16,
      bootLo: Int = 3, bootHi: Int = 14, cache: Boolean = true): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, s"frac must be in (0,1]: $frac")
    require(bootReps >= 1 && bootLo >= 1 && bootHi <= bootReps && bootLo <= bootHi,
      s"bad bootstrap geometry: B=$bootReps lo=$bootLo hi=$bootHi")
    val stratum = corpus.filter(Sampling.keeps(col(idCol), frac, salt))
    val corpusSh = shingles(stratum, idCol, textCol, shingleN)
    val benchSh = shingles(bench, idCol, textCol, shingleN)
    val hits = contamination(corpusSh, benchSh, minOverlap)
      .select(col("doc_id"), lit(1L).as("__hit"))
    val flaggedRaw = stratum.select(col(idCol).as("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("__hit"), lit(0L)).as("hit"))
    // three consumers (rank index, bootstrap join, final tally) would
    // each replay the shingle explode + broadcast overlap join
    val flagged = if (cache)
      flaggedRaw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else flaggedRaw
    val ci = indicatorBootstrapCI(
      flagged, Seq(col("doc_id")), bootReps, bootLo, bootHi,
      emptyDefault = 0.0)
    flagged.agg(
        count(lit(1)).as("n_stratum_docs"),
        coalesce(sum(col("hit")), lit(0L)).as("n_flagged"))
      .crossJoin(broadcast(ci))
      .select(col("n_stratum_docs"), col("n_flagged"),
        coalesce(col("n_flagged").cast("double") /
          nullif(col("n_stratum_docs").cast("double"), lit(0.0d)), lit(0.0d))
          .as("contamination_rate"),
        col("boot_lo"), col("boot_hi"))
  }

  /** Composed dedup TUNING REPORT — the q306 threshold census and the
    * q309 recall audit fused over ONE stratum pair frame: for each
    * Jaccard cutoff, what the dedup would do to the corpus (pair count,
    * documents caught in duplicate clusters, cluster count, largest
    * cluster — the over-merge cliff detector) AND what fraction of those
    * true pairs the production LSH geometry would actually surface
    * (recall at that cutoff). One table answers the tuning question both
    * halves only hint at alone: a cutoff is shippable when its census is
    * stable AND its recall holds — q306 without q309 ships thresholds
    * the bands cannot see; q309 without q306 ships recall for clusters
    * nobody audited.
    *
    * Cost shape: the exact pair frame is computed ONCE at the loosest
    * cutoff with its LSH hit flag attached (tighter cutoffs are filters,
    * the q306 discipline); the banded candidate chain runs ONCE; only
    * the per-cutoff CC passes repeat, over edge frames that shrink as
    * the threshold rises. Everything runs on the deterministic md5
    * stratum (the q309 discipline), so the report costs O(frac²) of the
    * full-corpus audit.
    *
    * MEASURED (DedupScaleProbe, sf0.1 ×10 shingle-disjoint replicas,
    * local[32], frac = 0.5): 6.46 s → 12.4 s — 1.9× at 10× rows. */
  def tuningReport(
      docs: DataFrame, idCol: String, textCol: String, frac: Double,
      thresholdPcts: Seq[Int] = Seq(70, 80, 90), shingleN: Int = 3,
      numHashes: Int = 16, bands: Int = 4, rowsPerBand: Int = 4,
      salt: String = "", cache: Boolean = true): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, s"frac must be in (0,1]: $frac")
    require(thresholdPcts.nonEmpty && thresholdPcts.forall(p => p > 0 && p <= 100),
      s"threshold percents must be in (0,100]: $thresholdPcts")
    val loosest = thresholdPcts.min / 100.0
    val stratum = docs.filter(Sampling.keeps(col(idCol), frac, salt))
    val stratumDocs = stratum.select(col(idCol).as("doc_id"))
    val shRaw = shingles(stratum, idCol, textCol, shingleN)
    val sh = if (cache)
      shRaw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else shRaw
    val cand = lshCandidates(
      lshBands(minhashSignatures(sh, numHashes), bands, rowsPerBand))
    val flaggedRaw = jaccardPairs(sh, loosest, cache = false)
      .select("doc_a", "doc_b", "jaccard")
      .join(cand.withColumn("__c", lit(1)), Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        when(col("__c").isNotNull, 1L).otherwise(0L).as("hit"))
    val flagged = if (cache)
      flaggedRaw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else flaggedRaw
    val arms = thresholdPcts.sorted.map { pct =>
      val pairsT = flagged.filter(col("jaccard") >= pct / 100.0)
      val sz = dupClusters(stratumDocs, pairsT.select("doc_a", "doc_b"))
        .select("doc_id", "cluster_id", "cluster_size")
        .groupBy("cluster_id")
        .agg(first(col("cluster_size")).as("csz"))
      // every aggregate coalesced: an empty stratum (tiny frac or empty
      // input) must still emit the one-row-per-cutoff contract with
      // zeros, matching the lshRecallSampled/contaminationRateSampled
      // empty conventions (NULLs here would also diverge from engines
      // whose GROUP BY over zero rows emits no row at all)
      sz.agg(
          coalesce(sum(when(col("csz") > 1, col("csz"))), lit(0L))
            .as("docs_in_dups"),
          coalesce(sum(when(col("csz") > 1, 1L).otherwise(0L)), lit(0L))
            .as("n_clusters"),
          coalesce(max(col("csz")), lit(0L)).as("max_cluster_size"))
        .crossJoin(broadcast(pairsT.agg(
          count(lit(1)).as("n_pairs"),
          coalesce(sum(col("hit")), lit(0L)).as("n_hit"))))
        .select(lit(pct.toLong).as("threshold_pct"), col("n_pairs"),
          col("docs_in_dups"), col("n_clusters"), col("max_cluster_size"),
          col("n_hit"),
          coalesce(col("n_hit").cast("double") /
            nullif(col("n_pairs").cast("double"), lit(0.0d)), lit(1.0d))
            .as("recall"))
    }
    arms.reduce(_.unionByName(_))
  }
}
