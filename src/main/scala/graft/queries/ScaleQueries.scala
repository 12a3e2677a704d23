package graft.queries

import org.apache.spark.sql.functions._

import graft.core.Lake
import graft.ops.{Audit, Bloom, Ranks, Stats}

/** Scale-and-governance coverage — the round-6 additions that close the
  * "run this against 100 TB and against a privacy office" gaps:
  * Bloom-pruned semi-joins ([[graft.ops.Bloom]] — scan-stage pruning when
  * the build side outgrows broadcast), the k-anonymity release audit
  * ([[graft.ops.Audit.kAnonymity]]), and the exact cross-engine statistics
  * family ([[graft.ops.Stats.corrPairs]] / [[graft.ops.Stats.chi2Cells]] /
  * [[graft.ops.Stats.categoricalDivergence]]) built on the repo's
  * no-transcendentals gate discipline: every gated double is assembled
  * from exact integer/decimal sums with +,−,×,÷,√ only, the same op tree
  * stated in each DuckDB oracle, so the hash gate compares bit-identical
  * values rather than hoping two libm implementations agree.
  */
object ScaleQueries {

  // --------------------------------------------------------------- q148
  /** Bloom-pruned exact semi-join: revenue from line items of high-value
    * orders. The Spark side builds a 2^17-bit bitmap over the ~10%
    * selected order keys (distributed `bit_or` aggregate), probes
    * lineitem with the pure-builtin `mightContain` expression so
    * non-candidates die IN THE SCAN STAGE, then removes the fp-rate
    * sliver with the exact semi-join — at 100 TB the exchange under that
    * semi-join carries candidates only, which is the entire value of the
    * operator. The oracle states the mathematical spec (a plain IN
    * subquery); the hash gate is what proves prune+verify ≡ semi-join
    * (no false negatives, all false positives killed). */
  private val q148 = Q(
    "q148_bloom_prune",
    (s, dir) => {
      val lk = Lake(s, dir)
      val dim = lk.orders.filter(col("o_totalprice") > lit(450000.0d))
      Bloom.prunedSemiJoin(
          lk.lineitem, dim, "l_orderkey", "o_orderkey",
          numBits = 1 << 17, numHashes = 5)
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast("decimal(38,2)")).cast("double")
            .as("revenue"))
        .orderBy("l_returnflag")
    },
    Some("""
      SELECT l_returnflag, COUNT(*) AS n_items,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE)
               AS revenue
      FROM lineitem
      WHERE l_orderkey IN
        (SELECT o_orderkey FROM orders WHERE o_totalprice > 450000.0)
      GROUP BY l_returnflag
      ORDER BY l_returnflag""")
  )

  // --------------------------------------------------------------- q153
  /** k-anonymity audit (k=5) over quasi-identifiers (nation, market
    * segment, balance banded to 1000s): the equivalence-class size
    * distribution, at_risk flagging every class smaller than k. The
    * banding uses floor() — identical on both engines for the synthetic
    * range — and the report is distinct-size-bounded, never
    * class-count-bounded. */
  private val q153 = Q(
    "q153_kanonymity",
    (s, dir) =>
      Audit.kAnonymity(
        Lake(s, dir).customer.select(
          col("c_nationkey"),
          col("c_mktsegment"),
          (floor(col("c_acctbal") / lit(1000.0d)) * 1000.0d).cast("long")
            .as("bal_band")),
        Seq("c_nationkey", "c_mktsegment", "bal_band"),
        k = 5L),
    Some("""
      WITH classes AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(FLOOR(c_acctbal / 1000.0) * 1000.0 AS BIGINT) AS bal_band,
               COUNT(*) AS class_size
        FROM customer GROUP BY 1, 2, 3)
      SELECT class_size, COUNT(*) AS n_classes,
             class_size * COUNT(*) AS n_rows,
             class_size < 5 AS at_risk
      FROM classes GROUP BY class_size ORDER BY class_size""")
  )

  // --------------------------------------------------------------- q154
  /** Pairwise Pearson correlation over lineitem's numeric measures,
    * pre-scaled to exact integers (quantity is integral; price/discount
    * scaled to cents — `round(x*100)` lands on the same long in both
    * engines because both see the same IEEE double and round half away
    * from zero). Moments are exact DECIMAL(38,0)/HUGEINT sums; only the
    * final assembly (the textbook product-moment formula) runs in double,
    * with the identical op tree on both sides. */
  private val q154 = Q(
    "q154_corr_matrix",
    (s, dir) =>
      Stats.corrPairs(
        Lake(s, dir).lineitem.select(
          col("l_quantity").cast("long").as("qty"),
          round(col("l_extendedprice") * 100.0d, 0).cast("long").as("price_c"),
          round(col("l_discount") * 100.0d, 0).cast("long").as("disc_c")),
        Seq(
          "qty" -> col("qty"),
          "price_c" -> col("price_c"),
          "disc_c" -> col("disc_c"))),
    Some("""
      WITH v AS (
        SELECT CAST(l_quantity AS BIGINT) AS qty,
               CAST(ROUND(l_extendedprice * 100.0) AS BIGINT) AS price_c,
               CAST(ROUND(l_discount * 100.0) AS BIGINT) AS disc_c
        FROM lineitem),
      m AS (
        SELECT COUNT(*) AS n,
               SUM(qty) AS s_q, SUM(price_c) AS s_p, SUM(disc_c) AS s_d,
               SUM(qty*qty) AS ss_q, SUM(price_c*price_c) AS ss_p,
               SUM(disc_c*disc_c) AS ss_d,
               SUM(qty*price_c) AS x_qp, SUM(qty*disc_c) AS x_qd,
               SUM(price_c*disc_c) AS x_pd
        FROM v),
      pairs AS (
        SELECT 'qty' AS var_x, 'price_c' AS var_y,
               (CAST(n AS DOUBLE)*CAST(x_qp AS DOUBLE)
                  - CAST(s_q AS DOUBLE)*CAST(s_p AS DOUBLE)) /
               (sqrt(CAST(n AS DOUBLE)*CAST(ss_q AS DOUBLE)
                  - CAST(s_q AS DOUBLE)*CAST(s_q AS DOUBLE)) *
                sqrt(CAST(n AS DOUBLE)*CAST(ss_p AS DOUBLE)
                  - CAST(s_p AS DOUBLE)*CAST(s_p AS DOUBLE))) AS corr
        FROM m
        UNION ALL
        SELECT 'qty', 'disc_c',
               (CAST(n AS DOUBLE)*CAST(x_qd AS DOUBLE)
                  - CAST(s_q AS DOUBLE)*CAST(s_d AS DOUBLE)) /
               (sqrt(CAST(n AS DOUBLE)*CAST(ss_q AS DOUBLE)
                  - CAST(s_q AS DOUBLE)*CAST(s_q AS DOUBLE)) *
                sqrt(CAST(n AS DOUBLE)*CAST(ss_d AS DOUBLE)
                  - CAST(s_d AS DOUBLE)*CAST(s_d AS DOUBLE)))
        FROM m
        UNION ALL
        SELECT 'price_c', 'disc_c',
               (CAST(n AS DOUBLE)*CAST(x_pd AS DOUBLE)
                  - CAST(s_p AS DOUBLE)*CAST(s_d AS DOUBLE)) /
               (sqrt(CAST(n AS DOUBLE)*CAST(ss_p AS DOUBLE)
                  - CAST(s_p AS DOUBLE)*CAST(s_p AS DOUBLE)) *
                sqrt(CAST(n AS DOUBLE)*CAST(ss_d AS DOUBLE)
                  - CAST(s_d AS DOUBLE)*CAST(s_d AS DOUBLE)))
        FROM m)
      SELECT var_x, var_y, corr FROM pairs ORDER BY var_x, var_y""")
  )

  // --------------------------------------------------------------- q155
  /** Chi-square independence cells for order status × priority: observed
    * vs expected-under-independence per cell, plus each cell's χ²
    * contribution — the per-cell shape IS the diagnostic, and it
    * sidesteps cross-cell double-sum ordering (fold the sorted cells if
    * the scalar is wanted). Pure +,−,×,÷ on exact counts. */
  private val q155 = Q(
    "q155_chi2_independence",
    (s, dir) =>
      Stats.chi2Cells(Lake(s, dir).orders, "o_orderstatus", "o_orderpriority"),
    Some("""
      WITH cells AS (
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS obs
        FROM orders GROUP BY 1, 2),
      t AS (
        SELECT o_orderstatus, o_orderpriority, obs,
               SUM(obs) OVER (PARTITION BY o_orderstatus) AS rt,
               SUM(obs) OVER (PARTITION BY o_orderpriority) AS ct,
               SUM(obs) OVER () AS n
        FROM cells)
      SELECT o_orderstatus, o_orderpriority, obs,
             CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)
               AS expected,
             (CAST(obs AS DOUBLE)
                - CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE)/CAST(n AS DOUBLE))
             * (CAST(obs AS DOUBLE)
                - CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE)/CAST(n AS DOUBLE))
             / (CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE)/CAST(n AS DOUBLE))
               AS contrib
      FROM t ORDER BY o_orderstatus, o_orderpriority""")
  )

  // --------------------------------------------------------------- q156
  /** Per-source language diversity and divergence from the corpus mix:
    * Simpson concentration Σp², effective language count 1/Σp², squared
    * Hellinger distance to the global distribution. Entropy/KL are
    * deliberately NOT the gated form — ln differs in the last ulp across
    * libm implementations; Simpson/Hellinger carry the same monitoring
    * signal on IEEE-exact ops. The oracle aligns the same group×category
    * grid (absent languages contribute their √q mass) and folds
    * category-sorted lists, mirroring the Spark sorted-fold. */
  private val q156 = Q(
    "q156_lang_divergence",
    (s, dir) =>
      Stats.categoricalDivergence(Lake(s, dir).documents, "source", "lang"),
    Some("""
      WITH c AS (
        SELECT source, lang, COUNT(*) AS n FROM documents GROUP BY 1, 2),
      g AS (SELECT source, SUM(n) AS ng FROM c GROUP BY 1),
      l AS (SELECT lang, SUM(n) AS nc FROM c GROUP BY 1),
      t AS (SELECT SUM(n) AS nt FROM c),
      grid AS (
        SELECT g.source, l.lang, g.ng, l.nc, t.nt, COALESCE(c.n, 0) AS n
        FROM g CROSS JOIN l CROSS JOIN t
        LEFT JOIN c ON c.source = g.source AND c.lang = l.lang),
      cell AS (
        SELECT source, lang, ng,
               CAST(n AS DOUBLE) / CAST(ng AS DOUBLE) AS p,
               CAST(nc AS DOUBLE) / CAST(nt AS DOUBLE) AS q
        FROM grid),
      contrib AS (
        SELECT source, lang, ng,
               p * p AS p2,
               (sqrt(p) - sqrt(q)) * (sqrt(p) - sqrt(q)) AS hc
        FROM cell),
      agg AS (
        SELECT source, MAX(ng) AS n_rows,
               list(p2 ORDER BY lang) AS p2s,
               list(hc ORDER BY lang) AS hcs
        FROM contrib GROUP BY source)
      SELECT source, CAST(n_rows AS BIGINT) AS n_rows,
             list_reduce(list_prepend(0.0, p2s), (a, b) -> a + b) AS simpson,
             1.0 / list_reduce(list_prepend(0.0, p2s), (a, b) -> a + b)
               AS effective_cats,
             list_reduce(list_prepend(0.0, hcs), (a, b) -> a + b) * 0.5
               AS hellinger_sq
      FROM agg ORDER BY source""")
  )

  // --------------------------------------------------------------- q164
  /** Market-basket association rules over (order, part) baskets
    * ([[graft.ops.Baskets.associationRules]]): canonical pairs seen in
    * ≥ 3 baskets with support / confidence / lift from exact counts —
    * the recommendation-prep pass, quadratic only within a capped basket
    * (the co-citation hub-cap discipline). */
  private val q164 = Q(
    "q164_association_rules",
    (s, dir) =>
      graft.ops.Baskets.associationRules(
        Lake(s, dir).lineitem, "l_orderkey", "l_partkey",
        minPairCount = 3L, maxBasketSize = 100),
    Some("""
      WITH items AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
                     FROM lineitem),
      sized AS (SELECT bk, it FROM
                 (SELECT bk, it, COUNT(*) OVER (PARTITION BY bk) AS bsz
                  FROM items)
                WHERE bsz <= 100),
      nb AS (SELECT COUNT(DISTINCT bk) AS n FROM sized),
      ic AS (SELECT it, CAST(COUNT(*) AS BIGINT) AS ni FROM sized GROUP BY it),
      p AS (SELECT a.it AS item_a, b.it AS item_b,
                   CAST(COUNT(*) AS BIGINT) AS n_pair
            FROM sized a JOIN sized b ON a.bk = b.bk AND a.it < b.it
            GROUP BY 1, 2 HAVING COUNT(*) >= 3)
      SELECT item_a, item_b, n_pair, ia.ni AS n_a, ib.ni AS n_b,
        CAST(n_pair AS DOUBLE) / CAST(nb.n AS DOUBLE) AS support,
        CAST(n_pair AS DOUBLE) / CAST(ia.ni AS DOUBLE) AS confidence,
        CAST(n_pair AS DOUBLE) * CAST(nb.n AS DOUBLE) /
          (CAST(ia.ni AS DOUBLE) * CAST(ib.ni AS DOUBLE)) AS lift
      FROM p
      JOIN ic ia ON p.item_a = ia.it
      JOIN ic ib ON p.item_b = ib.it
      CROSS JOIN nb
      ORDER BY item_a, item_b""")
  )

  // --------------------------------------------------------------- q165
  /** Bloom serving — q148's production shape: the bitmap is BUILT once,
    * persisted as (bloom_word, bits) parquet, and a later process loads
    * and probes it (q54/q98's persisted-index pattern applied to
    * membership). Same oracle algebra as q148 at a different selectivity;
    * what this gate adds is the parquet round-trip of the sketch — a
    * serialization bug that flips one bit would hash-mismatch. */
  private val q165 = Q(
    "q165_bloom_served",
    (s, dir) => {
      val lk = Lake(s, dir)
      val dim = lk.orders.filter(col("o_totalprice") > lit(400000.0d))
      val keys = dim.select(col("o_orderkey")).distinct()
      val tmp = java.nio.file.Files.createTempDirectory("graft-q165").toString
      graft.core.SilverWriter.deleteOnExit(tmp)
      Bloom.build(keys, "o_orderkey", 1 << 17, 5)
        .write.mode("overwrite").parquet(s"$tmp/bloom")
      val served = Bloom.collect(Lake.open(s, s"$tmp/bloom"), 1 << 17, 5)
      lk.lineitem
        .filter(Bloom.mightContain(served, col("l_orderkey")))
        .join(keys.withColumnRenamed("o_orderkey", "l_orderkey"),
          Seq("l_orderkey"), "left_semi")
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast("decimal(38,2)")).cast("double")
            .as("revenue"))
        .orderBy("l_returnflag")
    },
    Some("""
      SELECT l_returnflag, COUNT(*) AS n_items,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE)
               AS revenue
      FROM lineitem
      WHERE l_orderkey IN
        (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000.0)
      GROUP BY l_returnflag
      ORDER BY l_returnflag""")
  )

  // --------------------------------------------------------------- q172
  /** l-diversity audit ([[graft.ops.Audit.lDiversity]]) — k-anonymity's
    * homogeneity-attack complement on the same banded customer quasi-
    * identifiers, with market segment as the sensitive attribute: a big
    * class where everyone shares one segment is still a leak. l = 3. */
  private val q172 = Q(
    "q172_ldiversity",
    (s, dir) =>
      Audit.lDiversity(
        Lake(s, dir).customer.select(
          col("c_nationkey"),
          (floor(col("c_acctbal") / lit(2000.0d)) * 2000.0d).cast("long")
            .as("bal_band"),
          col("c_mktsegment")),
        Seq("c_nationkey", "bal_band"), "c_mktsegment", l = 3L),
    Some("""
      WITH cells AS (
        SELECT c_nationkey,
               CAST(FLOOR(c_acctbal / 2000.0) * 2000.0 AS BIGINT) AS bal_band,
               c_mktsegment, COUNT(*) AS n
        FROM customer GROUP BY 1, 2, 3)
      SELECT c_nationkey, bal_band,
             CAST(SUM(n) AS BIGINT) AS class_size,
             CAST(COUNT(*) AS BIGINT) AS distinct_sensitive,
             COUNT(*) < 3 AS at_risk
      FROM cells GROUP BY c_nationkey, bal_band
      ORDER BY c_nationkey, bal_band""")
  )

  // --------------------------------------------------------------- q173
  /** Vocabulary growth / type-token profile per source — the Heaps-law
    * corpus diagnostic without the log fit (which would be
    * transcendental): total tokens, distinct words, and the type-token
    * ratio as one division of exact counts. A source whose TTR collapses
    * relative to its peers is template spam; one whose TTR explodes is
    * likely encoding noise. */
  private val q173 = Q(
    "q173_vocab_growth",
    (s, dir) => {
      val tok = Lake(s, dir).documents
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
      tok.groupBy("source")
        .agg(
          count(lit(1)).as("n_tokens"),
          count_distinct(col("w")).as("n_types"))
        .withColumn("ttr",
          col("n_types").cast("double") / col("n_tokens").cast("double"))
        .orderBy("source")
    },
    Some("""
      WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w
                   FROM documents)
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(COUNT(DISTINCT w) AS BIGINT) AS n_types,
             CAST(COUNT(DISTINCT w) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS ttr
      FROM tok GROUP BY source ORDER BY source""")
  )

  // --------------------------------------------------------------- q177
  /** Frequent triples ([[graft.ops.Baskets.frequentTriples]]): the
    * Apriori anti-monotonicity prune — only baskets' pairs that are
    * themselves frequent grow a third item — against the naive 3-way
    * self-join oracle. At sf0.01 the prune collapses 157k candidate
    * triples to the 12 that qualify at support 2. */
  private val q177 = Q(
    "q177_frequent_triples",
    (s, dir) =>
      graft.ops.Baskets.frequentTriples(
        Lake(s, dir).lineitem, "l_orderkey", "l_partkey",
        minCount = 2L, maxBasketSize = 100),
    Some("""
      WITH items AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
                     FROM lineitem),
      sized AS (SELECT bk, it FROM
                 (SELECT bk, it, COUNT(*) OVER (PARTITION BY bk) AS bsz
                  FROM items)
                WHERE bsz <= 100)
      SELECT a.it AS item_a, b.it AS item_b, c.it AS item_c,
             CAST(COUNT(*) AS BIGINT) AS n_baskets
      FROM sized a
      JOIN sized b ON a.bk = b.bk AND a.it < b.it
      JOIN sized c ON b.bk = c.bk AND b.it < c.it
      GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2
      ORDER BY item_a, item_b, item_c""")
  )

  // --------------------------------------------------------------- q178
  /** Percentile-rank feature transform — the rank-normalization step for
    * tabular training features (scale-free, outlier-immune): each
    * order's price mapped to its within-priority cumulative rank over
    * the unique total order (price, key). cume_dist over a unique
    * ordering is row_number/n — a division of exact integers, so the
    * doubles hash-match; no interpolation, no distribution assumptions.
    * With only 5 priorities a partitioned window is 5 near-global tasks,
    * so the rank rides [[graft.ops.Ranks.globalRowNumber]] over the
    * composite (priority, price, key) order instead; the within-priority
    * rank falls out as `rn − min(rn over priority) + 1` via a 5-row
    * broadcast of per-priority bases — every stage distributed. */
  private val q178 = Q(
    "q178_percentile_rank",
    (s, dir) => {
      val rn = Ranks.globalRowNumber(
        Lake(s, dir).orders,
        Seq(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey")),
        "__rn")
      val bases = rn.groupBy("o_orderpriority")
        .agg(min(col("__rn")).as("__base"), count(lit(1)).as("__np"))
      rn.join(broadcast(bases), Seq("o_orderpriority"))
        .withColumn("price_pct",
          (col("__rn") - col("__base") + lit(1L)).cast("double") /
            col("__np").cast("double"))
        .select("o_orderkey", "o_orderpriority", "o_totalprice", "price_pct")
        .orderBy("o_orderkey")
    },
    Some("""
      SELECT o_orderkey, o_orderpriority, o_totalprice,
             cume_dist() OVER (PARTITION BY o_orderpriority
                               ORDER BY o_totalprice, o_orderkey) AS price_pct
      FROM orders ORDER BY o_orderkey""")
  )

  // --------------------------------------------------------------- q206
  /** Gini concentration of customer order value — "how unequal is the
    * revenue distribution" as one exact formula: with per-customer cent
    * totals sorted ascending and ranked 1..n,
    * `G = (2·Σ rank·x) / (n·Σx) − (n+1)/n` — every sum an exact
    * DECIMAL/HUGEINT integer, the assembly four double ops in the same
    * order on both engines. The fairness audit for mixture design
    * (a corpus where 1% of sources carry 99% of tokens has a Gini
    * near 1) applied here to revenue. */
  private val q206 = Q(
    "q206_revenue_gini",
    (s, dir) => {
      val per = Lake(s, dir).orders
        .groupBy("o_custkey")
        .agg(sum(round(col("o_totalprice") * 100.0d, 0).cast("long"))
          .as("cents"))
      // distributed global rank (range partition + offsets) — the
      // customer frame never funnels through one task
      val ranked = Ranks.globalRowNumber(
        per, Seq(col("cents"), col("o_custkey")), "rank")
      val agg = ranked.agg(
        count(lit(1)).as("n"),
        sum(col("cents").cast("decimal(38,0)")).as("sx"),
        sum((col("rank") * col("cents")).cast("decimal(38,0)")).as("srx"))
      def d(c0: String) = col(c0).cast("double")
      agg.select(col("n"),
        (lit(2.0d) * d("srx") / (d("n") * d("sx")) -
          (d("n") + lit(1.0d)) / d("n")).as("gini"))
    },
    Some("""
      WITH per AS (SELECT o_custkey,
               CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT))
                 AS BIGINT) AS cents
             FROM orders GROUP BY o_custkey),
      ranked AS (SELECT cents,
               CAST(row_number() OVER (ORDER BY cents, o_custkey)
                 AS BIGINT) AS rank
             FROM per),
      agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(cents) AS BIGINT) AS sx,
                CAST(SUM(rank * cents) AS BIGINT) AS srx
              FROM ranked)
      SELECT n,
             2.0 * CAST(srx AS DOUBLE) /
               (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)) -
               (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE) AS gini
      FROM agg""")
  )

  // --------------------------------------------------------------- q253
  /** t-closeness audit ([[graft.ops.Audit.tCloseness]]) on q172's exact
    * anonymization frame — the third privacy lens: q153 asks "is the
    * class big enough", q172 "is it diverse enough", q253 "does its
    * sensitive distribution still match the population" (the skewness
    * attack l-diversity misses). Threshold t = 1/5; the statistic is
    * the denominator-cleared TVD Σ_v |c_v·N − g_v·n| (HUGEINT /
    * DECIMAL(38,0) internally, reported as BIGINT — the one type the
    * driver hashes identically on both engines), absent-value mass
    * folded in as n·(N − Σ g_present)
    * instead of a domain cross join, and the flag is the pure integer
    * inequality tvd_scaled·5 > 2·n·N — no float anywhere in the gate. */
  private val q253 = Q(
    "q253_tcloseness",
    (s, dir) =>
      Audit.tCloseness(
        Lake(s, dir).customer.select(
          col("c_nationkey"),
          (floor(col("c_acctbal") / lit(2000.0d)) * 2000.0d).cast("long")
            .as("bal_band"),
          col("c_mktsegment")),
        Seq("c_nationkey", "bal_band"), "c_mktsegment", tNum = 1L, tDen = 5L),
    Some("""
      WITH cells AS (
        SELECT c_nationkey,
               CAST(FLOOR(c_acctbal / 2000.0) * 2000.0 AS BIGINT) AS bal_band,
               c_mktsegment, CAST(COUNT(*) AS HUGEINT) AS c
        FROM customer GROUP BY 1, 2, 3),
      j AS (SELECT *, SUM(c) OVER (PARTITION BY c_nationkey, bal_band) AS n
            FROM cells),
      gdist AS (SELECT c_mktsegment, CAST(COUNT(*) AS HUGEINT) AS g
               FROM customer GROUP BY 1),
      tot AS (SELECT CAST(SUM(g) AS HUGEINT) AS total FROM gdist),
      agg AS (
        SELECT c_nationkey, bal_band,
               MAX(n) AS n, MAX(total) AS total,
               SUM(ABS(c * total - g * n)) AS present,
               SUM(g) AS g_present
        FROM j JOIN gdist USING (c_mktsegment) CROSS JOIN tot
        GROUP BY 1, 2)
      SELECT c_nationkey, bal_band,
             CAST(n AS BIGINT) AS class_size,
             CAST(present + n * (total - g_present) AS BIGINT) AS tvd_scaled,
             (present + n * (total - g_present)) * 5 > 2 * n * total
               AS at_risk
      FROM agg ORDER BY c_nationkey, bal_band""")
  )

  // --------------------------------------------------------------- q266
  /** Multivariate (2-D Mahalanobis) outliers over (quantity, price) —
    * the correlation-aware complement of q117/q122's univariate fences:
    * a row can be unremarkable on each axis yet far off the joint
    * distribution (high quantity × high unit price), and only the
    * covariance-whitened distance sees it. The q154 discipline: the five
    * moments and the centered matrix entries A = n·Sxx−Sx², B, C are
    * EXACT (DECIMAL/HUGEINT — the 2×2 inverse needs no iteration:
    * Σ⁻¹ ∝ [[B,−C],[−C,A]]/det), then D² per row is assembled in
    * doubles with the IDENTICAL parenthesization on both engines:
    * D² = (n−1)·(B·dx'² − 2C·dx'dy' + A·dy'²)/(n·det), dx' = n·x−Sx.
    * One scan + a broadcast 1-row moment frame + a top-20 TakeOrdered —
    * no second pass, no per-row shuffle. */
  private val q266 = Q(
    "q266_mahalanobis_outliers",
    (s, dir) => {
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
      def d(c: org.apache.spark.sql.Column) = c.cast("double")
      val v = Lake(s, dir).lineitem.select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("long").as("x"),
        round(col("l_extendedprice") * 100.0d, 0).cast("long").as("y"))
      val m = v.agg(
        count(lit(1)).as("n"),
        sum(dec(col("x"))).as("sx"),
        sum(dec(col("y"))).as("sy"),
        sum(dec(col("x")) * dec(col("x"))).as("sxx"),
        sum(dec(col("y")) * dec(col("y"))).as("syy"),
        sum(dec(col("x")) * dec(col("y"))).as("sxy"))
      val j = v.crossJoin(broadcast(m)).select(
        col("l_orderkey"), col("l_linenumber"), col("x"), col("y"),
        d(dec(col("n")) * dec(col("x")) - col("sx")).as("dxp"),
        d(dec(col("n")) * dec(col("y")) - col("sy")).as("dyp"),
        d(dec(col("n")) * col("sxx") - col("sx") * col("sx")).as("ad"),
        d(dec(col("n")) * col("syy") - col("sy") * col("sy")).as("bd"),
        d(dec(col("n")) * col("sxy") - col("sx") * col("sy")).as("cd"),
        d(col("n")).as("nd"))
      j.select(col("l_orderkey"), col("l_linenumber"), col("x"), col("y"),
          (((col("nd") - lit(1.0)) *
            (((col("bd") * col("dxp")) * col("dxp") -
              ((lit(2.0) * col("cd")) * col("dxp")) * col("dyp")) +
              (col("ad") * col("dyp")) * col("dyp"))) /
            (col("nd") * (col("ad") * col("bd") - col("cd") * col("cd"))))
            .as("d2"))
        .orderBy(col("d2").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(20)
    },
    Some("""
      WITH v AS (
        SELECT l_orderkey, l_linenumber,
               CAST(l_quantity AS BIGINT) AS x,
               CAST(ROUND(l_extendedprice * 100.0) AS BIGINT) AS y
        FROM lineitem),
      m AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
               SUM(CAST(x AS HUGEINT) * x) AS sxx,
               SUM(CAST(y AS HUGEINT) * y) AS syy,
               SUM(CAST(x AS HUGEINT) * y) AS sxy
        FROM v),
      j AS (
        SELECT l_orderkey, l_linenumber, x, y,
               CAST(n * x - sx AS DOUBLE) AS dxp,
               CAST(n * y - sy AS DOUBLE) AS dyp,
               CAST(n * sxx - sx * sx AS DOUBLE) AS ad,
               CAST(n * syy - sy * sy AS DOUBLE) AS bd,
               CAST(n * sxy - sx * sy AS DOUBLE) AS cd,
               CAST(n AS DOUBLE) AS nd
        FROM v CROSS JOIN m)
      SELECT l_orderkey, l_linenumber, x, y,
             ((nd - 1.0) *
              (((bd * dxp) * dxp - ((2.0 * cd) * dxp) * dyp)
                + (ad * dyp) * dyp)) /
             (nd * (ad * bd - cd * cd)) AS d2
      FROM j
      ORDER BY d2 DESC, l_orderkey, l_linenumber
      LIMIT 20""")
  )

  // --------------------------------------------------------------- q280
  /** Spearman rank correlation between quantity and price — q154's
    * Pearson answers "linear?", this answers "monotone?", and it is the
    * robust choice when either margin is heavy-tailed (ranks cannot be
    * dragged by one outlier). Ranks are UNIQUE by the deterministic
    * (value, orderkey, linenumber) tiebreak — stated identically in both
    * engines, so there are no tie-averaged fractional ranks and the
    * textbook identity ρ = 1 − 6·Σd²/(n·(n²−1)) applies exactly: Σd² is
    * an exact DECIMAL(38,0) (HUGEINT in the oracle), n·(n²−1) an exact
    * long, and ρ one mirrored double expression. The two global ranks
    * ride [[graft.ops.Ranks.globalRowNumber]] (repartitionByRange +
    * per-partition offsets — no single-partition window; PlanSpec pins
    * it). ρ is assembled straight from the DECIMAL Σd² — the reported
    * `sum_d2` long is display-only, so a beyond-int64 Σd² at extreme n
    * can only null that column, never silently bend ρ (try_cast nulls on
    * overflow in BOTH ANSI and legacy modes, where DuckDB's
    * HUGEINT→BIGINT errors; ρ itself never goes through the long). */
  private val q280 = Q(
    "q280_spearman_corr",
    (s, dir) => {
      val v = Lake(s, dir).lineitem.select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("long").as("x"),
        round(col("l_extendedprice") * 100.0d, 0).cast("long").as("y"))
      val ranked = Ranks.globalRowNumber(
        Ranks.globalRowNumber(
          v, Seq(col("x"), col("l_orderkey"), col("l_linenumber")), "rx"),
        Seq(col("y"), col("l_orderkey"), col("l_linenumber")), "ry")
      ranked.agg(
          count(lit(1)).as("n"),
          sum(((col("rx") - col("ry")) * (col("rx") - col("ry")))
            .cast("decimal(38,0)")).cast("decimal(38,0)").as("__d2"))
        .select(col("n"), col("__d2").try_cast("long").as("sum_d2"),
          (lit(1.0) - (lit(6.0) * col("__d2").cast("double")) /
            (col("n") * (col("n") * col("n") - 1)).cast("double"))
            .as("rho"))
    },
    Some("""
      WITH v AS (
        SELECT l_orderkey, l_linenumber,
               CAST(l_quantity AS BIGINT) AS x,
               CAST(ROUND(l_extendedprice * 100.0) AS BIGINT) AS y
        FROM lineitem),
      ranked AS (
        SELECT row_number() OVER (ORDER BY x, l_orderkey, l_linenumber)
                 AS rx,
               row_number() OVER (ORDER BY y, l_orderkey, l_linenumber)
                 AS ry
        FROM v),
      m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              SUM(CAST(rx - ry AS HUGEINT) * (rx - ry)) AS d2
            FROM ranked)
      SELECT n, CAST(d2 AS BIGINT) AS sum_d2,
             1.0 - (6.0 * CAST(d2 AS DOUBLE))
               / CAST(n * (n * n - 1) AS DOUBLE) AS rho
      FROM m""")
  )

  // --------------------------------------------------------------- q289
  /** Grouped correlation — q154's exact-moment Pearson machinery run
    * PER GROUP: the discount↔quantity correlation within each part
    * brand, the first-order price-elasticity probe ("which brands move
    * volume when discounted?"). The grouping is the whole point of the
    * gate: the moments become one map-side-combined aggregate over the
    * brand key instead of a global row, and the per-group double
    * assembly must still be bit-identical — same op tree, 25 times.
    * part is broadcast; one shuffle on p_brand. */
  private val q289 = Q(
    "q289_brand_discount_corr",
    (s, dir) => {
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
      def d(c: org.apache.spark.sql.Column) = c.cast("double")
      val v = Lake(s, dir).lineitem
        .join(broadcast(Lake(s, dir).part.select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"),
          col("l_quantity").cast("long").as("x"),
          round(col("l_discount") * 100.0d, 0).cast("long").as("y"))
      v.groupBy("p_brand")
        .agg(
          count(lit(1)).as("n"),
          sum(dec(col("x"))).as("s_x"), sum(dec(col("y"))).as("s_y"),
          sum(dec(col("x")) * dec(col("x"))).as("ss_x"),
          sum(dec(col("y")) * dec(col("y"))).as("ss_y"),
          sum(dec(col("x")) * dec(col("y"))).as("s_xy"))
        .select(col("p_brand"), col("n"),
          ((d(col("n")) * d(col("s_xy")) - d(col("s_x")) * d(col("s_y"))) /
            (sqrt(d(col("n")) * d(col("ss_x")) - d(col("s_x")) * d(col("s_x"))) *
              sqrt(d(col("n")) * d(col("ss_y")) - d(col("s_y")) * d(col("s_y")))))
            .as("corr"))
        .orderBy("p_brand")
    },
    Some("""
      WITH v AS (
        SELECT p_brand,
               CAST(l_quantity AS BIGINT) AS x,
               CAST(ROUND(l_discount * 100.0) AS BIGINT) AS y
        FROM lineitem JOIN part ON l_partkey = p_partkey),
      m AS (
        SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS HUGEINT) AS s_x, CAST(SUM(y) AS HUGEINT) AS s_y,
               SUM(CAST(x AS HUGEINT) * x) AS ss_x,
               SUM(CAST(y AS HUGEINT) * y) AS ss_y,
               SUM(CAST(x AS HUGEINT) * y) AS s_xy
        FROM v GROUP BY 1)
      SELECT p_brand, n,
             (CAST(n AS DOUBLE) * CAST(s_xy AS DOUBLE)
                - CAST(s_x AS DOUBLE) * CAST(s_y AS DOUBLE)) /
             (sqrt(CAST(n AS DOUBLE) * CAST(ss_x AS DOUBLE)
                - CAST(s_x AS DOUBLE) * CAST(s_x AS DOUBLE)) *
              sqrt(CAST(n AS DOUBLE) * CAST(ss_y AS DOUBLE)
                - CAST(s_y AS DOUBLE) * CAST(s_y AS DOUBLE))) AS corr
      FROM m
      ORDER BY p_brand""")
  )

  // --------------------------------------------------------------- q291
  /** Two-sample Kolmogorov–Smirnov statistic between the English and
    * non-English document-length distributions — the distribution-drift
    * gate a mixture rebalance or a new crawl source must pass before its
    * documents join training ("same length profile, or did the tokenizer
    * budget just shift?"). Exact end to end, the repo's
    * no-transcendentals discipline applied to an ECDF statistic:
    * with per-distinct-value group counts c1, c2 and running totals
    * cum1, cum2 (both via [[graft.ops.Ranks.globalCumSum]] — distributed,
    * never a single-task sort), `D = max |cum1/n1 − cum2/n2|` is computed
    * as the INTEGER `d_scaled = max |cum1·n2 − cum2·n1|` and divided
    * once; ties are handled exactly because the ECDFs are evaluated after
    * folding each distinct value's full mass (the right-continuous
    * convention, identical in both engines). d_scaled ≤ n1·n2, so the
    * BIGINT is lossless until n1·n2 ≥ 2^63 (~3·10^9 docs per side) —
    * past that, keep the per-value normalized doubles instead. */
  private val q291 = Q(
    "q291_ks_two_sample",
    (s, dir) => {
      val d = Lake(s, dir).documents.select(col("n_chars"),
        when(col("lang") === "en", 1L).otherwise(0L).as("g1"))
      val cells = d.groupBy("n_chars").agg(
        sum(col("g1")).as("c1"),
        sum(lit(1L) - col("g1")).as("c2"))
      val cum = Ranks.globalCumSums(cells, Seq(col("n_chars")),
        Seq(col("c1") -> "cum1", col("c2") -> "cum2"))
      val tot = cells.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
      cum.crossJoin(broadcast(tot))
        .agg(max(abs(col("cum1") * col("n2") - col("cum2") * col("n1")))
          .as("d_scaled"))
        .crossJoin(broadcast(tot))
        .select(col("n1"), col("n2"), col("d_scaled"),
          (col("d_scaled").cast("double") /
            (col("n1").cast("double") * col("n2").cast("double")))
            .as("ks_stat"))
    },
    Some("""
      WITH d AS (SELECT n_chars,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS g1
             FROM documents),
      cells AS (SELECT n_chars, CAST(SUM(g1) AS BIGINT) AS c1,
               CAST(SUM(1 - g1) AS BIGINT) AS c2
             FROM d GROUP BY 1),
      cum AS (SELECT
               SUM(c1) OVER (ORDER BY n_chars
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
               SUM(c2) OVER (ORDER BY n_chars
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2
             FROM cells),
      tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
               CAST(SUM(c2) AS BIGINT) AS n2 FROM cells),
      m AS (SELECT CAST(MAX(ABS(cum1 * n2 - cum2 * n1)) AS BIGINT)
               AS d_scaled
            FROM cum CROSS JOIN tot)
      SELECT n1, n2, d_scaled,
             CAST(d_scaled AS DOUBLE) /
               (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS ks_stat
      FROM m CROSS JOIN tot""")
  )

  // --------------------------------------------------------------- q292
  /** 10%-trimmed mean of per-customer order value — the robust center
    * q206's Gini complements: drop the bottom and top k = n div 10
    * customers by exact rank (ties broken by key, identically in both
    * engines — a trimmed mean is only reproducible if the trim boundary
    * is), then one exact integer sum over the kept band and ONE double
    * division. The rank rides [[graft.ops.Ranks.globalRowNumber]]; the
    * kept-band sum stays DECIMAL internally (cents × customers is
    * quadratic-ish at warehouse scale) and the reported total is
    * gate-lossless BIGINT, q253 convention. */
  private val q292 = Q(
    "q292_trimmed_mean",
    (s, dir) => {
      val per = Lake(s, dir).orders
        .groupBy("o_custkey")
        .agg(sum(round(col("o_totalprice") * 100.0d, 0).cast("long"))
          .as("cents"))
      val ranked = Ranks.globalRowNumber(
        per, Seq(col("cents"), col("o_custkey")), "rn")
      val n = per.agg(count(lit(1)).as("n"))
      ranked.crossJoin(broadcast(n))
        .withColumn("k", expr("n div 10"))
        .filter(col("rn") > col("k") && col("rn") <= col("n") - col("k"))
        .agg(
          first(col("n")).as("n"),
          first(col("k")).as("k"),
          count(lit(1)).as("n_kept"),
          sum(col("cents").cast("decimal(38,0)")).as("__kept"))
        .select(col("n"), col("k"), col("n_kept"),
          col("__kept").cast("long").as("kept_cents"),
          (col("__kept").cast("double") / col("n_kept").cast("double"))
            .as("trimmed_mean_cents"))
    },
    Some("""
      WITH per AS (SELECT o_custkey,
               CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT))
                 AS BIGINT) AS cents
             FROM orders GROUP BY 1),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, COUNT(*) // 10 AS k
            FROM per),
      ranked AS (SELECT cents,
               row_number() OVER (ORDER BY cents, o_custkey) AS rn
             FROM per),
      kept AS (SELECT cents FROM ranked CROSS JOIN n
               WHERE rn > k AND rn <= n - k),
      agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_kept,
               SUM(CAST(cents AS HUGEINT)) AS kept
              FROM kept)
      SELECT n, CAST(k AS BIGINT) AS k, n_kept,
             CAST(kept AS BIGINT) AS kept_cents,
             CAST(kept AS DOUBLE) / CAST(n_kept AS DOUBLE)
               AS trimmed_mean_cents
      FROM agg CROSS JOIN n""")
  )

  // --------------------------------------------------------------- q296
  /** Exact global quantile table of order values — p1/p5/p25/p50/p75/
    * p95/p99 as REAL observed data points (the clipping/normalization
    * table a feature pipeline ships; approximate sketches drift between
    * engines, so the gate wants the order statistic itself). Quantile
    * index is the exact integer `⌈p·n⌉ = (p_mille·n + 999) div 1000`
    * over the unique (cents, custkey) total order; the rank rides
    * [[graft.ops.Ranks.globalRowNumber]], and the seven probes pick
    * their rows with one broadcast semi-join — one data shuffle, no
    * single-task sort, no interpolation arithmetic to disagree on. */
  private val q296 = Q(
    "q296_exact_quantiles",
    (s, dir) => {
      val per = Lake(s, dir).orders
        .groupBy("o_custkey")
        .agg(sum(round(col("o_totalprice") * 100.0d, 0).cast("long"))
          .as("cents"))
      val ranked = Ranks.globalRowNumber(
        per, Seq(col("cents"), col("o_custkey")), "rn")
      val n = per.agg(count(lit(1)).as("n"))
      val probes = s.createDataFrame(
        java.util.Arrays.asList(
          Seq(10L, 50L, 250L, 500L, 750L, 950L, 990L)
            .map(org.apache.spark.sql.Row(_)): _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("p_mille",
            org.apache.spark.sql.types.LongType))))
      ranked.crossJoin(broadcast(n))
        .join(broadcast(probes),
          col("rn") === expr("(p_mille * n + 999) div 1000"))
        .select(col("p_mille"), col("rn").as("rank"),
          col("cents").as("value_cents"))
        .orderBy("p_mille")
    },
    Some("""
      WITH per AS (SELECT o_custkey,
               CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT))
                 AS BIGINT) AS cents
             FROM orders GROUP BY 1),
      ranked AS (SELECT cents,
               CAST(row_number() OVER (ORDER BY cents, o_custkey)
                 AS BIGINT) AS rn
             FROM per),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM per),
      p(p_mille) AS (VALUES (CAST(10 AS BIGINT)), (50), (250), (500),
                            (750), (950), (990))
      SELECT p_mille, rn AS rank, cents AS value_cents
      FROM ranked CROSS JOIN n
      JOIN p ON rn = (p_mille * n + 999) // 1000
      ORDER BY p_mille""")
  )

  /** One union arm of the q303 oracle: the full Cramér's V chain for one
    * (table, a, b) pair — alignment grid with absent cells, χ² folded
    * over the category-sorted cell list, √ at the end. Mirrors
    * [[graft.ops.Stats.cramersV]] operation for operation. */
  private def cramersSql(table: String, a: String, b: String, label: String): String = s"""
      SELECT '$label' AS pair, n_rows, n_a, n_b, chi2,
             sqrt(chi2 / (CAST(n_rows AS DOUBLE)
               * CAST(least(n_a - 1, n_b - 1) AS DOUBLE))) AS cramers_v
      FROM (
        WITH cells AS (SELECT $a AS a, $b AS b, COUNT(*) AS n
                       FROM $table GROUP BY 1, 2),
        r AS (SELECT a, SUM(n) AS rt FROM cells GROUP BY 1),
        c AS (SELECT b, SUM(n) AS ct FROM cells GROUP BY 1),
        t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot,
                CAST(COUNT(DISTINCT a) AS BIGINT) AS nr,
                CAST(COUNT(DISTINCT b) AS BIGINT) AS nc
              FROM cells),
        grid AS (SELECT r.a, c.b, r.rt, c.ct, t.tot, t.nr, t.nc,
                   COALESCE(cells.n, 0) AS n
                 FROM r CROSS JOIN c CROSS JOIN t
                 LEFT JOIN cells ON cells.a = r.a AND cells.b = c.b),
        cc AS (SELECT a, b, tot, nr, nc,
                 (CAST(n AS DOUBLE)
                    - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                      / CAST(tot AS DOUBLE)) *
                 (CAST(n AS DOUBLE)
                    - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                      / CAST(tot AS DOUBLE)) /
                 (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                    / CAST(tot AS DOUBLE)) AS x
               FROM grid)
        SELECT MAX(tot) AS n_rows, MAX(nr) AS n_a, MAX(nc) AS n_b,
               list_reduce(list_prepend(0.0,
                 list(x ORDER BY CAST(a AS VARCHAR), CAST(b AS VARCHAR))),
                 (p, q) -> p + q) AS chi2
        FROM cc)"""

  // --------------------------------------------------------------- q303
  /** Cramér's V association matrix ([[graft.ops.Stats.cramersV]]) for
    * three categorical pairs across three tables — the feature-
    * redundancy ranking a tabular-training or drift audit reads: q155
    * shows WHICH cells of one pair deviate; this puts DIFFERENT pairs on
    * one [0,1] scale. Each arm is the exact χ² (absent grid cells
    * included, category-sorted fold) normalized by n·min(r−1,c−1) and
    * √'d — no transcendental anywhere, so three scalars hash-match. */
  private val q303 = Q(
    "q303_cramers_v",
    (s, dir) => {
      def one(df: org.apache.spark.sql.DataFrame, a: String, b: String,
          label: String) =
        Stats.cramersV(df, a, b)
          .select(lit(label).as("pair"), col("n_rows"), col("n_a"),
            col("n_b"), col("chi2"), col("cramers_v"))
      one(Lake(s, dir).orders, "o_orderstatus", "o_orderpriority",
          "status_priority")
        .unionByName(one(Lake(s, dir).customer, "c_mktsegment",
          "c_nationkey", "segment_nation"))
        .unionByName(one(Lake(s, dir).documents, "source", "lang",
          "source_lang"))
        .orderBy("pair")
    },
    Some(s"""
      ${cramersSql("orders", "o_orderstatus", "o_orderpriority", "status_priority")}
      UNION ALL
      ${cramersSql("customer", "c_mktsegment", "c_nationkey", "segment_nation")}
      UNION ALL
      ${cramersSql("documents", "source", "lang", "source_lang")}
      ORDER BY pair""")
  )

  // --------------------------------------------------------------- q304
  /** Deterministic bootstrap CI for the mean order value — resampling
    * WITHOUT a random number generator: replicate r's i-th draw is row
    * `md5(i "#" r) mod n + 1` of the rank-indexed population, so any
    * engine (or any rerun, or any executor) regenerates the identical
    * resample — the q51/q166 hash-randomness rule applied to the
    * statistician's favorite tool. The population gets its 1..n index
    * from [[graft.ops.Ranks.globalRowNumber]] (the rank IS the sampling
    * frame — no collect, no broadcast of data); each of the B = 16
    * replicate means is an exact DECIMAL cent sum divided once; and the
    * CI readout folds the 16 means VALUE-SORTED (boot_lo/boot_hi are the
    * 3rd/14th order statistics — an ~80% percentile-bootstrap interval;
    * with B fixed the convention is pinned, not interpolated). */
  private val q304 = Q(
    "q304_bootstrap_ci",
    (s, dir) => {
      val per = Lake(s, dir).orders
        .groupBy("o_custkey")
        .agg(sum(round(col("o_totalprice") * 100.0d, 0).cast("long"))
          .as("cents"))
      val ranked = Ranks.globalRowNumber(
        per, Seq(col("cents"), col("o_custkey")), "rn")
      val n = per.agg(count(lit(1)).as("n"))
      val reps = s.range(16).select(col("id").as("rep"))
      val draws = ranked.select(col("rn").as("i"))
        .crossJoin(broadcast(reps))
        .crossJoin(broadcast(n))
        .select(col("rep"),
          (conv(substring(md5(concat(col("i").cast("string"), lit("#"),
            col("rep").cast("string"))), 1, 12), 16, 10).cast("long")
            % col("n") + 1L).as("draw"))
      val means = draws
        .join(ranked.select(col("rn"), col("cents")), col("draw") === col("rn"))
        .groupBy("rep")
        .agg(sum(col("cents").cast("decimal(38,0)")).as("__s"),
          count(lit(1)).as("__k"))
        .select(col("rep"),
          (col("__s").cast("double") / col("__k").cast("double")).as("m"))
      means
        .agg(sort_array(collect_list(struct(col("m"), col("rep"))))
          .as("arr"))
        .select(
          lit(16L).as("b"),
          (aggregate(col("arr"), lit(0.0d), (a, x) => a + x("m")) / 16.0d)
            .as("boot_mean"),
          element_at(col("arr"), 3)("m").as("boot_lo"),
          element_at(col("arr"), 14)("m").as("boot_hi"))
    },
    Some(s"""
      WITH per AS (SELECT o_custkey,
               CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT))
                 AS BIGINT) AS cents
             FROM orders GROUP BY 1),
      ranked AS (SELECT cents,
               CAST(row_number() OVER (ORDER BY cents, o_custkey)
                 AS BIGINT) AS rn
             FROM per),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM per),
      reps AS (SELECT CAST(r AS BIGINT) AS rep
               FROM generate_series(0, 15) AS g(r)),
      draws AS (SELECT rep,
               ${PipelineQueries.hexSql(
                 "md5(CAST(rn AS VARCHAR) || '#' || CAST(rep AS VARCHAR))",
                 12)} % n + 1 AS draw
             FROM ranked CROSS JOIN reps CROSS JOIN n),
      means AS (SELECT rep,
               CAST(SUM(CAST(cents AS HUGEINT)) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS m
             FROM draws JOIN ranked ON draw = rn
             GROUP BY rep),
      arr AS (SELECT list(m ORDER BY m, rep) AS a FROM means)
      SELECT CAST(16 AS BIGINT) AS b,
             list_reduce(list_prepend(0.0, a), (x, y) -> x + y) / 16.0
               AS boot_mean,
             a[3] AS boot_lo, a[14] AS boot_hi
      FROM arr""")
  )

  // --------------------------------------------------------------- q307
  /** Clip-and-standardize feature transform — the tabular feature-prep
    * pipeline end to end in one gate: per-customer order value is
    * winsorized at the EXACT p1/p99 order statistics (q296's rank-probe
    * selection — the clip bounds are real data points, not interpolated
    * estimates), then z-scored against the CLIPPED distribution with
    * every division cleared: `z = (n·x − S)/√(n·Q − S²)` (S, Q exact
    * DECIMAL sums of clipped cents and their squares) equals
    * (x − μ)/σ_pop with a single sqrt and a single division — the q154
    * no-transcendentals discipline applied to the most common feature
    * transform there is. The rank rides
    * [[graft.ops.Ranks.globalRowNumber]]; the bounds and moments are
    * two broadcast one-row frames over the data-sized scan. */
  private val q307 = Q(
    "q307_clip_standardize",
    (s, dir) => {
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
      def d(c: org.apache.spark.sql.Column) = c.cast("double")
      val per = Lake(s, dir).orders
        .groupBy("o_custkey")
        .agg(sum(round(col("o_totalprice") * 100.0d, 0).cast("long"))
          .as("cents"))
      val ranked = Ranks.globalRowNumber(
        per, Seq(col("cents"), col("o_custkey")), "rn")
      val n = per.agg(count(lit(1)).as("n"))
      val bounds = ranked.crossJoin(broadcast(n))
        .filter(col("rn") === expr("(10 * n + 999) div 1000") ||
          col("rn") === expr("(990 * n + 999) div 1000"))
        .agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"))
      val clipped = per.crossJoin(broadcast(bounds))
        .withColumn("clipped", least(greatest(col("cents"), col("lo")),
          col("hi")))
      val m = clipped.agg(
        count(lit(1)).as("n"),
        sum(dec(col("clipped"))).as("s"),
        sum(dec(col("clipped")) * dec(col("clipped"))).as("q"))
      clipped.crossJoin(broadcast(m))
        .select(col("o_custkey"), col("cents"), col("clipped"),
          ((d(col("n")) * d(col("clipped")) - d(col("s"))) /
            sqrt(d(col("n")) * d(col("q")) - d(col("s")) * d(col("s"))))
            .as("z"))
        .orderBy("o_custkey")
    },
    Some("""
      WITH per AS (SELECT o_custkey,
               CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT))
                 AS BIGINT) AS cents
             FROM orders GROUP BY 1),
      ranked AS (SELECT cents, o_custkey,
               CAST(row_number() OVER (ORDER BY cents, o_custkey)
                 AS BIGINT) AS rn
             FROM per),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM per),
      b AS (SELECT MIN(cents) AS lo, MAX(cents) AS hi
            FROM ranked CROSS JOIN n
            WHERE rn = (10 * n + 999) // 1000
               OR rn = (990 * n + 999) // 1000),
      c AS (SELECT o_custkey, cents,
               LEAST(GREATEST(cents, lo), hi) AS clipped
            FROM per CROSS JOIN b),
      m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(clipped) AS HUGEINT) AS s,
               SUM(CAST(clipped AS HUGEINT) * clipped) AS q
            FROM c)
      SELECT o_custkey, cents, clipped,
             (CAST(n AS DOUBLE) * CAST(clipped AS DOUBLE)
                - CAST(s AS DOUBLE)) /
             sqrt(CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) AS z
      FROM c CROSS JOIN m ORDER BY o_custkey""")
  )

  val all: Seq[Q] = Seq(q148, q153, q154, q155, q156, q164, q165, q172, q173,
    q177, q178, q206, q253, q266, q280, q289, q291, q292, q296, q303, q304,
    q307)
}
