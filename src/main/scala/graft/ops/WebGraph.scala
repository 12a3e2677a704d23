package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Web-crawl link-graph operators: href extraction, the host-level edge
  * graph, an engine-exact PageRank over it, and URL canonicalization.
  * Together with [[TextAnalysis.extractText]] these form the front of a
  * crawl-curation pipeline: extract text AND links from each page, rank
  * hosts by link authority, and use the rank as a quality prior for
  * document filtering (the CommonCrawl-derived corpora all weight by
  * some host-authority signal; cf. reference `SURVEY.md` §2 F-rows for
  * the expression conventions used here).
  *
  * Scale shape: link extraction is a zero-shuffle expression chain that
  * runs at scan speed; the edge graph is one shuffle on (src, dst); the
  * rank loop is `iterations` × (one broadcast-or-shuffle join + one
  * aggregation on dst), with per-round `localCheckpoint` keeping the
  * plan constant-size (the [[Dedup.connectedComponents]] loop
  * discipline).
  *
  * Measured (WebGraphScaleProbe, retired: BENCH_NOTES "Retired
  * measurement probes"; sf0.1 pages ×10 with
  * the host universe grown ×10 alongside and each page carrying its
  * document's full text, local[32], warm-then-time — one run, one
  * fixture, so the numbers reproduce together): host_edges 0.35 →
  * 0.83 s (2.4×), host_rank 2.12 → 2.81 s (1.3× — the loop's fixed
  * 5-round stage setup dominates; the rank state is (host, long) rows,
  * so even a 10× graph is invisible next to it), anchor_index 0.30 →
  * 0.91 s (3.0×), url_canonical 0.09 → 0.31 s (3.3×), and the full
  * q87-shaped composition (extract + rank + quality + broadcast join)
  * 2.16 → 5.65 s (2.6×). Nothing super-linear: extraction and
  * canonicalization ride the scan, the graph side is state-size-bound
  * exactly as a 1000-executor run needs.
  *
  * ZIPFIAN skew (r5 ZipfSkewProbe, retired likewise; same 10× geometry
  * but power-law hosts — the hottest host holds 13.5% of all 50k page
  * slots, the real link-graph shape the uniform probe can't exercise):
  * wall times match the uniform probe within host noise (host_edges
  * 0.14 s, host_rank 3.5 s, anchor_index 0.86 s, co_citation 0.68 s),
  * and the one page-data-sized aggregation (host_edges) runs at
  * hottest-task/median-task = 1.3 — the map-side partial combine
  * absorbing the hot key before the exchange, which is the claim that
  * matters at 100 TB (the iterative stages run on host-sized state
  * where task durations are ms-scale and max/median reflects scheduler
  * noise, not data). The coCitation cap is measured as a mass lever:
  * maxOutDeg=50 removes 43% of the pair count (7,944 vs 13,978) on the
  * 170-host zipf graph, and WebGraphSpec pins the cap's EXACT
  * semantics (Σ C(outdeg,2) over surviving sources) on a skewed
  * fixture whose hottest source is an order of magnitude over cap.
  */
object WebGraph {

  /** Patterns shared verbatim by the Spark plan and the SQL oracle (the
    * [[TextAnalysis]] convention): RE2-portable — no backreferences or
    * lookaround, explicit character classes, inline `(?i)`/`(?is)` only.
    *
    * Crawl-HTML defenses:
    *   - `(?i)`: `HREF="HTTP://…"` casing is everywhere in real crawl;
    *   - ANCHOR elements only (`<a␣…href=…`, any whitespace after the
    *     tag name): `<link rel="stylesheet" href=…>`, `<base>`, `<area>`
    *     and hrefs inside script/style/comment blocks (the extractors
    *     strip those blocks first) are resource references, not
    *     endorsements — counting them would hand every shared CDN a
    *     PageRank subsidy;
    *   - absolute `http(s)` URLs only — relative links, `mailto:`,
    *     `javascript:` and protocol-relative `//host` hrefs are
    *     navigation noise for a HOST graph (resolving them needs the
    *     page's own base URL, which the caller can join in upstream);
    *   - the capture stops at `"` — crawl hrefs are attribute-quoted by
    *     the fixture contract; unquoted attributes would need a
    *     DOM-aware pass, same boundary as [[TextAnalysis.extractText]].
    */
  val HrefPattern =
    "(?is)<a[ \\t\\n\\f\\r][^>]*href=\"(https?://[^\"]+)\""

  /** Authority component of an absolute URL: everything between `://`
    * and the first `/ : ? #`. Port, path, query, fragment excluded. */
  val HostPattern = "(?i)^https?://([^/:?#]+)"

  /** All absolute http(s) ANCHOR targets in an HTML column, in document
    * order ([[TextAnalysis.stripBlocks]] runs first, so commented-out
    * markup and generated-in-JS hrefs never become edges). Zero
    * shuffle — stays in whole-stage codegen. */
  def extractLinks(html: Column): Column =
    regexp_extract_all(TextAnalysis.stripBlocks(html), lit(HrefPattern), lit(1))

  /** EVERY quoted anchor href, absolute or not — the input to
    * [[resolveUrl]]. Same element boundary as [[HrefPattern]] (anchor
    * tags only, attribute-quoted), but the capture keeps relative,
    * protocol-relative, query-only and other-scheme targets instead of
    * discarding them at the regex. */
  val AnyHrefPattern =
    "(?is)<a[ \\t\\n\\f\\r][^>]*href=\"([^\"]+)\""

  /** All ANCHOR targets in an HTML column resolved against the page's
    * own URL ([[resolveUrl]]) — the crawl-complete overload of
    * [[extractLinks]]: real crawl HTML is dominated by RELATIVE hrefs,
    * which the absolute-only extractor drops, silently starving
    * [[hostEdges]]/[[anchorIndex]] of most of the graph. Non-http(s)
    * targets (`mailto:`, `javascript:`) resolve to '' and are filtered
    * here. Still a pure expression chain — the per-link regex work runs
    * inside `transform`, zero shuffle, scan speed. */
  def extractLinks(baseUrl: Column, html: Column): Column =
    filter(
      transform(
        regexp_extract_all(TextAnalysis.stripBlocks(html),
          lit(AnyHrefPattern), lit(1)),
        h => resolveUrl(baseUrl, h)),
      u => u =!= "")

  /** Lower-cased host of an absolute URL ('' for non-URLs — filter it). */
  def hostOf(url: Column): Column =
    lower(regexp_extract(url, HostPattern, 1))

  /** The host-level edge graph: one row per (src_host, dst_host) with
    * the link count. `pages` carries one row per document; `srcHost` is
    * the page's own host, `html` its markup. Self-links are KEPT here
    * (they are real link counts); [[hostRank]] drops them itself because
    * self-endorsement must not transfer authority.
    *
    * One shuffle (the groupBy); the explode fans out inside the scan
    * stage. At 100 TB the group key space is |hosts|² sparse — millions
    * of rows, not billions — so the aggregate output is small even when
    * the input is the whole crawl. */
  def hostEdges(pages: DataFrame, srcHost: Column, html: Column): DataFrame =
    pages
      .select(srcHost.as("src_host"), explode(extractLinks(html)).as("url"))
      .select(col("src_host"), hostOf(col("url")).as("dst_host"))
      .filter(col("dst_host") =!= "")
      .groupBy("src_host", "dst_host")
      .agg(count(lit(1)).as("n_links"))

  /** A complete `<a …href="http(s)://…"…>…</a>` element — the unit the
    * anchor-text extractor works per-match on (group structure unused by
    * the full-match extraction; kept so the same pattern documents the
    * url/text split). Same boundary as [[HrefPattern]]: quoted absolute
    * http(s) targets only. */
  val AnchorElemPattern =
    "(?is)<a[ \\t\\n\\f\\r][^>]*href=\"(https?://[^\"]+)\"[^>]*>(.*?)</a>"

  /** From-first-`>` inner content of an anchor element (tags inside the
    * anchor — `<b>`, `<span>` — are stripped by the caller). */
  val AnchorInnerPattern = "(?is)>(.*)</a>"

  /** (dst_host, anchor_text) pairs for every absolute-http(s) link in an
    * HTML column — the anchor corpus, the classic relevance signal
    * (what OTHER pages call a host ranks it better than what it calls
    * itself). Zero shuffle: per-element regex work inside a
    * higher-order `transform`, no explode until the caller aggregates. */
  def extractAnchors(html: Column): Column =
    transform(
      regexp_extract_all(TextAnalysis.stripBlocks(html),
        lit(AnchorElemPattern), lit(0)),
      el => struct(
        hostOf(regexp_extract(el, HrefPattern, 1)).as("dst_host"),
        trim(regexp_replace(
          regexp_replace(regexp_extract(el, AnchorInnerPattern, 1),
            TextAnalysis.TagPattern, " "),
          TextAnalysis.WhitespaceRunPattern, " ")).as("anchor")))

  /** The anchor-text index: per destination host, the incoming link
    * count and the distinct anchor strings (sorted, '|'-joined — a
    * deterministic digest of "what the web calls this host").
    *
    * Two-level aggregation so state is bounded by distinct PHRASINGS,
    * not link count: (dst_host, anchor) counts first (map-side partial
    * combine collapses the "click here" millions inside each task),
    * then per-host the already-distinct anchors collect. A single-level
    * collect_list would materialize one string per raw occurrence in
    * the aggregation buffer — the hot-host OOM this shape exists to
    * avoid. Two shuffles, both on pre-combined keys. */
  def anchorIndex(pages: DataFrame, html: Column): DataFrame =
    pages
      .select(explode(extractAnchors(html)).as("a"))
      .select(col("a.dst_host").as("dst_host"), col("a.anchor").as("anchor"))
      .filter(col("dst_host") =!= "")
      .groupBy("dst_host", "anchor")
      .agg(count(lit(1)).as("c"))
      .groupBy("dst_host")
      .agg(
        sum("c").as("n_links"),
        count(lit(1)).as("n_anchors"),
        array_join(array_sort(collect_list(col("anchor"))), "|").as("anchors"))

  /** PageRank over the host graph in integer fixed-point arithmetic —
    * every operation is BIGINT add / multiply / truncating `div`, so the
    * result is BIT-IDENTICAL on any engine and any partitioning: no
    * float summation order, no decimal division scale rules (the
    * [[Similarity]] integer-rational-hyperplane trick applied to an
    * iterative algorithm). That is what lets an iterative graph
    * algorithm sit under the exact-hash oracle gate at all.
    *
    * Semantics: ranks live in units of `unit` (default 1e12 = the total
    * mass). Each round every host keeps the teleport share
    * `15% × unit/n` and receives `85%` of the sum of its in-neighbors'
    * `rank div outdeg` contributions, computed over the DISTINCT,
    * self-loop-free edge set (multi-links and self-endorsement do not
    * multiply authority — the anti-spam convention). Truncation loses a
    * few units per host per round and dangling-host mass is dropped, so
    * total mass is ≤ unit and strictly decreasing — the fixed point is
    * still unique and the floor losses are ~1e-10 relative. With
    * damping 0.85 the gap to the fixed point shrinks 0.85× per round.
    *
    * Scale shape: `n` (host count) is a single driver-side count — the
    * only action; ranks are one row per host, joined to edges each round
    * (broadcastable: even the full web is ~1e8 hosts ≈ a few GB of
    * (host, long) pairs; AQE picks broadcast when it fits). Per-round
    * `localCheckpoint` cuts lineage so round k does not replay rounds
    * 1..k-1.
    *
    * @param edges (src_host, dst_host) rows; duplicates and self-loops
    *              tolerated (dropped internally)
    * @return (host, rank_units: bigint), one row per host in `edges`
    */
  def hostRank(
      edges: DataFrame,
      iterations: Int = 5,
      unit: Long = 1000000000000L
  ): DataFrame = hostRankFrom("hostRank", edges, Seq("rank_units" -> None), iterations, unit)

  /** [[hostRank]] warm-started from a previous rank state — the daily
    * refresh path: after folding the day's edge deltas into the graph
    * (e.g. a [[hostEdges]] aggregate over the day's crawl), re-ranking
    * from yesterday's state carries over all the contraction those
    * rounds already paid for. The damping factor shrinks the gap
    * to the fixed point 0.85× per round from WHATEVER starting state,
    * so k warm rounds land where (seed-depth + k) cold rounds would —
    * WebGraphSpec pins the claim as a ratio: after an edge delta, 2
    * warm rounds sit ≥5× closer to the deep reference than 2 cold
    * rounds, on every host. Hosts new in today's graph (absent from
    * `seed`) start at the uniform share, exactly like a cold round 0. */
  def hostRankWarmStart(
      edges: DataFrame,
      seed: DataFrame,
      iterations: Int = 2,
      unit: Long = 1000000000000L
  ): DataFrame = hostRankFrom("hostRankWarmStart", edges, Seq("rank_units" -> None),
    iterations, unit, warm = Some(seed))

  /** TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004): the
    * same integer fixed-point propagation as [[hostRank]], but teleport
    * mass goes ONLY to a curated seed set of trusted hosts — authority
    * then flows outward along links, so a host unreachable from every
    * seed converges to EXACTLY 0 (integers, not epsilon) and link-farm
    * clusters starve no matter how densely they cite each other. The
    * spam-control companion to [[hostRank]]: rank says "the web points
    * here", trust says "the web WE VETTED points here", and a large
    * rank/trust gap is the classic spam-mass signal.
    *
    * `seeds` is one `host` column; seeds absent from the graph are
    * ignored (their mass is redistributed over the seeds present —
    * `unit div |seeds ∩ hosts|`). With seeds = ALL hosts this is
    * bit-identical to [[hostRank]] (asserted in WebGraphSpec). */
  def trustRank(
      edges: DataFrame,
      seeds: DataFrame,
      iterations: Int = 5,
      unit: Long = 1000000000000L
  ): DataFrame =
    hostRankFrom("trustRank", edges, Seq("rank_units" -> Some(seeds)), iterations, unit)

  /** Normalized (eAll, e, hosts) for the graph algorithms — ONE copy
    * of the edge preamble shared by [[hostRankFrom]] and [[hits]]. The
    * host universe derives from the edge list BEFORE the self-loop
    * filter: a host whose only edges are self-loops still EXISTS
    * (teleport-only rank in PageRank, zero in HITS), honoring the
    * one-row-per-host contract — deriving hosts after the filter would
    * silently drop it. All three frames are persisted; callers
    * unpersist all three. */
  private def edgeGraph(edges: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.storage.StorageLevel
    val eAll = edges
      .select(col("src_host").cast("string").as("src"),
        col("dst_host").cast("string").as("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val e = eAll.filter(col("src") =!= col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val hosts = eAll.select(col("src").as("host"))
      .union(eAll.select(col("dst").as("host")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    (eAll, e, hosts)
  }

  /** The integer damping loop behind [[hostRank]], [[hostRankWarmStart]],
    * [[trustRank]] and [[rankAndTrust]]: one rank column per entry of
    * `ranks`, all carried in ONE frame so a round pays one edge join and
    * one aggregate however many columns ride it. Each column names its
    * teleport vector: `None` is uniform `unit div n` (PageRank),
    * `Some(seeds)` is `unit div |seeds ∩ hosts|` on seed hosts and 0
    * elsewhere (TrustRank). `warm` starts every column from a previous
    * state's same-named column; hosts it lacks start at their teleport
    * share, exactly like a cold round 0. */
  private def hostRankFrom(
      op: String,
      edges: DataFrame,
      ranks: Seq[(String, Option[DataFrame])],
      iterations: Int,
      unit: Long,
      warm: Option[DataFrame] = None
  ): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    import org.apache.spark.storage.StorageLevel
    val names = ranks.map(_._1)
    val cols = names.indices
    val (eAll, e, hosts) = edgeGraph(edges)
    val n = hosts.count() // the one driver action: a single long
    if (n == 0) { // no linked hosts: the empty graph, not a 1/0 crash
      eAll.unpersist(); e.unpersist(); hosts.unpersist()
      return hosts.select(col("host") +: names.map(c => lit(0L).as(c)): _*)
    }
    // one (host, tele_i) column per rank — broadcastable like the ranks
    val withSeeds = ranks.zipWithIndex.foldLeft(hosts) {
      case (acc, ((_, Some(s)), i)) =>
        val sIn = hosts.join(
          s.select(col("host").cast("string").as("host")).distinct(),
          Seq("host"), "left_semi")
        val nS = sIn.count()
        require(nS > 0, s"$op: no seed host present in the graph")
        acc.join(sIn.select(col("host"), lit(unit / nS).as(s"__t$i")),
          Seq("host"), "left")
      case (acc, _) => acc
    }
    val tele = withSeeds.select(col("host") +: cols.map { i =>
      (if (ranks(i)._2.isEmpty) lit(unit / n) // integer division, as the oracle
        else coalesce(col(s"__t$i"), lit(0L))).as(s"tele_$i")
    }: _*).persist(StorageLevel.MEMORY_AND_DISK)
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val start = warm.fold(tele)(prev => tele.join(
      prev.select(col("host") +: cols.map(i => col(names(i)).as(s"__seed$i")): _*),
      Seq("host"), "left"))
    val init = start.select(col("host") +: cols.map { i =>
      (if (warm.isDefined) coalesce(col(s"__seed$i"), col(s"tele_$i"))
        else col(s"tele_$i")).as(names(i))
    }: _*).localCheckpoint()
    val out = (1 to iterations).foldLeft(init) { (cur, _) =>
      val contribs = e
        .join(cur, e("src") === cur("host"))
        .join(outdeg, "src")
        .select(col("dst").as("host") +:
          cols.map(i => expr(s"${names(i)} div outdeg").as(s"c$i")): _*)
        .groupBy("host")
        .agg(sum("c0").as("in0"), cols.tail.map(i => sum(s"c$i").as(s"in$i")): _*)
      tele
        .join(contribs, Seq("host"), "left")
        .select(col("host") +: cols.map { i =>
          (expr(s"(15 * tele_$i) div 100") +
            expr(s"(85 * coalesce(in$i, 0L)) div 100")).as(names(i))
        }: _*)
        .localCheckpoint()
    }
    eAll.unpersist(); e.unpersist(); hosts.unpersist(); tele.unpersist()
    out
  }

  /** HITS hubs & authorities (Kleinberg, JACM 1999) in integer
    * arithmetic: a good AUTHORITY is linked by good hubs, a good HUB
    * links to good authorities — the mutually-recursive pair that
    * separates "directory pages" from "destination pages", which
    * PageRank's single score conflates. Each round sums the opposite
    * score over the edge list (no outdegree division — HITS is the
    * un-normalized-transfer cousin of PageRank) and then renormalizes
    * to ~`scale` units by a truncating integer division: `q = max(v)
    * div scale` (floored at 1), `v' = v div q`. Every operation is
    * BIGINT add / `div`, so the result is bit-identical on any engine
    * and partitioning — the q83/q90 trick extended to an algorithm
    * that NEEDS per-round normalization (raw HITS values grow
    * geometrically and would overflow by round three).
    *
    * Bounds that make the integer form safe: after renormalization
    * every score is < 2·scale, so a round's raw sums stay below
    * 2·scale·maxIndegree — with the default 1e9 scale that holds to
    * ~4.6e9 in-links per host, comfortably web-scale. The per-round
    * `max` is one scalar action each for auth and hub (the documented
    * kMeans/hostRank driver-scalar discipline); frames are (host,
    * long) rows, broadcastable at any corpus size.
    *
    * @return (host, auth_units, hub_units) — a pure hub (nothing links
    *         to it) has auth 0; a pure authority has hub 0 */
  def hits(
      edges: DataFrame,
      iterations: Int = 5,
      scale: Long = 1000000000L
  ): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    val (eAll, e, hosts) = edgeGraph(edges)
    if (hosts.isEmpty) { // empty input: no graph
      eAll.unpersist(); e.unpersist(); hosts.unpersist()
      return hosts.select(col("host"), lit(0L).as("auth_units"),
        lit(0L).as("hub_units"))
    }
    var auth = hosts.select(col("host"), lit(scale).as("v")).localCheckpoint()
    var hub = auth
    def renorm(raw: DataFrame): DataFrame = {
      // materialize the half-round ONCE, then read both the max scalar
      // and the normalized frame from it — max() straight off the lazy
      // raw plan would run the join+aggregate a second time when the
      // checkpoint materializes
      val r = raw.localCheckpoint()
      val mx = r.agg(max("v")).head.getLong(0) // scalar action per round
      val q = math.max(mx / scale, 1L)
      r.select(col("host"), expr(s"v div $q").as("v"))
    }
    for (_ <- 1 to iterations) {
      auth = renorm(hosts
        .join(e.join(hub, e("src") === hub("host"))
          .groupBy(col("dst").as("host")).agg(sum("v").as("__s")),
          Seq("host"), "left")
        .select(col("host"), coalesce(col("__s"), lit(0L)).as("v")))
      hub = renorm(hosts
        .join(e.join(auth, e("dst") === auth("host"))
          .groupBy(col("src").as("host")).agg(sum("v").as("__s")),
          Seq("host"), "left")
        .select(col("host"), coalesce(col("__s"), lit(0L)).as("v")))
    }
    val out = auth.select(col("host"), col("v").as("auth_units"))
      .join(hub.select(col("host"), col("v").as("hub_units")), "host")
    eAll.unpersist(); e.unpersist(); hosts.unpersist()
    out
  }

  /** Per-host degree profile of the link graph: out-degree, in-degree,
    * and how many of a host's out-edges are reciprocated (the other
    * host links back). Reciprocity is the classic link-exchange
    * signal — organic graphs run low, link-farm rings run near 1.0 —
    * and together with the degree ratio it is the cheap first screen
    * a crawl runs before anything iterative ([[hostRank]]/[[hits]]).
    *
    * One distinct edge pass: degrees are two aggregations of it,
    * reciprocity one self-join on the reversed key (equi-join, not a
    * pair blowup — it matches each edge to at most one mirror). All
    * counts exact integers. The persisted edge frames feed four
    * consumers, then release before return: the per-host result (a few
    * longs per host) materializes eagerly via localCheckpoint — the
    * hostRankFrom discipline, so a long-lived session scoring many
    * corpora accumulates nothing in the cache registry. */
  def degreeProfile(edges: DataFrame): DataFrame = {
    val (eAll, e, hosts) = edgeGraph(edges)
    eAll.unpersist() // only e and hosts are read downstream
    val out = e.groupBy(col("src").as("host"))
      .agg(count(lit(1)).as("out_deg"))
    val in = e.groupBy(col("dst").as("host"))
      .agg(count(lit(1)).as("in_deg"))
    val recip = e.as("f")
      .join(e.as("r"),
        col("f.src") === col("r.dst") && col("f.dst") === col("r.src"))
      .groupBy(col("f.src").as("host"))
      .agg(count(lit(1)).as("reciprocal_out"))
    val res = hosts
      .join(out, Seq("host"), "left")
      .join(in, Seq("host"), "left")
      .join(recip, Seq("host"), "left")
      .select(col("host"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("reciprocal_out"), lit(0L)).as("reciprocal_out"))
      .localCheckpoint()
    e.unpersist()
    hosts.unpersist()
    res
  }

  /** Co-citation pairs: two hosts are related when the same SOURCES
    * link to both (Small 1973 — the item-similarity primitive of link
    * analysis; "people who cite X also cite Y"). One self-join of the
    * distinct edge list on the source key, emitting each unordered
    * (host_a < host_b) pair with the number of common citing sources.
    *
    * The `maxOutDeg` cap is the skew guard AND a relevance filter in
    * one (the [[Dedup]] shingle maxDf precedent): a mega-hub source —
    * a directory page, a spam farm index — co-cites everything, so its
    * pairs are both quadratic (outdeg² per source) and uninformative;
    * dropping sources above the cap bounds the join fan-out per key
    * without losing discriminative co-citations. */
  def coCitation(
      edges: DataFrame,
      maxOutDeg: Int = 50,
      minCount: Long = 1
  ): DataFrame = {
    val e = edges
      .select(col("src_host").cast("string").as("src"),
        col("dst_host").cast("string").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    // persisted: both sides of the self-join read this frame — without
    // it the outdeg window and cap filter run twice (ReuseExchange only
    // covers the shuffle below the window). Released before return: the
    // pair result materializes eagerly via localCheckpoint (the
    // hostRankFrom discipline), so nothing stays in the cache registry.
    val capped = e
      .withColumn("__od", count(lit(1)).over(Window.partitionBy("src")))
      .filter(col("__od") <= maxOutDeg)
      .drop("__od")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val res = capped.as("a")
      .join(capped.as("b"),
        col("a.src") === col("b.src") && col("a.dst") < col("b.dst"))
      .groupBy(col("a.dst").as("host_a"), col("b.dst").as("host_b"))
      .agg(count(lit(1)).as("n_common_sources"))
      .filter(col("n_common_sources") >= minCount)
      .localCheckpoint()
    capped.unpersist()
    res
  }

  /** robots.txt → the per-host policy table [[fetchSchedule]]'s
    * policies overload consumes — (host, crawl_delay_s, disallow) from
    * raw fetched robots bodies, closing the politeness loop: crawl the
    * robots files, parse them HERE, feed the schedule. Pure regexp
    * work, zero shuffle, scan speed over the (tiny) robots corpus.
    *
    * Parsing contract (documented boundary, the practical crawler
    * approximation): directives are read file-wide — the first
    * `Crawl-delay:` wins (null if absent) and every `Disallow:` path
    * contributes, i.e. single-agent robots files parse exactly; per-
    * user-agent sectioning (split on `User-agent:` groups and match
    * the crawler's token, RFC 9309 §2.2.1) is deliberately out of
    * scope until a caller needs non-`*` sections. Disallow paths sort
    * lexicographically so the output is deterministic under any
    * partitioning. */
  def parseRobots(robots: DataFrame, hostCol: String, textCol: String): DataFrame = {
    val delay = regexp_extract(col(textCol), "(?i)crawl-delay:\\s*([0-9]+)", 1)
    robots.select(
      col(hostCol).cast("string").as("host"),
      when(delay === "", lit(null).cast("long"))
        .otherwise(delay.cast("long")).as("crawl_delay_s"),
      array_sort(regexp_extract_all(col(textCol),
        lit("(?i)disallow:\\s*(\\S+)"), lit(1))).as("disallow"))
  }

  /** Weakly-connected components of the host graph — site-cluster /
    * link-neighborhood identification (a mirror network or a link farm
    * is one component; [[spamMass]] scores it, this NAMES it so a
    * policy can act per cluster, not per host). Reuses the
    * [[graft.ops.Dedup.connectedComponents]] pointer-jump loop —
    * min-label is type-agnostic, so the component id is the
    * lexicographically smallest member host, stable and meaningful
    * ("the cluster named by its first host"). O(log diameter) rounds,
    * loud non-convergence, the q50 machinery applied to the crawl
    * domain. Host universe derives from the edge list BEFORE the
    * self-loop filter (the [[edgeGraph]] one-row-per-host contract). */
  def hostComponents(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    val eAll = edges
      .select(col("src_host").cast("string").as("doc_a"),
        col("dst_host").cast("string").as("doc_b"))
      .filter(col("doc_a") =!= "" && col("doc_b") =!= "")
      .distinct()
    val hosts = eAll.select(col("doc_a").as("doc_id"))
      .union(eAll.select(col("doc_b").as("doc_id"))).distinct()
    val e = eAll.filter(col("doc_a") =!= col("doc_b"))
    Dedup.connectedComponents(hosts, e, maxIter)
      .select(col("doc_id").as("host"), col("cluster_id").as("component"))
  }

  /** BFS crawl depth: the minimum hop count from any seed host to each
    * reachable host, bounded by `maxDepth` — the crawl-scheduling
    * signal ("how far from the trusted frontier is this host?") that
    * complements [[trustRank]]'s mass propagation with plain
    * reachability, and the standard budget lever for breadth-first
    * crawl expansion (depth-k frontier = round-k fetch budget).
    *
    * Level-synchronous frontier BFS, the iterative-loop discipline of
    * [[hostRankFrom]]/[[hits]]: each round joins the CURRENT frontier
    * (not the whole distance table) against the edge list, anti-joins
    * out hosts already reached — min-hop therefore needs no min() at
    * all, a host is claimed by the first round that touches it — and
    * localCheckpoints both frames to keep lineage flat. One scalar
    * count per round drives early exit when the frontier drains before
    * `maxDepth`. State is (host, long) rows; the per-round work is
    * |frontier-adjacent edges|, never |graph|², and a 1000-executor
    * run shuffles only frontier-sized frames keyed on host.
    *
    * Measured (BehaviorScaleProbe, retired: BENCH_NOTES "Retired
    * measurement probes"; local[32]): 4-round BFS over
    * a 40k-edge / 2k-host graph 2.58 s → 10× the hosts at the same
    * out-degree 3.18 s (1.2× — round-count fixed, per-round frames
    * grow, stage setup dominates). */
  def crawlDepth(
      edges: DataFrame,
      seeds: DataFrame,
      maxDepth: Int = 6
  ): DataFrame = {
    require(maxDepth >= 0, s"maxDepth must be >= 0: $maxDepth")
    val (eAll, e, hosts) = edgeGraph(edges)
    val seedHosts = hosts.join(
      seeds.select(col("host").cast("string").as("host")).distinct(),
      Seq("host"), "left_semi")
    // lazy checkpoints (r13): the frontier count ([[Fixpoint.rows]]) is
    // the one materializing job per round; the dist union is only CONSUMED
    // by the next round's anti-join (or the caller), so its mark cuts
    // lineage without its own job — BFS rounds go from 3 jobs to 1
    var dist = seedHosts.select(col("host"), lit(0L).as("depth"))
      .localCheckpoint(false)
    var frontier = dist
    var frontierSize = Fixpoint.rows(frontier)
    var k = 1L
    while (k <= maxDepth && frontierSize > 0) {
      val next = e
        .join(frontier.select(col("host").as("src")), Seq("src"))
        .select(col("dst").as("host")).distinct()
        .join(dist, Seq("host"), "left_anti")
        .select(col("host"), lit(k).as("depth"))
        .localCheckpoint(false)
      frontierSize = Fixpoint.rows(next)
      dist = dist.union(next).localCheckpoint(false)
      frontier = next
      k += 1
    }
    eAll.unpersist(); e.unpersist(); hosts.unpersist()
    dist
  }

  /** Politeness schedule for a crawl frontier: per host, requests order
    * deterministically (arrival second, then URL as the tiebreak) and
    * pack into slots of `perSlot` fetches; slot k starts `k ×
    * slotSeconds` after the host's first fetch. This is the rate
    * limiter between frontier dedup and the fetcher — crawl etiquette
    * as a DataFrame transform.
    *
    * Scale shape: ONE window partitioned by host — no global sort, no
    * all-frontier ordering. A hot host's partition is inherently
    * sequential (that is what per-host politeness MEANS — its schedule
    * is a serial queue by definition), so unlike a skewed join there is
    * nothing to salt; the window state per task is one counter. */
  def fetchSchedule(
      frontier: DataFrame,
      hostCol: String,
      tsSecondsCol: String,
      urlCol: String,
      perSlot: Int = 4,
      slotSeconds: Int = 10
  ): DataFrame = {
    require(perSlot >= 1 && slotSeconds >= 1,
      s"degenerate schedule: perSlot=$perSlot slotSeconds=$slotSeconds")
    frontier
      .select(col(hostCol).as("host"), col(urlCol).as("url"),
        col(tsSecondsCol).as("ts_s"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("host").orderBy(col("ts_s"), col("url"))).cast("long"))
      .withColumn("slot", expr(s"(rn - 1) div $perSlot"))
      .withColumn("start_s", col("slot") * slotSeconds)
  }

  /** [[fetchSchedule]] with per-host politeness inputs — real crawl
    * etiquette is per-host, not global: robots.txt carries a host's own
    * `Crawl-delay` and `Disallow` rules. `hostPolicies` is one row per
    * host with `crawl_delay_s` (nullable — null falls back to the
    * global `slotSeconds`) and `disallow` (nullable array of path
    * prefixes; a URL whose PATH starts with any of them is dropped
    * before scheduling, the robots exclusion applied at frontier time).
    * Hosts absent from the table get the global defaults.
    *
    * Scale shape unchanged: the policy table is per-host (small —
    * broadcast), the single host-partitioned window still does the
    * scheduling, and the disallow filter is a scan-side expression. */
  def fetchSchedule(
      frontier: DataFrame,
      hostCol: String,
      tsSecondsCol: String,
      urlCol: String,
      perSlot: Int,
      slotSeconds: Int,
      hostPolicies: DataFrame
  ): DataFrame = {
    require(perSlot >= 1 && slotSeconds >= 1,
      s"degenerate schedule: perSlot=$perSlot slotSeconds=$slotSeconds")
    val pol = broadcast(hostPolicies.select(
      col("host").as("__phost"),
      col("crawl_delay_s").cast("long").as("__delay"),
      col("disallow").as("__disallow")))
    frontier
      .select(col(hostCol).as("host"), col(urlCol).as("url"),
        col(tsSecondsCol).as("ts_s"))
      .join(pol, col("host") === col("__phost"), "left")
      .withColumn("__path",
        regexp_extract(col("url"), "(?i)^https?://[^/?#]+([^?#]*)", 1))
      .filter(!exists(
        coalesce(col("__disallow"), array().cast("array<string>")),
        p => col("__path").startsWith(p)))
      .withColumn("__slot_s", coalesce(col("__delay"), lit(slotSeconds.toLong)))
      .withColumn("rn", row_number().over(
        Window.partitionBy("host").orderBy(col("ts_s"), col("url"))).cast("long"))
      .withColumn("slot", expr(s"(rn - 1) div $perSlot"))
      .withColumn("start_s", col("slot") * col("__slot_s"))
      .drop("__phost", "__delay", "__disallow", "__path", "__slot_s")
  }

  /** PageRank and TrustRank propagated TOGETHER in one loop — the
    * fused input for [[spamMass]]: both scores ride the same damping
    * recursion over the same edges, differing only in their teleport
    * vector (uniform vs seed-restricted), so each round can carry
    * (rank, trust) as two columns of ONE frame and pay one edge join +
    * one aggregate instead of two of each. Bit-identical to running
    * [[hostRank]] and [[trustRank]] separately (WebGraphSpec law) —
    * the integer arithmetic per column is untouched — at roughly half
    * the jobs: one edge preamble, one outdeg aggregate, one join tree
    * per round. Measured (FusedRankProbe, retired: BENCH_NOTES "Retired
    * measurement probes"; sf0.1, min of 3, dedicated JVM): separate
    * loops 4.47 s → fused 2.35 s (1.9×).
    *
    * @return (host, rank_units, trust_units) */
  def rankAndTrust(
      edges: DataFrame,
      seeds: DataFrame,
      iterations: Int = 5,
      unit: Long = 1000000000000L
  ): DataFrame = hostRankFrom("rankAndTrust", edges,
    Seq("rank_units" -> None, "trust_units" -> Some(seeds)), iterations, unit)

  /** [[spamMass]] over [[rankAndTrust]]'s fused output — the
    * production composition: one loop, then the ppm arithmetic. */
  def spamMassFrom(rankTrust: DataFrame): DataFrame =
    rankTrust.withColumn("spam_mass_ppm", spamMassPpm)

  private def spamMassPpm: Column =
    when(col("rank_units") <= 0, lit(0L)).otherwise(
      expr("(greatest(rank_units - trust_units, 0L) * 1000000) div rank_units"))

  /** Spam mass (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004 §6): the
    * fraction of a host's PageRank that did NOT arrive through trusted
    * paths — `(rank − trust) / rank`, here in parts-per-million integer
    * fixed point so the composite stays under the exact-hash gate like
    * its two inputs. A link farm ranks well but is unreachable from
    * every trust seed, so its trust is exactly 0 (integers) and its
    * spam mass is exactly 1,000,000; an organically-cited host's rank
    * is mostly trust-covered and its mass sits near 0. The difference
    * is clamped at 0 before the division (a seed host's concentrated
    * teleport can exceed its rank; truncating `div` is only
    * engine-exact on non-negatives — the q83/q90 rule).
    *
    * One broadcast-sized join of two (host, long) frames — rank and
    * trust are [[hostRank]]/[[trustRank]] outputs, already tiny
    * relative to the corpus at any scale. */
  def spamMass(rank: DataFrame, trust: DataFrame): DataFrame =
    rank.select(col("host"), col("rank_units"))
      .join(
        trust.select(col("host"), col("rank_units").as("trust_units")),
        Seq("host"), "left")
      .select(col("host"), col("rank_units"),
        coalesce(col("trust_units"), lit(0L)).as("trust_units"))
      .withColumn("spam_mass_ppm", spamMassPpm)

  /** Tracking query parameters stripped by [[canonicalizeUrl]]: the
    * analytics/click-id families that vary per visit without changing
    * the resource. Shared with the oracle. Used with a `[?&]` LEFT
    * BOUNDARY prepended — without it, `gclid=` would match inside a
    * longer param name (`xgclid=1`) or inside a VALUE
    * (`q=what+is+gclid=x`), corrupting non-tracking params and falsely
    * merging distinct URLs. The name match is case-INSENSITIVE via a
    * scoped `(?i:…)` group (RE2-portable, and scoped so the prepended
    * boundary stays case-exact): real crawl logs carry `UTM_Source=`
    * and `GCLID=` variants, and a case-sensitive strip would let them
    * defeat frontier dedup. Param VALUES are untouched either way. */
  val TrackingParamPattern = "(?i:utm_[a-z]+|gclid|fbclid|msclkid)=[^&#]*"

  /** Canonicalize an absolute http(s) URL so that per-visit noise
    * collapses and the same resource gets the same key — the identity
    * under which a crawl dedups fetches. The steps, in order:
    *
    *   1. scheme and host lowercase (path stays case-sensitive — RFC
    *      3986 §6.2.2.1 draws exactly this line);
    *   2. default ports dropped (`http://…:80`, `https://…:443`);
    *   3. fragment dropped (client-side only, never sent to the server);
    *   4. tracking parameters removed ([[TrackingParamPattern]]), with
    *      separator cleanup so `?utm_x=1&id=2` → `?id=2` and a
    *      query left empty disappears entirely;
    *   5. empty path → `/` (`http://a.com` ≡ `http://a.com/`).
    *
    * Pure expression chain — zero shuffle, scan-speed over 100 TB of
    * crawl logs. Non-URLs (no `scheme://host`) canonicalize to '' so
    * the caller can filter them in one pass. */
  /** Dot-segment removal (RFC 3986 §5.2.4) by bounded regexp passes —
    * shared verbatim (patterns AND pass counts) between the Spark
    * expression and the DuckDB oracle, the [[TrackingParamPattern]]
    * convention. Each `/./` pass halves a run of dot segments; each
    * parent pass removes one nesting level of `/seg/../`, so the bounds
    * below normalize any path with ≤ 2^[[DotSegmentPasses]] consecutive
    * `.`s and ≤ [[ParentSegmentPasses]] nested `..`s — deeper chains
    * are adversarial, not crawl HTML. The parent-segment class excludes
    * `.` and `..` themselves so `/a/../../b` collapses left-to-right
    * instead of eating the wrong pair; what `..`s survive to the front
    * collapse to the root in the final leading pass (a URI's path
    * cannot climb above the authority — §5.2.4's "remove leading ..").
    */
  val DotSlashPattern = "/\\.(/|$)"
  val ParentPattern = "/([^/.][^/]*|\\.[^/.][^/]*|\\.\\.[^/]+)/\\.\\.(/|$)"
  val LeadingParentPattern = "^(/\\.\\.)+(/|$)"
  val DotSegmentPasses = 8
  val ParentSegmentPasses = 10

  /** Apply [[DotSlashPattern]]/[[ParentPattern]]/[[LeadingParentPattern]]
    * to a PATH column (must be authority-rooted, i.e. start with `/` or
    * be empty). Pure expression — zero shuffle. */
  def removeDotSegments(path: Column): Column = {
    val noDots = (1 to DotSegmentPasses).foldLeft(path)((p, _) =>
      regexp_replace(p, DotSlashPattern, "/"))
    val noParents = (1 to ParentSegmentPasses).foldLeft(noDots)((p, _) =>
      regexp_replace(p, ParentPattern, "/"))
    regexp_replace(noParents, LeadingParentPattern, "/")
  }

  /** SQL twin of [[removeDotSegments]] for the oracle: the same
    * patterns, the same pass counts, nested `regexp_replace` calls. */
  def removeDotSegmentsSql(expr: String): String = {
    val noDots = (1 to DotSegmentPasses).foldLeft(expr)((e, _) =>
      s"regexp_replace($e, '$DotSlashPattern', '/', 'g')")
    val noParents = (1 to ParentSegmentPasses).foldLeft(noDots)((e, _) =>
      s"regexp_replace($e, '$ParentPattern', '/', 'g')")
    s"regexp_replace($noParents, '$LeadingParentPattern', '/', 'g')"
  }

  /** [[removeDotSegments]] applied to the path portion of an absolute
    * http(s) URL, leaving scheme/authority/query/fragment untouched (a
    * `/../` inside a QUERY is data, not navigation). Non-http(s)
    * strings pass through unchanged — [[canonicalizeUrl]] downstream
    * maps them to ''. */
  def normalizeDotSegments(url: Column): Column = {
    val pre = regexp_extract(url, "(?i)^(https?://[^/?#]*)", 1)
    val path = regexp_extract(url, "(?i)^https?://[^/?#]*([^?#]*)", 1)
    val suffix = regexp_extract(url, "(?i)^https?://[^/?#]*[^?#]*(.*)$", 1)
    when(pre === "", url)
      .otherwise(concat(pre, removeDotSegments(path), suffix))
  }

  /** Resolve an href against its page's base URL — RFC 3986 §5's
    * reference-resolution algorithm as a pure expression, then
    * [[canonicalizeUrl]] so every resolved link lands in the same
    * keyspace the frontier dedups on. This is what lets the crawl
    * family see RELATIVE links — the majority of hrefs in real HTML:
    *
    *   - href with a scheme (`http://…`, `mailto:…`) → taken as-is
    *     (non-http(s) schemes canonicalize to '' — filter them);
    *   - `//host/p` (protocol-relative) → base's scheme;
    *   - `/p` (root-relative) → base's authority;
    *   - `?q` (query-only) → base's authority + path, new query;
    *   - `#frag` / empty → the base itself (same document);
    *   - `p`, `./p`, `../p` (relative) → merged onto the base path's
    *     directory (§5.3 merge), dot segments removed (§5.2.4).
    *
    * An invalid base (not absolute http(s)) resolves everything to ''.
    * Zero shuffle; usable inside `transform` over an href array
    * ([[extractLinks]]'s two-argument overload).
    *
    * PERFORMANCE: as ONE expression, each canonicalization stage
    * re-references its input, so the merge CASE and the dot-removal
    * chain re-evaluate multiply per row (measured ~5 s for 5k rows).
    * For COLUMN-level use prefer the staged form — one `withColumn`
    * per stage ([[mergeRelative]] → [[normalizeDotSegments]] →
    * [[canonicalizeUrl]]): since the expressions are non-cheap and
    * multiply-referenced, CollapseProject keeps the projections
    * separate and each stage evaluates once per row (the q94 shape,
    * ~8× faster, bit-identical output). Inside a `transform` lambda
    * (per-link work in [[extractLinks]]) staging is not expressible —
    * there the composed form is the cost of per-element semantics. */
  def resolveUrl(base: Column, href: Column): Column =
    canonicalizeUrl(normalizeDotSegments(mergeRelative(base, href)))

  /** Stage 1 of [[resolveUrl]]: the RFC 3986 §5.3 merge alone — href
    * classified against the base into an absolute-URL string, dot
    * segments NOT yet removed, nothing canonicalized. */
  def mergeRelative(base: Column, href: Column): Column = {
    val bScheme = lower(regexp_extract(base, "(?i)^(https?)://", 1))
    val bAuth = regexp_extract(base, "(?i)^https?://([^/?#]+)", 1)
    val bPath = regexp_extract(base, "(?i)^https?://[^/?#]+([^?#]*)", 1)
    val bDirRaw = regexp_extract(bPath, "^(.*/)", 1)
    val bDir = when(bDirRaw === "", lit("/")).otherwise(bDirRaw)
    val root = concat(bScheme, lit("://"), bAuth)
    // RFC 3986 §5.2.2: a reference that carries its own scheme IS the
    // target — checked before base validity, so absolute hrefs survive
    // a garbage base (the law PropertySpec pins for any base)
    when(href.rlike("^[A-Za-z][A-Za-z0-9+.-]*:"), href)
      .when(bScheme === "" || bAuth === "", lit(""))
      .when(href.startsWith("//"), concat(bScheme, lit(":"), href))
      .when(href.startsWith("/"), concat(root, href))
      .when(href.startsWith("?"),
        concat(root,
          when(bPath === "", lit("/")).otherwise(bPath), href))
      .when(href.startsWith("#") || href === "", base)
      .otherwise(concat(root, bDir, href))
  }

  /** Exact per-host triangle counts and local clustering coefficients on
    * the undirected host graph — the classic link-farm / mutual-citation
    * density signal ([[spamMass]] measures WHERE bad rank mass flows;
    * this measures HOW interlinked a neighborhood is — a host whose
    * neighbors all link each other is a clique-ish cluster, organic
    * hub-and-spoke hosts score near 0).
    *
    * Algorithm is the degree-ordered "compact-forward" enumeration: each
    * undirected edge is oriented from the lower-(degree, host) endpoint
    * to the higher, so every triangle {x,y,z} is emitted EXACTLY once
    * (at its lowest-rank apex) and — the 100 TB property — the oriented
    * out-degree is O(√m), which caps the wedge join that a naive
    * enumeration lets explode on hub nodes: a 10⁶-degree hub generates
    * 10¹² wedges undirected, but near-zero as a wedge APEX because
    * almost all its edges orient inward. Three shuffles total (degree
    * agg, wedge self-join, closing semi-join), all keyed on host —
    * no all-pairs anywhere.
    *
    * Output: (host, degree, triangles, clustering_coeff) per host with
    * degree ≥ 1; coefficient = 2T / d(d−1) (0 when d < 2), computed in
    * double — one IEEE division of exact integers, bit-stable across
    * engines. Self-loops and duplicate/reverse edges are collapsed
    * first (triangle counting is defined on the simple graph).
    *
    * Measured (WebGraphScaleProbe, retired: BENCH_NOTES "Retired
    * measurement probes"; sf0.1, local[32],
    * warm): 10× the pages AND 10× the host universe 0.75 → 1.27 s
    * (1.7× — edge-count-bound, stage setup still dominant), alongside
    * kCore 2.1 → 1.2 s (0.6×: the bigger modular graph is MORE
    * 2-core-complete, so the peel converges in fewer productive
    * rounds — iterative cost tracks peel depth, not graph size). */
  def triangles(edges: DataFrame): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val und = undirectedEdges(edges).persist(StorageLevel.MEMORY_AND_DISK)
    val deg = degrees(und, "degree").persist(StorageLevel.MEMORY_AND_DISK)
    // orient low-rank → high-rank, rank = (degree, host) lexicographic
    val withDeg = und
      .join(deg.select(col("host").as("a"), col("degree").as("da")), Seq("a"))
      .join(deg.select(col("host").as("b"), col("degree").as("db")), Seq("b"))
    val oriented = withDeg.select(
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("src"), col("b").as("dst"),
          col("db").as("ddst")))
        .otherwise(struct(col("b").as("src"), col("a").as("dst"),
          col("da").as("ddst"))).as("e"))
      .select(col("e.src"), col("e.dst"), col("e.ddst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // wedges at apex src: (v, w) with rank(v) < rank(w); close with the
    // oriented edge (v, w) — a left_semi can't count multiplicity here
    // because each wedge closes at most one way, so an inner join on the
    // canonical pair is already multiplicity-exact
    val wedges = oriented.as("l").join(oriented.as("r"), Seq("src"))
      .filter(col("l.ddst") < col("r.ddst") ||
        (col("l.ddst") === col("r.ddst") && col("l.dst") < col("r.dst")))
      .select(col("src").as("x"), col("l.dst").as("y"), col("r.dst").as("z"))
    val tris = wedges.join(
      oriented.select(col("src").as("y"), col("dst").as("z")), Seq("y", "z"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val perHost = tris.select(explode(array(col("x"), col("y"), col("z"))).as("host"))
      .groupBy("host").agg(count(lit(1)).as("triangles"))
    val out = deg.join(perHost, Seq("host"), "left_outer")
      .select(col("host"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("clustering_coeff",
        when(col("degree") < 2, lit(0.0d))
          .otherwise((col("triangles") * 2).cast("double") /
            (col("degree") * (col("degree") - lit(1L))).cast("double")))
    val materialized = out.localCheckpoint()
    und.unpersist(); deg.unpersist(); oriented.unpersist(); tris.unpersist()
    materialized
  }

  /** The canonical simple undirected edge list of [[triangles]], [[kCore]]
    * and [[kTruss]]: one (a, b) row per host pair with a < b — empty hosts
    * and self-loops dropped, duplicate and reverse edges collapsed. */
  private def undirectedEdges(edges: DataFrame): DataFrame =
    edges
      .select(col("src_host").cast("string").as("s"),
        col("dst_host").cast("string").as("d"))
      .filter(col("s") =!= "" && col("d") =!= "" && col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"),
        greatest(col("s"), col("d")).as("b"))
      .distinct()

  /** (host, `name`): every host's degree in an [[undirectedEdges]] list. */
  private def degrees(und: DataFrame, name: String): DataFrame =
    und.select(col("a").as("host"))
      .union(und.select(col("b").as("host")))
      .groupBy("host").agg(count(lit(1)).as(name))

  /** k-core decomposition by iterative peeling: repeatedly delete every
    * host whose degree in the CURRENT subgraph is < k until the
    * subgraph is stable; what survives is the k-core — the standard
    * "dense nucleus" extractor (crawl prioritization seeds, spam-ring
    * cores, community backbones all start from it). Returns each
    * surviving host with its degree inside the core.
    *
    * The peel is a [[Fixpoint.converge]] over the edge set: per round ONE
    * degree aggregation keyed on host + one semi-join filtering the edge
    * list. Rounds are bounded by the peel depth of the graph (typically
    * ≪ |V|; `maxIter` guards pathological chains loudly rather than
    * spinning). Per-round cost is |surviving edges| — monotonically
    * shrinking — and state is (host, long) rows, the shape that holds on
    * a 1000-executor graph. */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 30): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val (core, _) = Fixpoint.converge("kCore", maxIter, undirectedEdges(edges)) { und =>
      // eager: both semi-join legs read the degrees
      val keep = degrees(und, "core_degree").localCheckpoint()
        .filter(col("core_degree") >= k)
      und
        .join(keep.select(col("host").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("host").as("b")), Seq("b"), "left_semi")
        .select("a", "b")
    }
    // the last round's degrees were taken before its peel; recount on
    // the fixed point
    degrees(core, "core_degree")
  }

  /** k-truss decomposition — [[kCore]]'s cohesion test upgraded from
    * degree to TRIANGLE support: an edge survives the k-truss iff it
    * closes at least k−2 triangles among surviving edges. Where k-core
    * keeps any well-connected node (a star hub passes trivially), the
    * truss demands mutual neighborhoods — the tightest standard
    * definition of a community core short of cliques, and the
    * link-farm shape (dense mutual rings) that degree screens miss.
    * The peel is a [[Fixpoint.converge]] like [[kCore]]'s; each round
    * recounts support with the [[triangles]]-style wedge join on the
    * CANONICAL (a<b) edge list — candidates only, never all pairs —
    * then semi-joins the survivors. Returns the fixpoint edges with
    * their final support, the per-edge community-strength score.
    * Gated by q271 against fully unrolled MATERIALIZED peel rounds. */
  def kTruss(edges: DataFrame, k: Int, maxIter: Int = 30): DataFrame = {
    require(k >= 3, s"k must be >= 3: $k")
    def support(und: DataFrame): DataFrame = {
      val e1 = und.select(col("a").as("x"), col("b").as("y"))
      val e2 = und.select(col("a").as("x"), col("b").as("z"))
      val e3 = und.select(col("a").as("y"), col("b").as("z"))
      val tri = e1.join(e2, Seq("x")).filter(col("y") < col("z"))
        .join(e3, Seq("y", "z"))
      tri.select(col("x").as("a"), col("y").as("b"))
        .union(tri.select(col("x").as("a"), col("z").as("b")))
        .union(tri.select(col("y").as("a"), col("z").as("b")))
        .groupBy("a", "b").agg(count(lit(1)).as("sup"))
    }
    val (truss, _) = Fixpoint.converge("kTruss", maxIter, undirectedEdges(edges)) { und =>
      und.join(support(und).filter(col("sup") >= k - 2).select("a", "b"),
        Seq("a", "b"), "left_semi")
    }
    truss.join(support(truss), Seq("a", "b"))
  }

  def canonicalizeUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "(?i)^(https?)://", 1))
    val host = hostOf(url)
    val port = regexp_extract(url, "(?i)^https?://[^/:?#]+:([0-9]+)", 1)
    val keepPort = port =!= "" &&
      !(scheme === "http" && port === "80") &&
      !(scheme === "https" && port === "443")
    // path + query, fragment excluded: everything after the authority
    // up to the first '#'
    val rest = regexp_extract(url, "(?i)^https?://[^/?#]+([^#]*)", 1)
    // path and query handled SEPARATELY — the tracking strip only ever
    // sees the query, so a literal '&' in a path (legal, unencoded)
    // passes through untouched and the whole transform is idempotent
    // (PropertySpec pins canonical(canonical(u)) == canonical(u); the
    // earlier promote-&-to-? form re-fired on &-in-path inputs). Inside
    // the query, each tracking param anchors at its delimiter — the
    // left boundary that keeps lookalike names (xgclid=) and values
    // ('q=what+is+gclid=x') intact: mid-query '&p' first, then a
    // leading 'p&' (at most one survives the first pass), then a
    // query that was ONLY tracking, then dangling '&'s.
    val path = regexp_extract(rest, "^([^?]*)", 1)
    val query = regexp_extract(rest, "^[^?]*\\?(.*)$", 1)
    val q1 = regexp_replace(query, "&" + TrackingParamPattern, "")
    val q2 = regexp_replace(q1, "^" + TrackingParamPattern + "&", "")
    val q3 = regexp_replace(q2, "^" + TrackingParamPattern + "$", "")
    val q4 = regexp_replace(q3, "&+$", "")
    val pathNorm = when(path === "", lit("/")).otherwise(path)
    when(scheme === "" || host === "", lit(""))
      .otherwise(concat(
        scheme, lit("://"), host,
        when(keepPort, concat(lit(":"), port)).otherwise(lit("")),
        pathNorm,
        when(q4 === "", lit("")).otherwise(concat(lit("?"), q4))))
  }

  /** Deterministic random walks — the DeepWalk/node2vec corpus generator
    * expressed as L iterated joins: each node launches `walkers` walks of
    * `length` steps, and step t of walk (node, w) moves to
    * `neighbors[md5(cur ‖ '#' ‖ w ‖ '#' ‖ t) mod degree]` over the
    * SORTED neighbor list — a hash-indexed choice, not an RNG, so the
    * corpus is reproducible across engines, runs, and partitionings (the
    * [[graft.ops.Sampling]] determinism contract applied to graph
    * traversal; the q166 oracle replays the same draws nibble-by-nibble).
    * Dead-end nodes hold their position (the walk pads with the sink).
    *
    * Shapes: one aggregate builds the adjacency (node → sorted neighbor
    * array — cap out-degree upstream for hub-heavy graphs, the
    * co-citation lesson); each step is ONE join of the walk frontier
    * against it. At web scale that is L shuffle joins with the frontier
    * re-hashed per step — cut lineage every few steps exactly as the
    * PageRank loop does ([[pageRank]]'s localCheckpoint discipline); at
    * bounded node universes the adjacency broadcasts and the loop is
    * shuffle-free. Output: one row per walk, `path` space-joined — the
    * skip-gram training line. */
  def randomWalks(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      length: Int,
      walkers: Int,
      broadcastAdjacency: Boolean = true
  ): DataFrame = {
    require(length >= 1 && length <= 64, s"bad walk length: $length")
    require(walkers >= 1 && walkers <= 64, s"bad walker count: $walkers")
    val nbrs = edges
      .select(col(srcCol).as("__node"), col(dstCol).as("__nbr"))
      .filter(col("__node") =!= col("__nbr"))
      .distinct()
      .groupBy("__node")
      .agg(sort_array(collect_list(col("__nbr"))).as("__ns"))
    var state = nbrs.select(col("__node").as("start_node"))
      .select(col("start_node"),
        explode(sequence(lit(0), lit(walkers - 1))).as("walker"))
      .select(col("start_node"), col("walker").cast("long").as("walker"),
        col("start_node").as("__cur"), col("start_node").as("path"))
    for (step <- 0 until length) {
      val h = conv(substring(
        md5(concat(col("__cur"), lit("#"), col("walker").cast("string"),
          lit("#"), lit(step.toString))), 1, 8), 16, 10).cast("long")
      // the broadcast hint is only correct for bounded node universes
      // (the scaladoc's contract); web-scale callers pass false and get
      // a shuffle join per step + the pageRank lineage discipline
      val adj = if (broadcastAdjacency) broadcast(nbrs) else nbrs
      state = state
        .join(adj, state("__cur") === nbrs("__node"), "left_outer")
        .withColumn("__next",
          when(col("__ns").isNull, col("__cur"))
            .otherwise(element_at(col("__ns"),
              (pmod(h, size(col("__ns"))) + 1).cast("int"))))
        .select(col("start_node"), col("walker"),
          col("__next").as("__cur"),
          concat(col("path"), lit(" "), col("__next")).as("path"))
    }
    state.select(col("start_node"), col("walker"), col("path"))
      .orderBy("start_node", "walker")
  }

  /** Synchronous label propagation (Raghavan et al., Phys. Rev. E 2007) on
    * the UNDIRECTED host graph: every host starts labeled with itself;
    * each round, simultaneously, a host adopts the label most frequent
    * among its neighbors (ties → lexicographically smallest label). A
    * FIXED round count — not convergence detection — because synchronous
    * LPA oscillates on bipartite-ish structures (a 2-node component flips
    * labels forever); fixed rounds make the operator a pure deterministic
    * function of the graph, which is what an oracle gate and a re-runnable
    * pipeline both need. Complements [[hostComponents]]: components fuse
    * everything reachable (one bridge merges two clusters), LPA's
    * frequency vote keeps densely-linked clusters distinct across sparse
    * bridges — the community signal used for crawl sharding and
    * link-farm fencing.
    *
    * Per round: one join (edges × labels, keyed on the neighbor), one
    * count agg on (host, label), one bounded window (partition = host,
    * state = that host's distinct neighbor labels) for the
    * argmax-with-tiebreak. Rounds localCheckpoint (the [[hostRankFrom]]
    * lineage discipline). At 1000 executors every stage keys on host —
    * degree skew lands in the count agg, which partial-aggregates
    * map-side. Gate: q219 with a 3-round unrolled MATERIALIZED oracle. */
  def labelPropagation(edges: DataFrame, rounds: Int = 3): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.storage.StorageLevel
    val dir0 = edges
      .select(col("src_host").cast("string").as("a"),
        col("dst_host").cast("string").as("b"))
      .filter(col("a") =!= "" && col("b") =!= "" && col("a") =!= col("b"))
    val und = dir0.union(dir0.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = und.select(col("a").as("host")).distinct()
      .withColumn("label", col("host"))
      .localCheckpoint()
    val w = Window.partitionBy("host")
      .orderBy(col("__c").desc, col("__nl"))
    for (_ <- 1 to rounds) {
      labels = und
        .join(labels.select(col("host").as("b"), col("label").as("__nl")), "b")
        .groupBy(col("a").as("host"), col("__nl"))
        .agg(count(lit(1)).as("__c"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("host"), col("__nl").as("label"))
        .localCheckpoint()
    }
    und.unpersist()
    labels.select(col("host"), col("label").as("community"))
  }

  /** Bounded-hop weighted shortest paths (Bellman-Ford, `rounds`
    * relaxation rounds) from `seeds` over directed edges carrying a
    * non-negative integer `weight` column: after round k every host
    * reachable within k hops holds the cheapest ≤ k-hop cost — the
    * weighted generalization of [[crawlDepth]]'s BFS (cost-aware crawl
    * budgeting: weight = politeness delay or fetch cost instead of hop
    * count). Costs stay exact longs; parallel edges collapse to their
    * MIN weight first.
    *
    * Unlike BFS, a weighted relaxation can IMPROVE an already-reached
    * host, so there is no frontier/anti-join shortcut — each round joins
    * the full distance table against the edge list and min-folds:
    * distance rows ∪ (dist + w via edges) → groupBy host → min. Per
    * round: one join keyed on the edge source, one min agg keyed on
    * host, both partial-aggregating; lineage cut per round by
    * localCheckpoint. Gate: q220, oracle = the same min-fold unrolled as
    * MATERIALIZED CTEs (the q103 discipline). */
  def weightedPaths(
      edges: DataFrame,
      seeds: DataFrame,
      rounds: Int = 4
  ): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0: $rounds")
    import org.apache.spark.storage.StorageLevel
    val e = edges
      .select(col("src_host").cast("string").as("src"),
        col("dst_host").cast("string").as("dst"),
        col("weight").cast("long").as("w"))
      .filter(col("src") =!= "" && col("dst") =!= "" &&
        col("src") =!= col("dst") && col("w") >= 0L)
      .groupBy("src", "dst").agg(min(col("w")).as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var dist = seeds.select(col("host").cast("string").as("host")).distinct()
      .join(e.select(col("src").as("host"))
        .union(e.select(col("dst").as("host"))).distinct(), Seq("host"),
        "left_semi")
      .withColumn("cost", lit(0L))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      dist = dist
        .union(e.join(dist.select(col("host").as("src"), col("cost")), "src")
          .select(col("dst").as("host"), (col("cost") + col("w")).as("cost")))
        .groupBy("host").agg(min(col("cost")).as("cost"))
        .localCheckpoint()
    }
    e.unpersist()
    dist
  }

  /** Strongly-connected components of the DIRECTED host graph — the
    * signal [[hostComponents]] cannot give: a link farm that points at a
    * victim site is WEAKLY connected to it, but only mutual-reachability
    * cycles (the farm's internal ring, a mirror network's cross-links)
    * are STRONGLY connected. SCC membership separates "linked to" from
    * "in cahoots with".
    *
    * Orzan-style coloring (the published distributed SCC shape, the same
    * family as FW-BW decomposition): each outer round
    *   1. propagates the MAX host id forward along edges to a fixpoint
    *      ("color" — every node learns the largest id that can reach it);
    *   2. nodes whose color is their own id are pivots — provably the
    *      max id of their own SCC;
    *   3. each pivot's SCC is the set of nodes with the pivot's color
    *      that can reach the pivot BACKWARD through same-colored nodes
    *      (forward reachability is the color itself, so color-restricted
    *      backward reachability = mutual reachability);
    *   4. resolved SCCs leave the graph; repeat on the remainder.
    * Every step is a join + groupBy over (host, color) frames —
    * Pregel-shaped, no driver-side adjacency; both inner loops are
    * [[Fixpoint.converge]]s, so driver state is per-round scalar counts
    * only. Rounds are capped and non-convergence is loud.
    * Self-loops are dropped up front (a node is trivially in its own
    * SCC); isolated or acyclic nodes resolve as singleton SCCs labeled
    * by themselves. The SCC id is the LARGEST member host id (the pivot
    * — max-label is what the forward pass computes — MEASURED
    * (AnalyticsScaleProbe, retired: BENCH_NOTES "Retired measurement
    * probes"; 10× docs over a replica-invariant host
    * graph): 1.5×, the edge-dedup scan only, fixpoint rounds constant;
    * the sf0.1 fixture's ~2.9 s floor is driver/job overhead on ~15
    * tiny fixpoint jobs, not data cost; q108's weak
    * components use min-label, the two are deliberately distinct). */
  def stronglyConnectedComponents(
      edges: DataFrame, maxOuter: Int = 20, maxInner: Int = 64): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val eAll = edges
      .select(col("src_host").cast("string").as("src"),
        col("dst_host").cast("string").as("dst"))
      .filter(col("src") =!= "" && col("dst") =!= "")
      .distinct()
    val hosts = eAll.select(col("src").as("host"))
      .union(eAll.select(col("dst").as("host"))).distinct()
    // the outer loop keeps [[Fixpoint]]'s discipline by hand: lazy marks,
    // materialized by the [[Fixpoint.rows]] counts it needs anyway
    var remaining = hosts.localCheckpoint(false)
    var eRem = eAll.filter(col("src") =!= col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var result = remaining.sparkSession.emptyDataFrame
      .select(lit("").as("host"), lit("").as("scc")).limit(0)
    var outer = 0
    var left = Fixpoint.rows(remaining)
    while (left > 0 && outer < maxOuter) {
      outer += 1
      // 1. forward max-color fixpoint: color(v) = max id reaching v.
      // The color leg carries each host's OLD color through the same
      // aggregation (the Dedup.connectedComponents r12 fusion): colors
      // only grow, so max(__old) is the old color and convergence is a
      // plain scan of the round's frame — no per-round next⋈color
      // shuffle join (guide §2.4).
      val (forward, _) = Fixpoint.converge("SCC color propagation", maxInner,
          remaining.select(col("host"), col("host").as("color")),
          changed = Some(col("color") =!= col("__old"))) { prev =>
        val color = prev.drop("__old")
        color.select(col("host"), col("color"), col("color").as("__old"))
          .union(eRem.join(color.withColumnRenamed("host", "src"), "src")
            .select(col("dst").as("host"), col("color"),
              lit(null).cast("string").as("__old")))
          .groupBy("host").agg(
            max(col("color")).as("color"), max(col("__old")).as("__old"))
      }
      val color = forward.drop("__old")
      // 2+3. pivots, then backward reachability inside the color class.
      val colored = eRem
        .join(color.select(col("host").as("src"), col("color").as("sc")), "src")
        .join(color.select(col("host").as("dst"), col("color").as("dc")), "dst")
        .filter(col("sc") === col("dc"))
        .select(col("src"), col("dst"), col("sc").as("color"))
        .localCheckpoint(false)
      // same fusion as the forward pass: membership in the previous
      // round rides the aggregation (groupBy replaces the distinct —
      // same shuffle), so "did the marked set grow" is a scan, not two
      // count jobs over both frames
      val (marked, _) = Fixpoint.converge("SCC backward sweep", maxInner,
          color.filter(col("host") === col("color")),
          changed = Some(col("__old").isNull)) { prev =>
        val marked = prev.drop("__old")
        marked.select(col("host"), col("color"), lit(1L).as("__old"))
          .union(colored
            .join(marked.select(col("host").as("dst"), col("color")),
              Seq("dst", "color"))
            .select(col("src").as("host"), col("color"),
              lit(null).cast("long").as("__old")))
          .groupBy("host", "color").agg(max(col("__old")).as("__old"))
      }
      // 4. bank the resolved SCCs; shrink the graph.
      // result is only CONSUMED at the end (or unioned next round): a
      // lazy mark cuts lineage without spending a per-round job on it
      result = result
        .union(marked.select(col("host"), col("color").as("scc")))
        .localCheckpoint(false)
      remaining = remaining.join(marked.select("host"), Seq("host"),
        "left_anti").localCheckpoint(false)
      // materialize remaining FIRST (its count is the loop variable
      // anyway), so eNext's two semi-join legs read its persisted blocks
      // instead of computing the anti-join twice
      left = Fixpoint.rows(remaining)
      val eNext = eRem
        .join(remaining.select(col("host").as("src")), Seq("src"), "left_semi")
        .join(remaining.select(col("host").as("dst")), Seq("dst"), "left_semi")
        .select("src", "dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
      // fills eNext's cache. Dataset.count(), not Fixpoint.rows: measured
      // at sf0.1 (q252), an RDD count over this persisted frame saved no
      // job and left the next round's plan varying run to run (one extra
      // exchange in 2 of 6 runs); this count repeated exactly in 8 of 8
      eNext.count()
      eRem.unpersist()
      eRem = eNext
    }
    eRem.unpersist()
    require(left == 0,
      s"SCC decomposition did not finish in $maxOuter outer rounds")
    result
  }
}
