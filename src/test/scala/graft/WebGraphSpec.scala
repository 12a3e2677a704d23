package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.ops.WebGraph

class WebGraphSpec extends SparkTestBase {
  import testImplicits._

  /** Power-law host index in [1, hosts): floor(hosts^u), u ∈ [0,1). */
  def zipfIdx(seed: Column, hosts: Int): Column =
    least(
      floor(pow(lit(hosts.toDouble),
        pmod(seed, lit(1000)).cast("double") / 1000.0)).cast("long"),
      lit(hosts.toLong - 1))

  test("extractLinks: absolute http(s) anchors only, casing tolerated, document order") {
    val html =
      """<a href="http://a.example/p">1</a>
        |<A HREF="HTTPS://B.EXAMPLE/q?x=1">2</A>
        |<a href="/relative/p">no</a>
        |<a href="mailto:x@c.example">no</a>
        |<a href="javascript:void(0)">no</a>
        |<a href="http://a.example/p2">3</a>""".stripMargin
    val out = Seq(Tuple1(html)).toDF("html")
      .select(WebGraph.extractLinks(col("html")).as("links"))
      .head.getSeq[String](0)
    assert(out == Seq(
      "http://a.example/p", "HTTPS://B.EXAMPLE/q?x=1", "http://a.example/p2"))
  }

  test("extractLinks: resource hrefs and blocked-out markup are not endorsements") {
    val html =
      """<link rel="stylesheet" href="https://cdn.example/a.css">
        |<base href="http://base.example/">
        |<script>var u = 'href="http://js.example/x"';</script>
        |<style>a { background: url(x) } /* href="http://css.example/" */</style>
        |<!-- <a href="http://old.example/">dead</a> -->
        |<a
        |  class="multi"
        |  href="http://real.example/p">kept: attrs split over lines</a>""".stripMargin
    val out = Seq(Tuple1(html)).toDF("html")
      .select(WebGraph.extractLinks(col("html")).as("links"))
      .head.getSeq[String](0)
    // only the real anchor survives: <link>/<base> are resource refs,
    // script/style/comment content is stripped before matching, and a
    // newline after '<a' is whitespace like any other
    assert(out == Seq("http://real.example/p"))
  }

  test("resolveUrl: the RFC 3986 §5.4 reference examples land canonically") {
    // the spec's own worked examples against base http://a/b/c/d;p?q —
    // resolution output here is additionally canonicalized (lowercase
    // host, default port drop, fragment drop), so expectations are the
    // §5.4 targets' canonical forms
    val base = "http://a/b/c/d;p?q"
    val cases = Seq(
      "g" -> "http://a/b/c/g",
      "./g" -> "http://a/b/c/g",
      "g/" -> "http://a/b/c/g/",
      "/g" -> "http://a/g",
      "//g" -> "http://g/",
      "?y" -> "http://a/b/c/d;p?y",
      "#s" -> "http://a/b/c/d;p?q", // same document, fragment dropped
      "" -> "http://a/b/c/d;p?q",
      "g?y" -> "http://a/b/c/g?y",
      "." -> "http://a/b/c/",
      "./" -> "http://a/b/c/",
      ".." -> "http://a/b/",
      "../" -> "http://a/b/",
      "../g" -> "http://a/b/g",
      "../.." -> "http://a/",
      "../../" -> "http://a/",
      "../../g" -> "http://a/g",
      // abnormal (§5.4.2): .. past the root stays at the root
      "../../../g" -> "http://a/g",
      "../../../../g" -> "http://a/g",
      "/./g" -> "http://a/g",
      "/../g" -> "http://a/g",
      // non-http(s) schemes are not links for this graph
      "mailto:x@y" -> "",
      "javascript:void(0)" -> "")
    val out = cases.map(_._1).toDF("href")
      .select(col("href"),
        WebGraph.resolveUrl(lit(base), col("href")).as("r"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (href, want) =>
      assert(out(href) == want, s"href=$href")
    }
  }

  test("resolveUrl: uppercase base with default port and tracking noise lands canonical") {
    val out = Seq(("HTTP://WWW.Ex.COM:80/a/b/page.html?keep=1&utm_source=x", "../up"))
      .toDF("base", "href")
      .select(WebGraph.resolveUrl(col("base"), col("href")).as("r"))
      .head.getString(0)
    assert(out == "http://www.ex.com/a/up")
  }

  test("extractLinks(baseUrl, html): relative hrefs join the graph, junk schemes drop") {
    val html =
      """<a href="p2">rel</a>
        |<a href="../q">up</a>
        |<a href="/root">abs-path</a>
        |<a href="//cdn.example/l">proto-rel</a>
        |<a href="https://ext.example/x">abs</a>
        |<a href="mailto:x@c.example">no</a>""".stripMargin
    val out = Seq(("http://h.example/a/b/page", html)).toDF("base", "html")
      .select(WebGraph.extractLinks(col("base"), col("html")).as("links"))
      .head.getSeq[String](0)
    assert(out == Seq(
      "http://h.example/a/b/p2",
      "http://h.example/a/q",
      "http://h.example/root",
      "http://cdn.example/l",
      "https://ext.example/x"))
  }

  test("hostOf: lowercase, strips port/path/query/fragment, '' for non-URLs") {
    val rows = Seq(
      "HTTP://WWW.Ex.COM:8080/a?b=1#f", "https://plain.io", "not a url",
      "ftp://files.example/x").toDF("url")
      .select(WebGraph.hostOf(col("url")).as("h"))
      .collect().map(_.getString(0)).toSeq
    assert(rows == Seq("www.ex.com", "plain.io", "", ""))
  }

  test("hostEdges: per-pair link counts, self-links kept at this layer") {
    val pages = Seq(
      ("a.ex", """<a href="http://b.ex/1">x</a><a href="http://b.ex/2">y</a>
                 |<a href="http://a.ex/self">s</a>""".stripMargin),
      ("b.ex", """<a href="http://a.ex/1">z</a>""")).toDF("src_host", "html")
    val out = WebGraph.hostEdges(pages, col("src_host"), col("html"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out == Map(
      ("a.ex", "b.ex") -> 2L, ("a.ex", "a.ex") -> 1L, ("b.ex", "a.ex") -> 1L))
  }

  test("extractAnchors: host+text pairs, inner tags stripped, relative links skipped") {
    val html =
      """<a href="http://a.ex/p">first link</a>
        |<A HREF="HTTPS://B.EX/q" class="z">with <b>bold</b> inside</A>
        |<a href="/relative">nope</a>""".stripMargin
    val out = Seq(Tuple1(html)).toDF("html")
      .select(explode(WebGraph.extractAnchors(col("html"))).as("a"))
      .select("a.dst_host", "a.anchor")
      .collect().map(r => r.getString(0) -> r.getString(1)).toSeq
    assert(out == Seq("a.ex" -> "first link", "b.ex" -> "with bold inside"))
  }

  test("anchorIndex: per-host counts and sorted distinct anchor digest") {
    val pages = Seq(
      """<a href="http://t.ex/1">beta</a><a href="http://t.ex/2">alpha</a>""",
      """<a href="http://t.ex/3">beta</a><a href="http://u.ex/1">only</a>""")
      .map(Tuple1(_)).toDF("html")
    val out = WebGraph.anchorIndex(pages, col("html"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out("t.ex") == ((3L, 2L, "alpha|beta"))) // sorted, deduped
    assert(out("u.ex") == ((1L, 1L, "only")))
  }

  test("hostRank: one round matches the hand-computed integer fixed point") {
    // a→b, b→a, c→b: n=3, base = 1e12/3 = 333333333333
    // teleport = (15*base)/100 = 49999999999 (truncated)
    // contrib: a and c each send base to b; b sends base to a
    // rank(b) = tp + (85*2*base)/100; rank(a) = tp + (85*base)/100; rank(c) = tp
    val edges = Seq(("a", "b"), ("b", "a"), ("c", "b")).toDF("src_host", "dst_host")
    val out = WebGraph.hostRank(edges, iterations = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val base = 1000000000000L / 3
    val tp = 15L * base / 100
    assert(out == Map(
      "a" -> (tp + 85L * base / 100),
      "b" -> (tp + 85L * 2 * base / 100),
      "c" -> tp))
  }

  test("hostRank: dup edges and self-loops don't multiply authority") {
    val clean = Seq(("a", "b"), ("b", "a"), ("c", "b")).toDF("src_host", "dst_host")
    val noisy = Seq(("a", "b"), ("a", "b"), ("a", "b"), ("a", "a"),
      ("b", "a"), ("c", "b"), ("c", "c")).toDF("src_host", "dst_host")
    val r1 = WebGraph.hostRank(clean).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val r2 = WebGraph.hostRank(noisy).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r1 == r2)
  }

  test("hostRank: mass bounded by unit, authority ordering, partitioning-invariant") {
    // star graph: spokes all point at hub; hub points at one spoke
    val edges = (1 to 8).map(i => (s"s$i", "hub")).toSeq ++ Seq(("hub", "s1"))
    val df = edges.toDF("src_host", "dst_host")
    val ranks = WebGraph.hostRank(df).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ranks.values.sum <= 1000000000000L)
    assert(ranks.values.forall(_ > 0))
    assert(ranks("hub") > ranks("s1")) // in-degree 8 beats in-degree 1
    assert(ranks("s1") > ranks("s2"))  // s1 gets the hub's mass, s2 teleport only
    val shuffled = WebGraph.hostRank(df.repartition(7, col("dst_host"))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(shuffled == ranks) // integer arithmetic: bit-equal on any layout
  }

  test("hostRankWarmStart: uniform seed is exactly a cold start; warm rounds land 5x closer than cold") {
    val day1 = ((1 to 8).map(i => (s"s$i", "hub")) ++ Seq(("hub", "s1")))
      .toDF("src_host", "dst_host")
    val cold5 = WebGraph.hostRank(day1, iterations = 5)
      .persist()
    // law: warm-starting from the uniform state IS a cold start, bit-equal
    val n = cold5.count()
    val uniform = cold5.selectExpr("host", s"${1000000000000L / n}L AS rank_units")
    val warmFromUniform = WebGraph.hostRankWarmStart(day1, uniform, iterations = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val coldMap = cold5.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(warmFromUniform == coldMap)
    // daily refresh: fold in a delta edge. Damping contracts the gap to
    // the fixed point 0.85x per round from ANY start, so 2 warm rounds
    // from yesterday's (deeper) state must land far closer to the
    // reference than 2 cold rounds — that round savings is the entire
    // point of warm-starting
    val day2 = day1.union(Seq(("s2", "s3")).toDF("src_host", "dst_host"))
    val seed = WebGraph.hostRank(day1, iterations = 20)
    val ref = WebGraph.hostRank(day2, iterations = 20)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val warm2 = WebGraph.hostRankWarmStart(day2, seed, iterations = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val cold2 = WebGraph.hostRank(day2, iterations = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(warm2.keySet == ref.keySet)
    val errWarm = ref.keys.map(h => math.abs(warm2(h) - ref(h))).max
    val errCold = ref.keys.map(h => math.abs(cold2(h) - ref(h))).max
    assert(errWarm * 5 <= errCold,
      s"warm-start not ahead: errWarm=$errWarm errCold=$errCold")
    cold5.unpersist()
  }

  test("trustRank: all-hosts seed set IS PageRank; unreachable hosts get exactly 0") {
    val edges = Seq(("a", "b"), ("b", "a"), ("c", "d"))
      .toDF("src_host", "dst_host")
    // law: trusting every host uniformly reduces TrustRank to PageRank,
    // bit-for-bit (same teleport vector by construction)
    val allHosts = Seq("a", "b", "c", "d").toDF("host")
    val trustAll = WebGraph.trustRank(edges, allHosts)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val pr = WebGraph.hostRank(edges)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(trustAll == pr)
    // seed {a}: trust flows a→b→a; c and d are unreachable from the
    // seed and converge to EXACTLY zero — integers, not epsilon
    val t = WebGraph.trustRank(edges, Seq("a").toDF("host"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(t("c") == 0L && t("d") == 0L)
    assert(t("a") > 0L && t("b") > 0L)
    // all trust mass lives on the component reachable from the seed
    assert(t("a") + t("b") <= 1000000000000L)
    // seeds absent from the graph are ignored; an all-absent seed set
    // is a configuration error and fails loudly
    val t2 = WebGraph.trustRank(edges, Seq("a", "zzz").toDF("host"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(t2 == t)
    intercept[IllegalArgumentException] {
      WebGraph.trustRank(edges, Seq("zzz").toDF("host")).collect()
    }
  }

  test("hostRank: empty edge set yields the empty graph, not a crash") {
    val empty = Seq.empty[(String, String)].toDF("src_host", "dst_host")
    assert(WebGraph.hostRank(empty).count() == 0)
  }

  test("hostRank: a self-loop-only host still gets a row (teleport-only rank)") {
    // z's only edge is z→z: no authority transfers, but the host EXISTS
    // — the one-row-per-host contract — so it earns the teleport share
    val edges = Seq(("a", "b"), ("b", "a"), ("z", "z")).toDF("src_host", "dst_host")
    val out = WebGraph.hostRank(edges, iterations = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val base = 1000000000000L / 3 // n = 3: z counts in the universe
    val tp = 15L * base / 100
    assert(out.keySet == Set("a", "b", "z"))
    assert(out("z") == tp)
    assert(out("a") == tp + 85L * base / 100)
  }

  test("fetchSchedule: per-host slots, url tiebreak on arrival ties, hosts independent") {
    val frontier = Seq(
      ("a.ex", "http://a.ex/2", 5L), // same second as /1: url breaks the tie
      ("a.ex", "http://a.ex/1", 5L),
      ("a.ex", "http://a.ex/3", 9L),
      ("a.ex", "http://a.ex/4", 1L), // earliest arrival → rn 1
      ("b.ex", "http://b.ex/1", 99L) // other host: its own clock
    ).toDF("host", "url", "ts_s")
    val out = WebGraph.fetchSchedule(frontier, "host", "ts_s", "url",
      perSlot = 2, slotSeconds = 10)
      .collect().map(r => r.getAs[String]("url") ->
        ((r.getAs[Long]("rn"), r.getAs[Long]("slot"), r.getAs[Long]("start_s")))).toMap
    assert(out("http://a.ex/4") == ((1L, 0L, 0L)))
    assert(out("http://a.ex/1") == ((2L, 0L, 0L)))  // tie: /1 before /2
    assert(out("http://a.ex/2") == ((3L, 1L, 10L))) // third fetch waits a slot
    assert(out("http://a.ex/3") == ((4L, 1L, 10L)))
    assert(out("http://b.ex/1") == ((1L, 0L, 0L)))
  }

  test("hits: hubs and authorities separate; pure roles score 0 on the other axis") {
    // h1 links 3 authorities, h2 links 2 — bipartite, roles are pure
    val edges = Seq(
      ("h1", "a1"), ("h1", "a2"), ("h1", "a3"),
      ("h2", "a1"), ("h2", "a2")).toDF("src_host", "dst_host")
    val out = WebGraph.hits(edges)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // authorities: a1/a2 (linked by both hubs) beat a3 (one hub)
    assert(out("a1")._1 == out("a2")._1)
    assert(out("a1")._1 > out("a3")._1)
    // hubs: h1 (3 outlinks to good authorities) beats h2
    assert(out("h1")._2 > out("h2")._2)
    // pure hubs have zero authority, pure authorities zero hubness
    assert(out("h1")._1 == 0L && out("h2")._1 == 0L)
    assert(out("a1")._2 == 0L && out("a3")._2 == 0L)
    // partitioning invariance: integer arithmetic, bit-equal
    val shuffled = WebGraph.hits(edges.repartition(5, col("dst_host")))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(shuffled == out)
  }

  test("hits: on a symmetric chain the center dominates both axes") {
    // a-b-c undirected: b has degree 2, the ends degree 1 — b must top
    // both rankings. (auth == hub does NOT hold pointwise: the update
    // is sequential — hub is computed from the NEW auth, a half-step
    // ahead, exactly as Kleinberg's iteration specifies.)
    val edges = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"))
      .toDF("src_host", "dst_host")
    val out = WebGraph.hits(edges)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out("b")._1 > out("a")._1 && out("b")._1 > out("c")._1)
    // hub scores TIE on this graph — correct HITS math: b's two
    // half-weight authorities sum to exactly a's one full-weight one
    assert(out("b")._2 == out("a")._2 && out("a")._2 == out("c")._2)
    // the symmetric ends are indistinguishable — bit-equal scores
    assert(out("a") == out("c"))
  }

  test("fetchSchedule with host policies: per-host delay, null fallback, disallow filter") {
    val frontier = ((0 until 6).map(i => ("h0.ex", s"http://h0.ex/p$i", 0L)) ++
      Seq(("h0.ex", "http://h0.ex/admin/x", 0L),
        ("h0.ex", "http://h0.ex/private/y", 0L)) ++
      (0 until 4).map(i => ("h1.ex", s"http://h1.ex/q$i", 0L)) ++
      (0 until 2).map(i => ("h2.ex", s"http://h2.ex/r$i", 0L)))
      .toDF("host", "url", "ts_s")
    val pol = Seq(
      ("h0.ex", Some(30L), Seq("/admin", "/private")),
      ("h1.ex", Option.empty[Long], Seq.empty[String]))
      .toDF("host", "crawl_delay_s", "disallow")
    val out = WebGraph.fetchSchedule(frontier, "host", "ts_s", "url",
      perSlot = 2, slotSeconds = 10, hostPolicies = pol)
      .collect()
      .map(r => (r.getString(r.fieldIndex("host")),
        r.getString(r.fieldIndex("url")),
        r.getLong(r.fieldIndex("start_s"))))
    // the robots exclusion applies before scheduling
    assert(!out.exists(t => t._2.contains("/admin/") || t._2.contains("/private/")))
    // h0: 6 surviving urls at 2/slot, 30 s crawl delay
    assert(out.filter(_._1 == "h0.ex").map(_._3).sorted.toSeq ==
      Seq(0L, 0L, 30L, 30L, 60L, 60L))
    // h1: policy row with NULL delay → the global 10 s default
    assert(out.filter(_._1 == "h1.ex").map(_._3).sorted.toSeq ==
      Seq(0L, 0L, 10L, 10L))
    // h2: no policy row at all → same default, nothing filtered
    assert(out.filter(_._1 == "h2.ex").map(_._3).sorted.toSeq == Seq(0L, 0L))
  }

  test("spamMass: a link-farm ring unreachable from any seed scores exactly 1e6 ppm") {
    // farm f1-f3 cite each other densely but no trusted path reaches
    // them: integer TrustRank gives them trust EXACTLY 0, so spam mass
    // is exactly the full 1,000,000 ppm — while organically-linked a/b
    // (reachable from seed s) stay well below
    val farm = Seq(("f1", "f2"), ("f2", "f3"), ("f3", "f1"),
      ("f1", "f3"), ("f3", "f2"), ("f2", "f1"))
    val organic = Seq(("s", "a"), ("a", "b"), ("b", "a"), ("s", "b"))
    val edges = (farm ++ organic).toDF("src_host", "dst_host")
    val seeds = Seq("s").toDF("host")
    val sm = WebGraph.spamMass(
      WebGraph.hostRank(edges), WebGraph.trustRank(edges, seeds))
      .collect()
      .map(r => r.getString(r.fieldIndex("host")) ->
        r.getLong(r.fieldIndex("spam_mass_ppm"))).toMap
    assert(Seq("f1", "f2", "f3").forall(sm(_) == 1000000L))
    assert(sm("a") < 900000L && sm("b") < 900000L)
  }

  test("coCitation and degreeProfile leave no cached frames registered") {
    // the unpersist discipline: results materialize eagerly
    // (localCheckpoint) and the corpus-sized intermediates release
    // before return — a long-lived session scoring many corpora must
    // not accumulate cache entries
    spark.catalog.clearCache()
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"))
      .toDF("src_host", "dst_host")
    val cc = WebGraph.coCitation(edges)
    val dp = WebGraph.degreeProfile(edges)
    assert(spark.sharedState.cacheManager.isEmpty,
      "cached frames left registered after coCitation/degreeProfile")
    // results stay consumable after their inputs were released
    assert(cc.count() >= 0 && dp.count() == 3)
  }

  test("degreeProfile: out/in degrees and reciprocated out-edges, zeros for pure roles") {
    val edges = Seq(
      ("a", "b"), ("b", "a"),  // reciprocal pair
      ("a", "c"), ("c", "b"),  // one-way edges
      ("d", "d")               // self-loop only: exists with zeros
    ).toDF("src_host", "dst_host")
    val out = WebGraph.degreeProfile(edges)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("a") == ((2L, 1L, 1L))) // a→b reciprocated, a→c not
    assert(out("b") == ((1L, 2L, 1L)))
    assert(out("c") == ((1L, 1L, 0L)))
    assert(out("d") == ((0L, 0L, 0L))) // self-loop host: in the universe, zero degrees
  }

  test("coCitation maxOutDeg cap: zipfian hub sources excluded exactly, quadratic mass removed") {
    // power-law sources (the real link-graph shape): the hottest source
    // holds hundreds of outlinks, so its pair fan-out is quadratic —
    // the cap must remove exactly the over-cap sources' pairs, leaving
    // Σ C(outdeg, 2) over the surviving sources, and the mass removed
    // must dwarf what stays (that is what makes the cap a skew guard)
    val edges = spark.range(3000).select(
      concat(lit("s"), zipfIdx(col("id") * 37 + 11, 40))
        .as("src_host"),
      concat(lit("d"), pmod(col("id"), lit(300))).as("dst_host"))
    val distinctEdges = edges.distinct()
      .collect().map(r => (r.getString(0), r.getString(1)))
    val outdeg = distinctEdges.groupBy(_._1).view.mapValues(_.size).toMap
    assert(outdeg.values.max > 50, "fixture not skewed enough to exercise the cap")
    def pairsUpTo(cap: Int): Long = outdeg.values.filter(_ <= cap)
      .map(od => od.toLong * (od - 1) / 2).sum
    val got = WebGraph.coCitation(edges, maxOutDeg = 50)
      .agg(coalesce(sum("n_common_sources"), lit(0L))).head.getLong(0)
    assert(got == pairsUpTo(50))
    assert(pairsUpTo(Int.MaxValue) > 10 * pairsUpTo(50))
  }

  test("coCitation: common-source pairs counted, hub sources capped out") {
    val edges = Seq(
      ("s1", "x"), ("s1", "y"),             // s1 cites x,y → pair (x,y)
      ("s2", "x"), ("s2", "y"), ("s2", "z"), // s2 → (x,y),(x,z),(y,z)
      ("hub", "x"), ("hub", "y"), ("hub", "z"), ("hub", "w") // capped out
    ).toDF("src_host", "dst_host")
    val out = WebGraph.coCitation(edges, maxOutDeg = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // the hub (outdeg 4 > cap 3) contributes nothing: w pairs absent
    assert(out == Map(
      ("x", "y") -> 2L, ("x", "z") -> 1L, ("y", "z") -> 1L))
  }

  test("canonicalizeUrl: case, default ports, fragments, tracking params") {
    val cases = Seq(
      // scheme+host lowercase, :80 dropped, fragment dropped, utm stripped
      // mid-query (the '&' swallow), path CASE PRESERVED
      "HTTP://WWW.Ex.COM:80/A/b?utm_source=x&id=1#f" -> "http://www.ex.com/A/b?id=1",
      // non-default port kept; query emptied by the strip disappears
      "https://ex.com:8443/p?gclid=1" -> "https://ex.com:8443/p",
      // bare authority gains the root path
      "https://ex.com" -> "https://ex.com/",
      "https://EX.com:443/" -> "https://ex.com/",
      // trailing tracking param: swallowed by the no-& shape + cleanup
      "http://e.com/p?a=1&utm_x=2" -> "http://e.com/p?a=1",
      // adjacent tracking params both go (each match consumes its own
      // leading delimiter, so the chain doesn't break)
      "http://e.com/p?utm_a=1&utm_b=2&id=3" -> "http://e.com/p?id=3",
      // leading tracking param: the surviving '&' is promoted to '?'
      "http://e.com/p?gclid=1&id=2" -> "http://e.com/p?id=2",
      // LOOKALIKES survive: 'gclid=' inside a longer param name or
      // inside a VALUE is not a tracking param (the left boundary)
      "http://e.com/p?xgclid=1&id=2" -> "http://e.com/p?xgclid=1&id=2",
      "http://e.com/search?q=what+is+gclid=x" -> "http://e.com/search?q=what+is+gclid=x",
      "http://e.com/p?id=1&refgclid=2" -> "http://e.com/p?id=1&refgclid=2",
      // non-URLs canonicalize to '' for one-pass filtering
      "not a url" -> "",
      "ftp://files.example/x" -> "")
    val out = cases.map(_._1).toDF("url")
      .select(col("url"), WebGraph.canonicalizeUrl(col("url")).as("c"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, want) =>
      assert(out(in) == want, s"for $in: got ${out(in)}, want $want")
    }
  }

  test("parseRobots → fetchSchedule: parsed policies drive the schedule end-to-end") {
    val robots = Seq(
      ("slow.ex", "User-agent: *\nCrawl-delay: 30\nDisallow: /admin\nDisallow: /tmp"),
      ("open.ex", "User-agent: *\n# no rules"),
      ("mixed.ex", "user-agent: *\ncrawl-DELAY: 7\ndisallow: /x")
    ).toDF("host", "body")
    val policies = WebGraph.parseRobots(robots, "host", "body")
    val byHost = policies.collect()
      .map(r => r.getString(0) ->
        (Option(r.get(1)).map(_.asInstanceOf[Long]), r.getSeq[String](2))).toMap
    assert(byHost("slow.ex") == (Some(30L), Seq("/admin", "/tmp")))
    assert(byHost("open.ex") == (None, Seq()))            // null delay → global
    assert(byHost("mixed.ex") == (Some(7L), Seq("/x")))   // casing tolerated
    // composition: the parsed table IS the fetchSchedule policy input
    val frontier = Seq(
      ("slow.ex", 0L, "http://slow.ex/a"),
      ("slow.ex", 1L, "http://slow.ex/admin/secret"), // robots-excluded
      ("slow.ex", 2L, "http://slow.ex/b"),
      ("open.ex", 0L, "http://open.ex/a")
    ).toDF("host", "ts_s", "url")
    val sched = WebGraph.fetchSchedule(frontier, "host", "ts_s", "url",
        perSlot = 1, slotSeconds = 10, hostPolicies = policies)
      .collect().map(r => r.getAs[String]("url") -> r.getAs[Long]("start_s")).toMap
    assert(!sched.contains("http://slow.ex/admin/secret"))
    assert(sched("http://slow.ex/a") == 0L)
    assert(sched("http://slow.ex/b") == 30L)  // parsed 30s delay, not global 10
    assert(sched("http://open.ex/a") == 0L)
  }

  test("hostComponents: min-host labels, self-loop-only host is its own component") {
    val edges = Seq(
      ("a.ex", "b.ex"), ("b.ex", "c.ex"),      // one component, label a.ex
      ("x.ex", "y.ex"), ("y.ex", "x.ex"),      // reciprocal pair, label x.ex
      ("solo.ex", "solo.ex"),                  // self-loop only: singleton
      ("d.ex", "")                             // empty dst dropped entirely
    ).toDF("src_host", "dst_host")
    val out = WebGraph.hostComponents(edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map(
      "a.ex" -> "a.ex", "b.ex" -> "a.ex", "c.ex" -> "a.ex",
      "x.ex" -> "x.ex", "y.ex" -> "x.ex",
      "solo.ex" -> "solo.ex"))
  }

  test("stronglyConnectedComponents: cycles resolve, one-way bridges do not merge") {
    val edges = Seq(
      ("a.ex", "b.ex"), ("b.ex", "c.ex"), ("c.ex", "a.ex"), // 3-cycle
      ("c.ex", "x.ex"),                                     // one-way bridge
      ("x.ex", "y.ex"), ("y.ex", "x.ex"),                   // 2-cycle
      ("y.ex", "tail.ex"),                                  // acyclic sink
      ("solo.ex", "solo.ex")                                // self-loop only
    ).toDF("src_host", "dst_host")
    val out = WebGraph.stronglyConnectedComponents(edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // weak components would merge everything reachable over the bridge;
    // strong components keep the two cycles apart and leave the sink,
    // the self-loop host, and nothing else as singletons (max-id labels).
    assert(out == Map(
      "a.ex" -> "c.ex", "b.ex" -> "c.ex", "c.ex" -> "c.ex",
      "x.ex" -> "y.ex", "y.ex" -> "y.ex",
      "tail.ex" -> "tail.ex", "solo.ex" -> "solo.ex"))
  }

  test("stronglyConnectedComponents: a pure DAG is all singletons") {
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"))
      .toDF("src_host", "dst_host")
    val out = WebGraph.stronglyConnectedComponents(edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map("a" -> "a", "b" -> "b", "c" -> "c", "d" -> "d"))
  }

  test("stronglyConnectedComponents: an inner loop past maxInner fails loudly") {
    // an 8-cycle: the max color crawls one hop per round, 8 rounds forward
    val ring = (1 to 8).map(i => (s"h$i", s"h${i % 8 + 1}"))
    val cycle = ring.toDF("src_host", "dst_host")
    val fwd = intercept[IllegalStateException](
      WebGraph.stronglyConnectedComponents(cycle, maxInner = 4).collect())
    assert(fwd.getMessage.contains("SCC color propagation") &&
      fwd.getMessage.contains("4 rounds"))
    // the same ring with a hub fan-out from the pivot h8: the forward pass
    // closes in 2 rounds, the backward sweep still walks the ring
    val fanned = (ring ++ (1 to 7).map(i => ("h8", s"h$i"))).toDF("src_host", "dst_host")
    val bwd = intercept[IllegalStateException](
      WebGraph.stronglyConnectedComponents(fanned, maxInner = 4).collect())
    assert(bwd.getMessage.contains("SCC backward sweep"))
    assert(WebGraph.stronglyConnectedComponents(fanned, maxInner = 9)
      .collect().forall(_.getString(1) == "h8"))
  }

  test("kTruss: the peel cascades — one support pass is not enough") {
    // two triangles sharing edge B-C: supports are {BC: 2, others: 1}.
    // k=4 needs support >= 2: the first peel keeps only B-C, whose
    // support then drops to 0 — the truss is EMPTY, which a single
    // "filter by initial support" pass would get wrong (it returns B-C).
    val chain = Seq(("A", "B"), ("B", "C"), ("A", "C"), ("C", "D"), ("B", "D"))
      .toDF("src_host", "dst_host")
    assert(WebGraph.kTruss(chain, k = 4).count() == 0)
    // k=3 (support >= 1) keeps both triangles intact, with B-C at 2
    val t3 = WebGraph.kTruss(chain, k = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(t3 == Map(("A", "B") -> 1L, ("B", "C") -> 2L, ("A", "C") -> 1L,
      ("C", "D") -> 1L, ("B", "D") -> 1L))
    // the k=4 cascade takes two productive rounds plus the converged one
    intercept[IllegalStateException](WebGraph.kTruss(chain, k = 4, maxIter = 2))
  }

  test("rankAndTrust: the fused loop equals separate hostRank/trustRank bit-for-bit") {
    val edges = Seq(("s", "a"), ("a", "b"), ("b", "a"), ("s", "b"),
      ("f1", "f2"), ("f2", "f1"), ("b", "f1"), ("a", "s"))
      .toDF("src_host", "dst_host")
    val seeds = Seq("s").toDF("host")
    val fused = WebGraph.rankAndTrust(edges, seeds, iterations = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val rank = WebGraph.hostRank(edges, iterations = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val trust = WebGraph.trustRank(edges, seeds, iterations = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val separate = rank.keySet.map(h => (h, rank(h), trust(h)))
    assert(fused == separate)
  }

  test("crawlDepth: min-hop BFS from seeds, depth bound honored, unreachable excluded") {
    // diamond a→{b,c}→d→e, plus a far tail e→f and a disconnected x→y:
    // two paths to d must yield ONE row at the min hop
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"),
      ("d", "e"), ("e", "f"), ("x", "y")).toDF("src_host", "dst_host")
    val seeds = Seq("a").toDF("host")
    val d3 = WebGraph.crawlDepth(edges, seeds, maxDepth = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(d3 == Map("a" -> 0L, "b" -> 1L, "c" -> 1L, "d" -> 2L, "e" -> 3L))
    // raising the bound reaches the tail; x/y stay unreachable
    val d6 = WebGraph.crawlDepth(edges, seeds, maxDepth = 6)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(d6("f") == 4L && !d6.contains("x") && !d6.contains("y"))
  }

  test("crawlDepth: frontier drains early; a seed outside the graph contributes nothing") {
    val edges = Seq(("a", "b"), ("b", "b")).toDF("src_host", "dst_host")
    // maxDepth far beyond the graph: the empty round-2 frontier must
    // end the loop (self-loops are not progress), not run 10 rounds
    val out = WebGraph.crawlDepth(edges,
      Seq("a", "ghost").toDF("host"), maxDepth = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a" -> 0L, "b" -> 1L))
    // no seed present in the graph: empty result, not a crash
    assert(WebGraph.crawlDepth(edges, Seq("ghost").toDF("host"), 3).count() == 0)
  }

  test("triangles: K4 + pendant — exact counts, coefficients, simple-graph collapse") {
    // K4 on a,b,c,d (4 triangles, every node in 3) plus pendant e–a;
    // edges arrive directed, duplicated, reversed and with a self-loop,
    // all of which must collapse before counting
    val k4 = for {
      x <- Seq("a", "b", "c", "d"); y <- Seq("a", "b", "c", "d") if x < y
    } yield (x, y)
    val edges = (k4 ++ k4.map(_.swap) ++ Seq(("e", "a"), ("a", "e"), ("b", "b")))
      .toDF("src_host", "dst_host")
    val out = WebGraph.triangles(edges).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out("a") == ((4L, 3L, 0.5))) // deg 4 (K4 + pendant): 2*3/(4*3)
    assert(out("b") == ((3L, 3L, 1.0)))
    assert(out("c") == ((3L, 3L, 1.0)))
    assert(out("d") == ((3L, 3L, 1.0)))
    assert(out("e") == ((1L, 0L, 0.0))) // degree 1: coefficient pinned 0
  }

  test("triangles: a pure cycle has none; total triangle mass is 3 per triangle") {
    val cycle = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "a"))
      .toDF("src_host", "dst_host")
    val out = WebGraph.triangles(cycle).collect()
    assert(out.forall(r => r.getLong(2) == 0L && r.getDouble(3) == 0.0))
    // one triangle spliced in: exactly a,b,c carry it, each counted once
    val withTri = cycle.union(Seq(("a", "c")).toDF("src_host", "dst_host"))
    val m = WebGraph.triangles(withTri).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(m == Map("a" -> 1L, "b" -> 1L, "c" -> 1L, "d" -> 0L, "e" -> 0L))
  }

  test("kCore: chain peels round by round; the cycle core survives exactly") {
    // 4-cycle core, a chain x0..x3 hanging off n0, and a lone pendant:
    // k=2 must peel the chain one host per round (4 rounds) and return
    // ONLY the cycle, every member at core-degree 2
    val edges = (Seq(("n0", "n1"), ("n1", "n2"), ("n2", "n3"), ("n3", "n0"),
      ("n0", "x0"), ("x0", "x1"), ("x1", "x2"), ("x2", "x3"),
      ("p", "n2"))).toDF("src_host", "dst_host")
    val out = WebGraph.kCore(edges, k = 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("n0" -> 2L, "n1" -> 2L, "n2" -> 2L, "n3" -> 2L))
    // k above the densest subgraph: empty core, not a crash
    assert(WebGraph.kCore(edges, k = 3).count() == 0)
    // k=1 on the simple graph: everything with an edge survives as-is
    assert(WebGraph.kCore(edges, k = 1).count() == 9)
    // one round cannot peel the chain: loud failure, not a partial core
    intercept[IllegalStateException](WebGraph.kCore(edges, k = 2, maxIter = 1))
  }

  test("randomWalks: hash-deterministic hops over sorted neighbors; dead ends hold") {
    val edges = Seq(
      ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
      ("d", "a") // 'a' never links to 'd'; d reaches the cycle
    ).toDF("src", "dst")
    val out = WebGraph.randomWalks(edges, "src", "dst", length = 3, walkers = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(out.size == 8, "4 start nodes x 2 walkers")
    // every hop must be a real edge of the graph
    val adj = Map("a" -> Set("b", "c"), "b" -> Set("c"), "c" -> Set("a"),
      "d" -> Set("a"))
    out.values.foreach { path =>
      val hops = path.split(" ")
      assert(hops.length == 4)
      hops.sliding(2).foreach { case Array(u, v) =>
        assert(adj(u).contains(v), s"phantom edge $u->$v in $path")
      }
    }
    // reproducible: identical second run
    val again = WebGraph.randomWalks(edges, "src", "dst", 3, 2)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(again == out)
    // dead end: a sink node pads with itself
    val sink = WebGraph.randomWalks(
        Seq(("x", "y")).toDF("src", "dst"), "src", "dst", 2, 1)
      .collect().map(_.getString(2)).toSeq
    assert(sink == Seq("x y y"))
  }

  test("labelPropagation: triangle converges, 2-node component oscillates deterministically") {
    // triangle a-b-c (complete) + isolated pair d-e. Hand-run of the
    // synchronous min-tiebreak vote:
    //   r1: a<-b, b<-a, c<-a, d<-e, e<-d
    //   r2: a<-a (b,c both hold a), b<-a (tie a/b -> a), c<-a, d<-d, e<-e
    //   r3: all of a,b,c <- a; the pair flips again: d<-e, e<-d
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("d", "e"))
      .toDF("src_host", "dst_host")
    val r3 = WebGraph.labelPropagation(edges, rounds = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(r3 == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "d" -> "e", "e" -> "d"))
    // determinism: identical second run
    val again = WebGraph.labelPropagation(edges, rounds = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(again == r3)
    // a bridge between two triangles does NOT fuse them (components
    // would). Hand-run (4 rounds): {a,b,m} settles on label a; {x,y,z}
    // settles on m — the label that leaked one hop over the bridge in
    // round 1 and then won the in-triangle vote, never the reverse,
    // because the m-side bridge endpoint is outvoted 2:1 by its triangle.
    val two = Seq(("a", "b"), ("a", "m"), ("b", "m"),
      ("x", "y"), ("x", "z"), ("y", "z"), ("m", "x"))
      .toDF("src_host", "dst_host")
    val comm = WebGraph.labelPropagation(two, rounds = 4)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(comm == Map("a" -> "a", "b" -> "a", "m" -> "a",
      "x" -> "m", "y" -> "m", "z" -> "m"))
  }

  test("weightedPaths: min-cost relaxation beats fewer-hop heavier path") {
    // s->m->t costs 1+1=2 over two hops; direct s->t costs 5: after
    // round 1 t holds 5, after round 2 the cheaper 2 must win. Parallel
    // edge s->m with weight 7 collapses to min 1.
    val edges = Seq(
      ("s", "m", 1L), ("s", "m", 7L), ("m", "t", 1L), ("s", "t", 5L),
      ("t", "u", 2L)
    ).toDF("src_host", "dst_host", "weight")
    val seeds = Seq("s").toDF("host")
    val r1 = WebGraph.weightedPaths(edges, seeds, rounds = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r1 == Map("s" -> 0L, "m" -> 1L, "t" -> 5L))
    val r3 = WebGraph.weightedPaths(edges, seeds, rounds = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r3 == Map("s" -> 0L, "m" -> 1L, "t" -> 2L, "u" -> 4L))
    // unreachable hosts stay absent; a seed not in the graph is dropped
    val ghost = WebGraph.weightedPaths(edges, Seq("nope").toDF("host"), 2)
    assert(ghost.count() == 0)
  }
}
