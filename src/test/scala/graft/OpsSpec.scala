package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.ops._

/** Unit tests for the operator-parity helpers (SURVEY.md §2 semantics). */
class OpsSpec extends SparkTestBase {
  import testImplicits._

  test("DateKeys.dateKey: date → yyyyMMdd, junk/null → empty string") {
    val df = Seq("2021-08-23", "not a date", null).toDF("d")
      .select(DateKeys.dateKey(col("d")).as("k"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("20210823", "", ""))
  }

  test("DateKeys.quarterName") {
    val df = Seq("2021-01-15", "2021-05-15", "2021-08-15", "2021-11-15").toDF("d")
      .select(DateKeys.quarterName(col("d")).as("q"))
    assert(df.collect().map(_.getString(0)).toSeq ==
      Seq("First", "Second", "Third", "Fourth"))
  }

  test("Descriptors: URI parsers match the reference's string splits") {
    val uri = "uri://ed-fi.org/GradingPeriodDescriptor#First Six Weeks"
    val df = Seq(uri).toDF("u").select(
      Descriptors.codeValueFromUri(col("u")).as("cv"),
      Descriptors.descriptorNameFromUri(col("u")).as("dn"),
      Descriptors.idFromHref(lit("api/ed-fi/schools/abc123")).as("id"))
    val r = df.collect().head
    assert(r.getString(0) == "First Six Weeks")
    assert(r.getString(1) == "GradingPeriodDescriptor")
    assert(r.getString(2) == "abc123")
  }

  test("Descriptors.withConstant: case-insensitive match, unmapped survives as null") {
    val mapping = Seq(("Engagement.Click", "EventDescriptor", "CLICK"))
      .toDF("constantName", "descriptor", "codeValue")
    val data = Seq("uri://x/EventDescriptor#click", "uri://x/EventDescriptor#other")
      .toDF("uri")
    val out = Descriptors.withConstant(data, mapping, "uri")
      .orderBy("uri").collect()
    assert(out.length == 2)
    assert(out.map(_.getString(1)).toSeq == Seq("Engagement.Click", null))
  }

  test("Joins.merge: only colliding non-key columns get suffixed (pandas parity)") {
    val l = Seq((1, "a", "x")).toDF("k", "shared", "left_only")
    val r = Seq((1, "b", "y")).toDF("k", "shared", "right_only")
    val joined = Joins.mergeJoin(l, r, Seq("k"))
    assert(joined.columns.toSet ==
      Set("k", "shared_x", "left_only", "shared_y", "right_only"))
  }

  test("Crosstab.counts: fixed category list, absent categories zero-filled") {
    val df = Seq((1, "a"), (1, "a"), (2, "b")).toDF("k", "cat")
    val out = Crosstab.counts(df, Seq("k"), "cat", Seq("a", "b", "c"))
      .orderBy("k").collect()
    assert(out.map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ==
      Seq((1, 2L, 0L, 0L), (2, 0L, 1L, 0L)))
  }

  test("OrderedAgg.stringAgg: explicit order, value tiebreak on duplicate keys") {
    val df = Seq((1, 2, "b"), (1, 1, "a"), (1, 2, "a2"), (1, 3, "c")).toDF("g", "k", "v")
    val out = df.groupBy("g")
      .agg(OrderedAgg.stringAgg(col("v"), ",", col("k")).as("r"))
      .collect().head.getString(1)
    assert(out == "a,a2,b,c")
  }

  test("Columns.replaceNullOrEmpty: fills null and '' and conjures absent columns") {
    val df = Seq(("x"), (""), (null)).toDF("c")
    val filled = Columns.replaceNullOrEmpty(df, "c", lit("n/a"))
      .collect().map(_.getString(0)).toSeq
    assert(filled == Seq("x", "n/a", "n/a"))
    val conjured = Columns.replaceNullOrEmpty(df, "missing", lit("d"))
    assert(conjured.columns.contains("missing"))
    assert(conjured.select("missing").collect().forall(_.getString(0) == "d"))
  }

  test("Columns.castAll") {
    val df = Seq((1, 2)).toDF("a", "b")
    val out = Columns.castAll(df, StringType, Seq("a", "b"))
    assert(out.schema.fields.forall(_.dataType == StringType))
  }

  test("Flatten.normalize: explode_outer keeps empty-array rows with null fields") {
    val df = spark.read.json(Seq(
      """{"id": 1, "arr": [{"v": "a"}, {"v": "b"}]}""",
      """{"id": 2, "arr": []}""").toDS())
    val out = Flatten.normalize(df, Seq("id"), Seq("arr"), Seq("v"), "arr_")
      .orderBy("id", "arr_v").collect()
    assert(out.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (1L, "b"), (2L, null)))
  }

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("Joins.asofJoin: latest at-or-before per key, same-instant visible, pre-first null") {
    val left = Seq(
      (1L, 7L, ts("2024-01-01 09:00:00")),  // before any change → null
      (2L, 7L, ts("2024-01-01 10:00:00")),  // exactly at change 1 → sees it
      (3L, 7L, ts("2024-01-01 11:30:00")),  // between changes → change 1
      (4L, 7L, ts("2024-01-01 12:30:00")),  // after change 2 → change 2
      (5L, 8L, ts("2024-01-01 12:30:00"))   // other key: own stream only
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (7L, ts("2024-01-01 10:00:00"), "silver"),
      (7L, ts("2024-01-01 12:00:00"), "gold"),
      (8L, ts("2024-01-01 08:00:00"), "bronze")
    ).toDF("user_id", "ts", "tier")
    val out = Joins.asofJoin(left, right, Seq("user_id"), "ts", Seq("tier"))
      .collect().map(r => r.getAs[Long]("event_id") ->
        (Option(r.getAs[String]("tier")),
          Option(r.getAs[java.sql.Timestamp]("__matched_ts")))).toMap
    assert(out(1L) == (None, None))
    assert(out(2L) == (Some("silver"), Some(ts("2024-01-01 10:00:00"))))
    assert(out(3L) == (Some("silver"), Some(ts("2024-01-01 10:00:00"))))
    assert(out(4L) == (Some("gold"), Some(ts("2024-01-01 12:00:00"))))
    assert(out(5L) == (Some("bronze"), Some(ts("2024-01-01 08:00:00"))))
    assert(out.size == 5) // every left row survives (left-join semantics)
  }

  test("Joins.asofJoinForward: earliest at-or-after per key, same-instant visible, post-last null") {
    val left = Seq(
      (1L, 7L, ts("2024-01-01 09:00:00")),  // before change 1 → change 1
      (2L, 7L, ts("2024-01-01 10:00:00")),  // exactly at change 1 → sees it
      (3L, 7L, ts("2024-01-01 11:30:00")),  // between changes → change 2
      (4L, 7L, ts("2024-01-01 12:30:00")),  // after last change → null
      (5L, 8L, ts("2024-01-01 07:30:00"))   // other key: own stream only
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (7L, ts("2024-01-01 10:00:00"), "silver"),
      (7L, ts("2024-01-01 12:00:00"), "gold"),
      (8L, ts("2024-01-01 08:00:00"), "bronze")
    ).toDF("user_id", "ts", "tier")
    val out = Joins.asofJoinForward(left, right, Seq("user_id"), "ts", Seq("tier"))
      .collect().map(r => r.getAs[Long]("event_id") ->
        (Option(r.getAs[String]("tier")),
          Option(r.getAs[java.sql.Timestamp]("__matched_ts")))).toMap
    assert(out(1L) == (Some("silver"), Some(ts("2024-01-01 10:00:00"))))
    assert(out(2L) == (Some("silver"), Some(ts("2024-01-01 10:00:00"))))
    assert(out(3L) == (Some("gold"), Some(ts("2024-01-01 12:00:00"))))
    assert(out(4L) == (None, None))
    assert(out(5L) == (Some("bronze"), Some(ts("2024-01-01 08:00:00"))))
    assert(out.size == 5) // every left row survives (left-join semantics)
  }

  test("Joins.asofJoinForward: epoch-long ts columns work (typed null sentinel)") {
    val left = Seq((1L, 7L, 1000L), (2L, 7L, 3000L)).toDF("event_id", "user_id", "ts")
    val right = Seq((7L, 2000L, "gold")).toDF("user_id", "ts", "tier")
    val out = Joins.asofJoinForward(left, right, Seq("user_id"), "ts", Seq("tier"))
      .collect().map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[String]("tier"))).toMap
    // forward: the 1000 event sees the 2000 change; the 3000 event has
    // nothing ahead of it
    assert(out(1L).contains("gold") && out(2L).isEmpty)
  }

  test("Snapshot.temporalAudit: a well-formed SCD2 history audits clean") {
    val rows = Seq(
      ("u1", 0L, Some(10L)), ("u1", 10L, Some(20L)), ("u1", 20L, None),
      ("u2", 5L, None)
    ).map { case (k, f, t) => (k, f, t.map(java.lang.Long.valueOf).orNull) }
      .toDF("k", "f", "t")
    val r = graft.ops.Snapshot.temporalAudit(rows, "k", "f", "t").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((4L, 0L, 0L, 0L)))
  }

  test("Snapshot.temporalAudit: multi-row overlaps compare against the RUNNING max") {
    // (0,100) outlives both successors: lag-1 would miss row3's overlap
    // AND flag the covered instant 20-30 as a gap; the running max must
    // count 2 overlaps and 0 gaps
    val rows = Seq(
      ("u", 0L, Some(100L)), ("u", 10L, Some(20L)), ("u", 30L, Some(40L)),
      // a genuinely uncovered instant after the long interval closes
      ("u", 200L, Some(210L)),
      // an OPEN predecessor covers everything after it: w overlaps, and
      // the open row is flagged open-not-last
      ("w", 0L, None), ("w", 50L, Some(60L))
    ).map { case (k, f, t) => (k, f, t.map(java.lang.Long.valueOf).orNull) }
      .toDF("k", "f", "t")
    val r = graft.ops.Snapshot.temporalAudit(rows, "k", "f", "t").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((6L, 3L, 1L, 1L)),
      s"expected (6 rows, 3 overlaps, 1 gap, 1 open-not-last), got $r")
  }

  test("Joins.asofJoin: epoch-long ts columns work (no hardcoded timestamp cast)") {
    // event tables commonly carry bigint epoch millis; the null __rts
    // sentinel must take the RIGHT side's ts type, not assume timestamp
    val left = Seq((1L, 7L, 1000L), (2L, 7L, 3000L)).toDF("event_id", "user_id", "ts")
    val right = Seq((7L, 2000L, "gold")).toDF("user_id", "ts", "tier")
    val out = Joins.asofJoin(left, right, Seq("user_id"), "ts", Seq("tier"))
      .collect().map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[String]("tier"))).toMap
    assert(out(1L).isEmpty && out(2L).contains("gold"))
  }

  test("Joins.rangeJoin: half-open containment, bin-spanning intervals, multi-match") {
    val facts = Seq(
      (1L, ts("2024-01-01 10:00:00")),  // == start of A: included
      (2L, ts("2024-01-01 10:29:59")),  // inside A
      (3L, ts("2024-01-01 10:30:00")),  // == end of A: excluded there (half-open), inside B
      (4L, ts("2024-01-01 10:20:00")),  // inside A and overlapping B
      (5L, ts("2024-01-01 23:00:00"))   // in no window
    ).toDF("event_id", "ts")
    val windows = Seq(
      ("A", ts("2024-01-01 10:00:00"), ts("2024-01-01 10:30:00")),
      ("B", ts("2024-01-01 10:15:00"), ts("2024-01-01 10:45:00"))
    ).toDF("window_id", "w_start", "w_end")
    // binSeconds deliberately smaller than the windows so each interval
    // spans several bins — the explode/equi-join path, not a 1:1 bucket
    val out = Joins.rangeJoin(facts, "ts", windows, "w_start", "w_end", binSeconds = 300)
      .select("event_id", "window_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out == Set((1L, "A"), (2L, "A"), (2L, "B"), (3L, "B"), (4L, "A"), (4L, "B")))
  }

  test("Snapshot.diff: added/removed/changed classified, unchanged omitted") {
    val prev = Seq((1L, "same"), (2L, "old"), (3L, "gone")).toDF("id", "text")
    val curr = Seq((1L, "same"), (2L, "new"), (4L, "fresh")).toDF("id", "text")
    val out = Snapshot.diff(prev, curr, "id", Seq("text"))
      .select("id", "change_type").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(2L -> "changed", 3L -> "removed", 4L -> "added"))
    val summary = Snapshot.diffSummary(prev, curr, "id", Seq("text"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(summary == Map("added" -> 1L, "removed" -> 1L, "changed" -> 1L))
  }

  test("deletes feed end-to-end: stub ODS /deletes → silver → gold reflects removals") {
    // the full incremental loop the reference never closes (it extracts
    // /deletes but never consumes it): extract base + deletes twin from
    // a stub ODS, land silver, build gold, apply the deletes feed, and
    // audit the removal with diffSummary
    import graft.ingest._
    val t = new HttpTransport {
      def get(url: String, headers: Map[String, String]): (Int, String) = {
        if (!url.contains("offset="))          // root doc: version gate
          return (200, """{"dataModels": [{"name": "Ed-Fi", "version": "4.0.0"}]}""")
        val offset = "offset=(\\d+)".r.findFirstMatchIn(url)
          .map(_.group(1).toInt).getOrElse(0)
        if (offset > 0) (200, "[]")
        else if (url.contains("/deletes"))
          (200, """[{"id": "g2", "changeVersion": 9},
                    {"id": "g4", "changeVersion": 11}]""")
        else (200, (1 to 5).map(i =>
          s"""{"id": "g$i", "studentUniqueId": "s$i", "firstName": "F$i",
              "lastSurname": "L"}""").mkString("[", ", ", "]"))
      }
      def post(url: String, headers: Map[String, String],
          form: Map[String, String]): (Int, String) =
        (200, """{"access_token": "tok-1"}""")
    }
    val client = new EdFiClient(t, "http://api", "k", "s")
    val silver = java.nio.file.Files.createTempDirectory("silver-del")
    client.extractAll(Seq("students"), silver, "2022", parallelism = 1)
    val reader = graft.core.SilverReader(spark, silver.toString, "2022")
    val goldDir = java.nio.file.Files.createTempDirectory("gold-del").toString
    reader.read("students").write.mode("overwrite").parquet(s"$goldDir/students")
    val gold1 = spark.read.parquet(s"$goldDir/students")
    val gold2 = graft.ops.Snapshot.applyDeletes(
      gold1, reader.read("students_deletes"), "id")
    assert(gold2.select("id").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("g1", "g3", "g5"))
    val audit = graft.ops.Snapshot.diffSummary(gold1, gold2, "id",
      Seq("studentUniqueId", "firstName", "lastSurname"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(audit == Map("removed" -> 2L))
  }

  test("Snapshot.diff: content columns outside the list do not mark 'changed'") {
    val prev = Seq((1L, "body", "meta_a")).toDF("id", "text", "meta")
    val curr = Seq((1L, "body", "meta_b")).toDF("id", "text", "meta")
    assert(Snapshot.diff(prev, curr, "id", Seq("text")).count() == 0)
    assert(Snapshot.diff(prev, curr, "id", Seq("text", "meta")).count() == 1)
  }

  test("Stats: avg divides by non-null value count, not row count") {
    val df = Seq(("A", Some(2.0)), ("A", None), ("B", None))
      .toDF("g", "v")
    val out = Stats.finalizeStats(Stats.partialStats(df, Seq("g"), "v"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("cnt"), r.getAs[Long]("n_v"),
          Option(r.get(r.fieldIndex("avg_v"))))).toMap
    assert(out("A") == (2L, 1L, Some(2.0))) // SQL AVG semantics, not 1.0
    assert(out("B") == (1L, 0L, None))      // all-null group: null avg
  }

  test("Stats merge: chained daily states equal the full recompute exactly") {
    val days = Seq(
      Seq(("A", 1.5), ("A", 2.5), ("B", 10.0)),
      Seq(("A", 4.0), ("B", 0.5)),
      Seq(("C", 7.25)))
    val partials = days.map(d =>
      Stats.partialStats(d.toDF("g", "v"), Seq("g"), "v"))
    // fold day 3 into (day 1 ⊕ day 2): merge must chain, not just pair
    val chained = Stats.mergeStats(
      Seq(Stats.mergeStats(partials.take(2), Seq("g")), partials(2)), Seq("g"))
    val full = Stats.partialStats(
      days.flatten.toDF("g", "v"), Seq("g"), "v")
    def snap(df: org.apache.spark.sql.DataFrame) =
      Stats.finalizeStats(df).orderBy("g").collect().map(_.toSeq).toSeq
    assert(snap(chained) == snap(full))
  }

  test("Audit: every check family counts its planted violations; NULLs pass range/custom") {
    import org.apache.spark.sql.functions.col
    val dim = Seq(1L, 2L, 3L).toDF("id")
    val rows = Seq(
      (Some(1L), Some(10.0), "ok", 1L),
      (Some(2L), Some(-5.0), "ok", 2L),   // range violation
      (None, None, "ok", 3L),             // null fk (passes fk+range), null violation
      (Some(9L), Some(20.0), "bad", 4L),  // fk orphan + custom violation
      (Some(3L), Some(30.0), "ok", 4L))   // duplicate key with previous row
      .toDF("fk", "v", "status", "k")
    val out = Audit.audit(rows, Seq(
      Audit.NotNull("fk"),
      Audit.InRange("v", 0.0, 100.0),
      Audit.Satisfies("status_ok", col("status") === "ok"),
      Audit.UniqueKey(Seq("k")),
      Audit.RefIntegrity("fk", dim, "id")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("not_null:fk") == (1L, 5L))
    assert(out("range:v") == (1L, 5L))        // the NULL v is not a violation
    assert(out("check:status_ok") == (1L, 5L))
    assert(out("unique:k") == (2L, 5L))       // both rows of the dup key count
    assert(out("fk:fk") == (1L, 5L))          // NULL fk passes, 9 is the orphan
    assert(out.size == 5)
    // a clean table reports all-zero violations, same shape
    val clean = Audit.audit(dim.toDF("k"), Seq(
      Audit.NotNull("k"), Audit.UniqueKey(Seq("k"))))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(clean == Map("not_null:k" -> 0L, "unique:k" -> 0L))
    intercept[IllegalArgumentException] { Audit.audit(dim, Seq.empty) }
    intercept[IllegalArgumentException] {
      Audit.audit(dim.toDF("k"), Seq(Audit.NotNull("k"), Audit.NotNull("k")))
    }
  }

  test("Audit: row checks fold into one aggregate over one scan") {
    import org.apache.spark.sql.functions.col
    val df = Seq((1L, 2.0), (2L, 3.0)).toDF("a", "b")
    val plan = Audit.audit(df, Seq(
      Audit.NotNull("a"), Audit.InRange("b", 0, 10),
      Audit.Satisfies("pos", col("b") > 0)))
      .queryExecution.executedPlan.toString
    // three row checks, but the source is scanned once per report row via
    // the shared 1-row aggregate (ReusedExchange/InMemory aside, there is
    // no per-check shuffle): no Exchange beyond the single-partition agg
    val exchanges = "Exchange".r.findAllIn(plan).size
    val reused = "ReusedExchange".r.findAllIn(plan).size
    assert(exchanges - reused <= 2,
      s"row checks should share one aggregate, got $exchanges exchanges:\n$plan")
  }

  test("MultiDim.rollupAgg: subtotal lattice with ALL labels, aliased agg names survive") {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val df = Seq(("US", "web", 10L), ("US", "app", 5L), ("EU", "web", 7L))
      .toDF("country", "channel", "v")
    val out = MultiDim.rollupAgg(df, Seq("country", "channel"),
      Seq(sum(col("v")).as("total"), count(lit(1)).as("n")))
    assert(out.columns.toSeq == Seq("country", "channel", "total", "n"))
    val m = out.collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(m(("US", "web")) == (10L, 1L))
    assert(m(("US", "ALL")) == (15L, 2L))   // per-country subtotal
    assert(m(("EU", "ALL")) == (7L, 1L))
    assert(m(("ALL", "ALL")) == (22L, 3L))  // grand total
    assert(m.size == 6)                     // 3 leaves + 2 subtotals + 1 total
  }

  test("MultiDim: ALL label vs genuine NULL dim value stay distinct; cube and grouping sets run") {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val df = Seq((Some("US"), 1L), (None, 2L)).toDF("country", "v")
    val rolled = MultiDim.rollupAgg(df, Seq("country"), Seq(sum(col("v")).as("total")))
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(rolled(Some("US")) == 1L)
    assert(rolled(None) == 2L)              // data NULL survives as NULL
    assert(rolled(Some("ALL")) == 3L)       // subtotal labeled, not coalesced
    val cube = MultiDim.cubeAgg(
      Seq(("a", "x", 1L)).toDF("d1", "d2", "v"), Seq("d1", "d2"),
      Seq(count(lit(1)).as("n")))
    assert(cube.count() == 4)               // 2^2 grouping sets
    val gs = MultiDim.groupingSetsAgg(
      Seq(("a", "x", 1L)).toDF("d1", "d2", "v"), Seq("d1", "d2"),
      Seq(Seq("d1"), Seq("d2")), Seq(count(lit(1)).as("n")))
    assert(gs.count() == 2)
  }

  test("Intervals: closed semantics — adjacent blocks merge, coverage counts end-start+1") {
    // the ADVICE r5 case: [1,3],[2,5],[4,6] is ONE closed block of 6 days
    val df = Seq(("u", 1L, 3L), ("u", 2L, 5L), ("u", 4L, 6L),
      ("v", 1L, 3L), ("v", 4L, 6L),   // adjacent (4 = 3+1) → merge
      ("w", 1L, 2L), ("w", 4L, 5L))   // gap (4 > 2+1) → two blocks
      .toDF("k", "s", "e")
    val cov = Intervals.coverage(df, Seq("k"), "s", "e")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(cov("u") == (1L, 6L))
    assert(cov("v") == (1L, 6L))      // [1,6] = 6 days, one block
    assert(cov("w") == (2L, 4L))      // [1,2] + [4,5] = 4 days
    val blocks = Intervals.mergeIntervals(df, Seq("k"), "s", "e")
      .filter(col("k") === "w").orderBy("block_start")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(blocks == Seq((1L, 2L), (4L, 5L)))
  }

  test("Intervals/sigmaOutliers reject colliding internal column names") {
    val iv = Seq(("u", 1L, 2L, 0L)).toDF("k", "s", "e", "_iv_opens")
    intercept[IllegalArgumentException] {
      Intervals.mergeIntervals(iv, Seq("k"), "s", "e")
    }
    val sg = Seq(("g", 1L, 0L)).toDF("g", "v", "_sig_x")
    intercept[IllegalArgumentException] {
      Stats.sigmaOutliers(sg, Seq("g"), "v", 2)
    }
  }

  test("Stats.sigmaOutliers: epoch-micros scale, n=1000 — no overflow, exact counts") {
    import org.apache.spark.sql.functions.col
    // the ADVICE r5 failing domain: micros-scale magnitudes with n=1000
    // threw NUMERIC_VALUE_OUT_OF_RANGE under ANSI. Values spread over ~30
    // years of epoch micros plus two planted 5-sigma-ish outliers.
    val base = 1500000000000000L // ~2017-07 in epoch micros
    val day = 86400000000L
    val rows = (0 until 998).map(i => ("g", base + (i % 200) * day * 37)) ++
      Seq(("g", base + 500L * 365 * day), ("g", base - 400L * 365 * day))
    val out = Stats.sigmaOutliers(rows.toDF("g", "ts_us"), Seq("g"), "ts_us", 3)
      .collect().head
    assert(out.getLong(1) == 1000L)
    // oracle computed exactly in BigInt from the same rows
    val xs = rows.map(_._2).map(BigInt(_))
    val n = BigInt(xs.size); val s = xs.sum; val ss = xs.map(x => x * x).sum
    val expected = xs.count { x =>
      val d = n * x - s
      d * d * (n - 1) > BigInt(9) * n * (n * ss - s * s)
    }
    assert(out.getLong(2) == expected.toLong, "outlier count vs BigInt oracle")
    assert(expected >= 2, s"fixture should plant detectable outliers, got $expected")
  }

  test("Stats.sigmaOutliers: small-magnitude exact path agrees with BigInt oracle") {
    val rows = Seq.tabulate(50)(i => ("a", (i % 7).toLong)) ++
      Seq(("a", 1000L), ("b", 5L), ("b", 5L), ("b", 5L))
    val out = Stats.sigmaOutliers(rows.toDF("g", "v"), Seq("g"), "v", 2)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    def oracle(g: String, k: Int): Long = {
      val xs = rows.filter(_._1 == g).map(t => BigInt(t._2))
      val n = BigInt(xs.size); val s = xs.sum; val ss = xs.map(x => x * x).sum
      xs.count { x =>
        val d = n * x - s
        d * d * (n - 1) > BigInt(k.toLong * k) * n * (n * ss - s * s)
      }.toLong
    }
    assert(out("a") == (51L, oracle("a", 2)))
    assert(out("a")._2 >= 1L)             // the planted 1000 is caught
    assert(out("b") == (3L, 0L))          // zero variance → no outliers
  }

  test("Stats.winsorize: discrete-quantile clip — thresholds are data points, tails clamp") {
    // group g: values 1..20; p10 discrete = smallest v with cume_dist ≥ .1
    // = 2, p90 = 18; values clip INTO the data's own range
    val df = (1 to 20).map(i => ("g", i.toDouble)).toDF("k", "v")
    val out = Stats.winsorize(df, Seq("k"), "v", 0.10, 0.90)
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    assert(out(1.0) == 2.0 && out(2.0) == 2.0)    // low tail → p10 threshold
    assert(out(19.0) == 18.0 && out(20.0) == 18.0)
    assert(out(10.0) == 10.0)                     // body untouched
    intercept[IllegalArgumentException] {
      Stats.winsorize(df, Seq("k"), "v", 0.9, 0.1)
    }
  }

  test("Stats.robustOutliers: MAD flags the planted spike; zero-MAD degenerate case") {
    // median 5, deviations {0..4, 95}: MAD = 2, 3·MAD = 6 → only the 100 flags
    val rows = Seq(1.0, 3.0, 4.0, 5.0, 6.0, 7.0, 9.0, 100.0).map(("a", _)) ++
      Seq(("b", 5.0), ("b", 5.0), ("b", 5.0), ("b", 42.0)) // MAD 0: 42 ≠ med flags
      .toSeq
    val out = Stats.robustOutliers(rows.toDF("g", "v"), Seq("g"), "v", 3.0)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("a") == (8L, 1L), "only the planted 100 exceeds 3*MAD")
    assert(out("b") == (4L, 1L), "MAD=0 flags every value off the median")
    // contrast with sigma: the 100 drags the mean/variance so hard that a
    // 2-sigma test MISSES it on tiny n — the reason the robust twin exists
    val sig = Stats.sigmaOutliers(
      rows.filter(_._1 == "a").map { case (g, v) => (g, v.toLong) }
        .toDF("g", "v"), Seq("g"), "v", 2)
      .collect().head
    assert(sig.getLong(2) <= 1L)
  }

  test("Stats.equiDepthHistogram: balanced buckets, ties never straddle, extremes exact") {
    // 16 distinct values into 4 buckets → 4 rows each, contiguous ranges
    val df = (1 to 16).map(i => ("g", i.toDouble)).toDF("k", "v")
    val out = Stats.equiDepthHistogram(df, Seq("k"), "v", 4)
      .collect().map(r => r.getLong(1) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out(1L) == (4L, 1.0, 4.0))
    assert(out(4L) == (4L, 13.0, 16.0))
    assert(out.values.map(_._1).sum == 16L)
    // ties: ten copies of one value all land in ONE bucket (never split)
    val ties = (Seq.fill(10)(5.0) ++ Seq(1.0, 9.0)).map(("t", _)).toDF("k", "v")
    val tied = Stats.equiDepthHistogram(ties, Seq("k"), "v", 3)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(tied.values.sum == 12L)
    assert(tied.values.exists(_ >= 10L), "tied value must stay in one bucket")
    intercept[IllegalArgumentException] {
      Stats.equiDepthHistogram(df, Seq("k"), "v", 0)
    }
  }

  test("Stats.logHistogram: binary-digit buckets, zero bucket, power-of-two edges exact") {
    val df = Seq(("a", 0L), ("a", 1L), ("a", 1L), ("a", 7L), ("a", 8L),
      ("b", 1023L), ("b", 1024L)).toDF("g", "v")
    val out = Stats.logHistogram(df, "v", Seq("g"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(("a", 0L)) == (1L, 0L, 0L))   // v=0 → its own bucket
    assert(out(("a", 1L)) == (2L, 1L, 1L))   // two 1s
    assert(out(("a", 3L)) == (1L, 7L, 7L))   // 7 = 111b → 3 digits
    assert(out(("a", 4L)) == (1L, 8L, 8L))   // 8 = 1000b → the NEXT bucket
    assert(out(("b", 10L)) == (1L, 1023L, 1023L))
    assert(out(("b", 11L)) == (1L, 1024L, 1024L)) // power of two: exact edge
  }

  test("Sketches: HLL estimate within the lgK error bound; merge law; order-invariant") {
    import org.apache.spark.sql.functions.col
    // 40k distinct values under one key: lgK=12 → ~1.6% relative error,
    // asserted at a loose 5% so the bound never flakes
    val df = spark.range(0, 40000)
      .select(col("id"), lit("k").as("key"), concat(lit("v"), col("id")).as("v"))
    val est = Sketches.estimate(
      Sketches.distinctSketch(df, Seq("key"), "v"))
      .collect().head.getLong(1)
    assert(math.abs(est - 40000L) <= 2000,
      s"HLL estimate $est off by more than 5% of 40000")
    // merge law: union of the two halves' sketches estimates EXACTLY
    // like one sketch over the whole set (same registers, max-folded)
    val whole = Sketches.distinctSketch(df, Seq("key"), "v")
    val parts = Sketches.distinctSketch(
      df.withColumn("day", when(col("id") % 2 === 0, "d1").otherwise("d2")),
      Seq("key", "day"), "v")
    val merged = Sketches.mergeSketches(parts, Seq("key"))
    val (a, b) = (
      Sketches.estimate(whole).collect().head.getLong(1),
      Sketches.estimate(merged).collect().head.getLong(1))
    assert(a == b, s"merge law broken: whole=$a merged=$b")
    // order/partitioning invariance of the estimate
    val shuffled = Sketches.estimate(Sketches.distinctSketch(
      df.orderBy(col("v").desc).repartition(7), Seq("key"), "v"))
      .collect().head.getLong(1)
    assert(shuffled == est)
  }

  test("Sketches: CMS never undercounts, merge law exact, heavy hitters exact") {
    import org.apache.spark.sql.functions.col
    // zipf-ish multiset: item i appears 1000/i times (i in 1..200) — a
    // few true heavies, a long colliding tail on a deliberately TINY
    // 2x32 sketch so collisions actually happen
    val df = spark.range(1, 201)
      .select(explode(sequence(lit(1), (lit(1000) / col("id")).cast("int")))
        .as("rep"), concat(lit("w"), col("id")).as("item"))
    val exact = df.groupBy("item").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sketch = Sketches.cmsBuild(df, "item", depth = 2, width = 32)
    val est = Sketches.cmsEstimate(df, sketch, "item", depth = 2, width = 32)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // one-sided error: EVERY estimate >= the true count
    exact.foreach { case (item, n) =>
      assert(est(item) >= n, s"CMS undercounted $item: ${est(item)} < $n")
    }
    // an estimate can never exceed the total multiset size
    val n = df.count()
    assert(est.values.forall(_ <= n))
    // absent item estimates from untouched-cell zero or collision mass,
    // never negative, and a wide sketch pins it to exactly 0
    val wide = Sketches.cmsBuild(df, "item", depth = 4, width = 4096)
    val ghost = Sketches.cmsEstimate(
      Seq("nope").toDF("item"), wide, "item", depth = 4, width = 4096)
      .collect().head.getLong(1)
    assert(ghost == 0L)
    // merge law: cell-wise sum of the two halves IS the whole sketch
    val whole = Sketches.cmsBuild(df, "item", depth = 2, width = 32)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val h1 = Sketches.cmsBuild(df.filter(col("rep") % 2 === 0), "item", 2, 32)
    val h2 = Sketches.cmsBuild(df.filter(col("rep") % 2 =!= 0), "item", 2, 32)
    val merged = Sketches.cmsMerge(h1.union(h2))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged == whole)
    // heavyHitters: exact output even on the tiny colliding sketch
    val hh = Sketches.heavyHitters(df, "item", threshold = 100, depth = 2, width = 32)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hh == exact.filter(_._2 >= 100))
  }

  test("Linkage.bestMatches: blocking bounds candidates, distance+id resolve, no-match drops") {
    import graft.ops.Linkage
    val clean = Seq(
      (1L, "jonathan smith", "b1"),
      (2L, "jonathan smyth", "b1"),   // distance-1 decoy in the same block
      (3L, "maria garcia", "b2"))
      .toDF("rid", "name", "blk")
    val dirty = Seq(
      (10L, "jonathan smith", "b1"),  // exact: distance 0 beats the decoy
      (11L, "jonathan smytX", "b1"),  // nearest is the decoy (distance 1)
      (12L, "maria garcia", "b9"),    // right name, WRONG block: invisible
      (13L, "zzzzzzzz", "b2"))        // in-block but beyond maxDistance
      .toDF("rid", "name", "blk")
    val out = Linkage.bestMatches(dirty, clean, "rid", "name", Seq("blk"), 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(out == Map(10L -> ((1L, 0)), 11L -> ((2L, 1))))
    // tie resolution: two clean records at equal distance → smaller id wins
    val tie = Linkage.bestMatches(
      Seq((20L, "ab", "t")).toDF("rid", "name", "blk"),
      Seq((5L, "ax", "t"), (4L, "cb", "t")).toDF("rid", "name", "blk"),
      "rid", "name", Seq("blk"), 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(tie.toSeq == Seq((20L, 4L, 1)))
  }

  test("Series.ewmaLast: power-of-two weights, short-history denominator, exact division") {
    import graft.ops.Series
    // u: values 1,2,3 with window 2 -> num = 300*2 + 200*1 = 800, den = 3
    // v: single event -> num = 100*2 = 200, den = 2 -> ewma exactly 1.0
    val ev = Seq(
      ("u", 1L, 101L, 1.0), ("u", 2L, 102L, 2.0), ("u", 3L, 103L, 3.0),
      ("v", 1L, 201L, 1.0)
    ).toDF("k", "t", "id", "value")
    val out = Series.ewmaLast(ev, "k", "t", "id", "value", window = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out("u") == ((3L, 800L, 3L, 800.0 / 3.0 / 100.0)))
    assert(out("v") == ((1L, 200L, 2L, 1.0)))
  }

  test("Series.cusumChangepoint: peak |n·P−k·S| lands right before the level shift") {
    import graft.ops.Series
    // 1,1,1,10: T = -900,-1800,-2700,0 -> cp at k=3, |T|=2700
    val ev = Seq(
      ("u", 1L, 1L, 1.0), ("u", 2L, 2L, 1.0), ("u", 3L, 3L, 1.0),
      ("u", 4L, 4L, 10.0),
      // symmetric 1,3: |T| = 200 at k=1, 0 at k=2 -> tiebreak-free pick k=1
      ("w", 1L, 5L, 1.0), ("w", 2L, 6L, 3.0)
    ).toDF("k", "t", "id", "value")
    val out = Series.cusumChangepoint(ev, "k", "t", "id", "value")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out("u") == ((4L, 3L, 2700L, 6.75)))
    assert(out("w") == ((2L, 1L, 200L, 1.0)))
  }

  test("Recommend: cosine model ranks, serving scores integer sums and excludes held items") {
    import graft.ops.Recommend
    // baskets: b1{1,2,3} b2{1,2} b3{1,2} b4{2,3} b5{1,3}
    // pair counts: (1,2)=3 (1,3)=2 (2,3)=2; n1=4 n2=4 n3=3
    val baskets = Seq(
      (1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 2L), (3L, 1L), (3L, 2L),
      (4L, 2L), (4L, 3L), (5L, 1L), (5L, 3L)
    ).toDF("bk", "it")
    val model = Recommend.itemNeighbors(baskets, "bk", "it",
      minPairCount = 2L, k = 2)
    val best = model.filter(col("rank") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // item 3 ties between 1 and 2 at cosine 2/sqrt(12) — neighbor id breaks it
    assert(best == Map(1L -> 2L, 2L -> 1L, 3L -> 1L))
    val cos12 = model.filter(col("item") === 1 && col("neighbor") === 2)
      .head().getAs[Double]("cosine")
    assert(cos12 == 3.0 / math.sqrt(16.0))
    // serving: u10 holds {1} -> recs 2 (score 3) then 3 (score 2);
    // u11 holds {1,2} -> only 3 survives the anti-join, score 2+2=4 from 2 sources
    val held = Seq((10L, 1L), (11L, 1L), (11L, 2L)).toDF("u", "it")
    val recs = Recommend.alsoBought(held, "u", "it", model, k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(4)) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(recs == Map(
      (10L, 1L) -> ((2L, 3L)), (10L, 2L) -> ((3L, 2L)),
      (11L, 1L) -> ((3L, 4L))))
  }

  test("Linkage.sortedNeighborhood: block + boundary stitch equals global-sort SNM") {
    import graft.ops.Linkage
    // blocks "aa" (ids 1-3) and "ab" (ids 4-6); global key order = id order.
    // Global SNM with window 3 pairs every id pair with rank distance <= 2:
    // (1,2)(1,3)(2,3)(2,4)(3,4)(3,5)(4,5)(4,6)(5,6) — the (2,4)(3,4)(3,5)
    // pairs exist ONLY via the boundary stitch.
    val recs = Seq(
      (1L, "aa1"), (2L, "aa2"), (3L, "aa3"),
      (4L, "ab1"), (5L, "ab2"), (6L, "ab3")
    ).toDF("doc_id", "k")
    val out = Linkage.sortedNeighborhood(recs, "doc_id", Seq(col("k")),
        window = 3, blockChars = 2)
      .orderBy("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (3L, 5L), (4L, 5L), (4L, 6L), (5L, 6L)).map { case (a, b) => (a, b, 1L) }
    assert(out.toSeq == expected)
    // two passes over the same key: every pair agreed on by both -> n_passes 2
    val two = Linkage.sortedNeighborhood(recs, "doc_id", Seq(col("k"), col("k")),
        window = 3, blockChars = 2)
      .collect().map(_.getLong(2)).toSet
    assert(two == Set(2L))
  }

  test("Stats.driftReport: identical halves score 0, disjoint ranges score tvd=1") {
    import org.apache.spark.sql.functions.col
    import graft.ops.Stats
    val base = spark.range(0, 1000)
      .select(lit("s").as("g"), (col("id") % 64 + 1).as("v"))
    // same distribution → no drift at all, exactly
    val same = Stats.driftReport(base, base, "v", Seq("g")).collect().head
    assert(same.getAs[Double]("tvd") == 0.0 && same.getAs[Double]("chi2") == 0.0)
    // disjoint magnitude ranges → every bucket fully one-sided: tvd = 1
    val shifted = spark.range(0, 1000)
      .select(lit("s").as("g"), (col("id") % 64 + 100000).as("v"))
    val far = Stats.driftReport(base, shifted, "v", Seq("g")).collect().head
    assert(far.getAs[Double]("tvd") == 1.0)
    assert(far.getAs[Long]("n_base") == 1000L && far.getAs[Long]("n_cur") == 1000L)
    // current side empty: zero q-shares, tvd at its 0.5 ceiling, chi2
    // collapses to Σp²/pₛ = Σp = 1 — and crucially no ANSI divide crash
    val gone = Stats.driftReport(base,
      base.filter(lit(false)), "v", Seq("g")).collect().head
    assert(gone.getAs[Double]("tvd") == 0.5)
    assert(math.abs(gone.getAs[Double]("chi2") - 1.0) < 1e-9)
  }

  test("Layout.zorderKey: exact interleave, monotone in each coordinate") {
    // bits=2: dim 0 → even bit positions, dim 1 → odd
    val cases = Seq(
      (0L, 0L, 0L), (1L, 0L, 1L), (0L, 1L, 2L), (3L, 3L, 15L),
      (2L, 1L, 6L),  // a=10b → bits 0,2 give 100b; b=1 → bit 1 → +2
      (7L, 0L, 5L))  // the 4s bit of a=111b masks off at bits=2
    val df = cases.toDF("a", "b", "want")
      .select(Layout.zorderKey(Seq(col("a"), col("b")), bits = 2).as("z"), col("want"))
    df.collect().foreach(r => assert(r.getLong(0) == r.getLong(1),
      s"z mismatch: got ${r.getLong(0)}, want ${r.getLong(1)}"))
    // monotone: componentwise <= implies z <= (the corner-bound property
    // zorderWrite's skipping relies on), checked over the full 16x16 grid
    val grid = for (a <- 0 to 15; b <- 0 to 15) yield (a.toLong, b.toLong)
    val z = grid.toDF("a", "b")
      .select(col("a"), col("b"), Layout.zorderKey(Seq(col("a"), col("b")), 4).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    for (((a1, b1), z1) <- z; ((a2, b2), z2) <- z
         if a1 <= a2 && b1 <= b2)
      assert(z1 <= z2, s"monotonicity broken: z($a1,$b1)=$z1 > z($a2,$b2)=$z2")
  }

  test("Layout.scaleToBits: affine grid rescale with double-space clamping") {
    val out = Seq(0.0, 250.0, 500.0, -10.0, 1e18).toDF("v")
      .select(Layout.scaleToBits(col("v"), 0.0, 500.0).as("s"))
      .collect().map(_.getLong(0))
    assert(out(0) == 0L && out(2) == 65535L)
    assert(out(1) == 32767L) // 250/500 * 65535 floored
    assert(out(3) == 0L, "below-domain clamps to 0")
    assert(out(4) == 65535L, "a wild outlier clamps instead of overflowing")
  }

  test("Audit.kAnonymity: size distribution and at_risk flags") {
    val df = Seq(
      ("DE", "A"), ("DE", "A"), ("DE", "A"),         // class of 3
      ("FR", "A"), ("FR", "A"),                      // class of 2
      ("FR", "B"), ("US", "B"), ("US", "C")          // three singletons
    ).toDF("country", "segment")
    val out = Audit.kAnonymity(df, Seq("country", "segment"), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.toSeq == Seq(
      (1L, 3L, 3L, true), (2L, 1L, 2L, true), (3L, 1L, 3L, false)))
  }

  test("Stats.corrPairs: exact +1/-1/0 on constructed columns") {
    val df = Seq((1L, 2L, -1L, 5L), (2L, 4L, -2L, 5L), (3L, 6L, -3L, 5L),
      (4L, 8L, -4L, 5L)).toDF("x", "y2", "yneg", "c")
      .withColumn("alt", when(col("x") % 2 === 0, 1L).otherwise(-1L))
    val out = Stats.corrPairs(df,
      Seq("x" -> col("x"), "y2" -> col("y2"), "yneg" -> col("yneg")))
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
    assert(out.map(t => (t._1, t._2)) ==
      Seq(("x", "y2"), ("x", "yneg"), ("y2", "yneg")))
    // sqrt rounding means |corr| lands within an ulp of 1, not exactly on it
    val want = Seq(1.0, -1.0, -1.0)
    out.map(_._3).zip(want).foreach { case (got, w) =>
      assert(math.abs(got - w) < 1e-12, s"corr $got vs $w") }
  }

  test("Stats.chi2Cells: independent 2x2 gives zero contribs; skewed does not") {
    val indep = Seq.fill(10)(("a", "x")) ++ Seq.fill(10)(("a", "y")) ++
      Seq.fill(10)(("b", "x")) ++ Seq.fill(10)(("b", "y"))
    val z = Stats.chi2Cells(indep.toDF("r", "c"), "r", "c")
      .agg(sum(col("contrib"))).head.getDouble(0)
    assert(z == 0.0, s"independent table must give chi2 == 0, got $z")
    val skew = Seq.fill(20)(("a", "x")) ++ Seq.fill(5)(("a", "y")) ++
      Seq.fill(5)(("b", "x")) ++ Seq.fill(20)(("b", "y"))
    val rows = Stats.chi2Cells(skew.toDF("r", "c"), "r", "c").collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      assert(r.getAs[Double]("expected") == 12.5)
      assert(math.abs(r.getAs[Double]("contrib") - 4.5) < 1e-12)
    }
  }

  test("Stats.categoricalDivergence: pure group = simpson 1; corpus-shaped group = hellinger 0") {
    // g1 all 'en' (concentrated); g2 matches the corpus mix exactly? no --
    // with two groups the corpus is their pooled mix, so craft g2 = pooled:
    // g1: 4 en. g2: 4 en, 2 fr, 2 de. corpus: 8 en, 2 fr, 2 de.
    val df = (Seq.fill(4)(("g1", "en")) ++ Seq.fill(4)(("g2", "en")) ++
      Seq.fill(2)(("g2", "fr")) ++ Seq.fill(2)(("g2", "de"))).toDF("g", "cat")
    val out = Stats.categoricalDivergence(df, "g", "cat")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val (n1, s1, e1, h1) = out("g1")
    assert(n1 == 4L && s1 == 1.0 && e1 == 1.0)
    // g1 vs corpus (8/12, 2/12, 2/12): h2 = 0.5*((1-sqrt(2/3))^2 + 2*(1/6))
    val expH1 = 0.5 * (math.pow(1 - math.sqrt(8.0 / 12), 2) + 2.0 / 6)
    assert(math.abs(h1 - expH1) < 1e-12, s"h1=$h1 exp=$expH1")
    val (n2, s2, e2, h2) = out("g2")
    assert(n2 == 8L)
    // g2 mix (1/2, 1/4, 1/4): simpson = 1/4+1/16+1/16 = 0.375
    assert(s2 == 0.375 && math.abs(e2 - 1 / 0.375) < 1e-12)
    assert(h2 > 0 && h2 < expH1, "g2 is closer to the corpus than g1")
  }

  test("Baskets.associationRules: counts, metrics, basket cap") {
    // baskets: {1,2,3}, {1,2}, {1,2}, {4,5} -> pair (1,2) count 3
    val df = Seq((10L, 1L), (10L, 2L), (10L, 3L), (11L, 1L), (11L, 2L),
      (12L, 1L), (12L, 2L), (13L, 4L), (13L, 5L)).toDF("bk", "it")
    val rules = Baskets.associationRules(df, "bk", "it", minPairCount = 3L)
      .collect()
    assert(rules.length == 1)
    val r = rules.head
    assert(r.getAs[Long]("item_a") == 1L && r.getAs[Long]("item_b") == 2L)
    assert(r.getAs[Long]("n_pair") == 3L && r.getAs[Long]("n_a") == 3L)
    assert(r.getAs[Double]("support") == 0.75)     // 3 of 4 baskets
    assert(r.getAs[Double]("confidence") == 1.0)   // every 1 comes with 2
    assert(r.getAs[Double]("lift") == 4.0 / 3.0)   // 3*4/(3*3)
    // an over-cap mega-basket contributes nothing
    val mega = (1L to 50L).map(i => (99L, i))
    val capped = Baskets.associationRules(
      (df.collect().map(r0 => (r0.getLong(0), r0.getLong(1))) ++ mega)
        .toSeq.toDF("bk", "it"),
      "bk", "it", minPairCount = 3L, maxBasketSize = 10)
    assert(capped.count() == 1, "mega-basket must be excluded by the cap")
  }

  test("Audit.lDiversity: homogeneous class flagged even when large") {
    val df = Seq(
      ("z1", "flu"), ("z1", "flu"), ("z1", "flu"), ("z1", "flu"), // big, same
      ("z2", "flu"), ("z2", "cold"), ("z2", "ache"),              // diverse
      ("z3", "flu"), ("z3", "cold")                               // l=3 fails
    ).toDF("zip", "dx")
    val out = Audit.lDiversity(df, Seq("zip"), "dx", l = 3)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(out("z1") == ((4L, 1L, true)), "size-4 homogeneous class is at risk")
    assert(out("z2") == ((3L, 3L, false)))
    assert(out("z3") == ((2L, 2L, true)))
  }

  test("Audit.tCloseness: skewed-but-diverse class flagged, absent values count") {
    // global: x=3, y=2, z=1 over N=6
    val df = Seq(
      ("A", "x"), ("A", "x"), ("A", "x"), ("A", "y"), // n=4, skew toward x
      ("B", "y"), ("B", "z")                          // n=2, missing x entirely
    ).toDF("qc", "sv")
    // A: |3·6−3·4| + |1·6−2·4| + absent z 1·4 = 6+2+4 = 12 → TVD 12/48 = 0.25
    // B: |1·6−2·2| + |1·6−1·2| + absent x 3·2 = 2+4+6 = 12 → TVD 12/24 = 0.5
    val out = Audit.tCloseness(df, Seq("qc"), "sv", tNum = 3, tDen = 10)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(out("A") == ((4L, 12L, false)), "TVD 0.25 < t = 0.3 passes")
    assert(out("B") == ((2L, 12L, true)), "TVD 0.5 > t = 0.3 is at risk")
  }

  test("Stats.cramersV: 1 on perfect association, 0 on independence, absent cells counted") {
    import graft.ops.Stats
    // perfect: b determined by a (diagonal only — absent off-diagonal
    // cells must contribute their expected mass or V underestimates)
    val perfect = Seq(("x", "1"), ("x", "1"), ("y", "2"), ("y", "2"))
      .toDF("a", "b")
    val vp = Stats.cramersV(perfect, "a", "b").collect().head
    assert(math.abs(vp.getAs[Double]("cramers_v") - 1.0) < 1e-12)
    // independence: uniform 2x2 → chi2 = 0 → V = 0
    val indep = Seq(("x", "1"), ("x", "2"), ("y", "1"), ("y", "2"))
      .toDF("a", "b")
    val vi = Stats.cramersV(indep, "a", "b").collect().head
    assert(vi.getAs[Double]("chi2") === 0.0 &&
      vi.getAs[Double]("cramers_v") === 0.0)
  }

  test("Audit.tCloseness: NULL sensitive values join the distribution, not the absent fold") {
    // global: x=1, null=3 over N=4. The null-safe join must give the null
    // cells their real global mass; before the fix they dropped out of the
    // inner join and were double-counted as absent mass.
    val df = Seq(("A", Some("x")), ("A", None), ("B", None), ("B", None))
      .map { case (q, s) => (q, s.orNull) }.toDF("qc", "sv")
    // A: |1·4−1·2| + |1·4−3·2| = 4 (nothing absent: x and null both present)
    // B: |2·4−3·2| = 2 + absent x mass 1·2 = 4 → TVD 4/16 = 0.25 for both
    val out = Audit.tCloseness(df, Seq("qc"), "sv", tNum = 1, tDen = 5)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(out("A") == ((2L, 4L, true)), "TVD 0.25 > t = 0.2 flags A")
    assert(out("B") == ((2L, 4L, true)), "TVD 0.25 > t = 0.2 flags B")
  }

  test("Snapshot.applyChanges: upsert, tombstone, replay idempotence") {
    val base = Seq((1L, "a", 10L), (2L, "b", 10L), (3L, "c", 10L))
      .toDF("k", "state", "version")
    val changes = Seq(
      (1L, "a2", 20L, "U"),  // update wins by version
      (3L, "c", 20L, "D"),   // tombstone removes
      (4L, "d", 20L, "I"),   // insert
      (4L, "d", 20L, "I")    // replayed delivery collapses
    ).toDF("k", "state", "version", "op")
    val out = graft.ops.Snapshot.applyChanges(base, changes, "k", "version", "op")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out == Map(1L -> ("a2", 20L), 2L -> ("b", 10L), 4L -> ("d", 20L)))
    // stale tombstone (older version) must NOT delete
    val stale = Seq((2L, "x", 5L, "D")).toDF("k", "state", "version", "op")
    val kept = graft.ops.Snapshot.applyChanges(base, stale, "k", "version", "op")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L), "stale delete must lose to newer base row")
  }

  test("Joins.intervalOverlapJoin: half-open overlaps, bin-spanning, no dup pairs") {
    val l = Seq(
      ("s1", ts("2024-01-01 10:00:00"), ts("2024-01-03 10:00:00")), // spans bins
      ("s2", ts("2024-01-05 00:00:00"), ts("2024-01-05 01:00:00")), // inside w2
      ("s3", ts("2024-01-09 00:00:00"), ts("2024-01-09 00:00:00")), // empty
      ("s4", ts("2024-01-06 00:00:00"), ts("2024-01-07 00:00:00"))  // == w2 end boundary
    ).toDF("sid", "st", "en")
    val r = Seq(
      ("w1", ts("2024-01-02 00:00:00"), ts("2024-01-04 00:00:00")),
      ("w2", ts("2024-01-04 12:00:00"), ts("2024-01-06 00:00:00"))
    ).toDF("wid", "cs", "ce")
    val out = graft.ops.Joins.intervalOverlapJoin(l, "st", "en", r, "cs", "ce", 86400L)
      .select("sid", "wid", "overlap_us").collect()
      .map(x => (x.getString(0), x.getString(1)) -> x.getLong(2)).toMap
    // s1 x w1: overlap [01-02 00:00, 01-03 10:00) = 34h; exactly once despite 2 shared bins
    assert(out == Map(
      ("s1", "w1") -> 34L * 3600 * 1000000L,
      ("s2", "w2") -> 1L * 3600 * 1000000L))
  }
}
