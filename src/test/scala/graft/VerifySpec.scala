package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.core.Lake

/** Failure-reporting contract of the correctness/bench harness, plus the
  * Lake schema contract that round 5 taught us to pin.
  *
  * Round-5 incident: the driver regenerated events.parquet with a different
  * timestamp encoding; five queries failed at ANALYSIS time, vanished from
  * the correctness file without a trace, and their fail-fast times were
  * recorded as new bench minima. These tests make each layer of that
  * failure chain loud:
  *   1. VerifyCore writes an errors.json row for a query that throws;
  *   2. BenchRecheck.minsToRecord never records a minimum for a failed
  *      query (and preserves the previous min for when it's fixed);
  *   3. Lake normalizes each table to a pinned schema, so the NEXT encoding
  *      drift fails here with one clear message, not five queries deep. */
class VerifySpec extends SparkTestBase {

  test("VerifyCore reports a broken query in errors.json and still dumps the good one") {
    val out = java.nio.file.Files.createTempDirectory("graft-verifyspec").toString
    val queries = Map[String, (SparkSession, String) => DataFrame](
      "q_good" -> ((s, d) => Lake(s, d).region),
      // unresolvable column → ExtendedAnalysisException before any job runs
      "q_broken_analysis" -> ((s, d) => Lake(s, d).region.select(col("no_such_column")))
    )
    val errors = VerifyCore.runQueries(spark, sfDir, out, queries)
    assert(errors.keySet === Set("q_broken_analysis"))
    assert(new java.io.File(s"$out/q_good").exists(), "good query parquet missing")
    assert(!new java.io.File(s"$out/q_broken_analysis").exists())
    val errJson = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/errors.json"))
    assert(errJson.contains("\"q_broken_analysis\""))
    assert(spark.read.parquet(s"$out/q_good").count() === 5)
    graft.core.SilverWriter.deleteOnExit(out)
  }

  test("VerifyCore writes an empty errors.json on a clean run (no stale carry-over)") {
    val out = java.nio.file.Files.createTempDirectory("graft-verifyspec2").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/errors.json"), "{\"stale\": \"leftover\"}")
    val errors = VerifyCore.runQueries(spark, sfDir, out,
      Map("q_good" -> ((s, d) => Lake(s, d).nation)))
    assert(errors.isEmpty)
    val errJson = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/errors.json"))
    assert(errJson === "{}")
    graft.core.SilverWriter.deleteOnExit(out)
  }

  test("minsToRecord: failed query never mints a minimum, previous min survives") {
    val good = Seq("q_a" -> 1.2, "q_b" -> 0.4)
    val prev = Map("q_a" -> 1.5, "q_fail" -> 0.443, "q_gone" -> 9.9)
    val out = BenchRecheck.minsToRecord(good, failed = Seq("q_fail"), prev).toMap
    assert(out("q_a") === 1.2)           // new low ratchets the floor down
    assert(out("q_b") === 0.4)           // new query recorded
    assert(out("q_fail") === 0.443)      // failed → previous min preserved
    assert(!out.contains("q_gone"))      // unregistered queries drop out
  }

  test("minsToRecord: failed query with no previous min stays absent") {
    val out = BenchRecheck.minsToRecord(
      Seq("q_a" -> 1.0), failed = Seq("q_new_fail"), prev = Map("q_a" -> 2.0))
    assert(out.toMap === Map("q_a" -> 1.0))
  }

  test("minsToRecord ratchets: a noisy (inflated) run leaves committed floors unchanged") {
    // round-12 failure mode: a contended-host sweep 1.3-2x over floor
    // REPLACED the floors, requiring manual BENCH_MINS restores
    val good = Seq("q_a" -> 3.1, "q_b" -> 0.9)   // both above their floors
    val prev = Map("q_a" -> 1.5, "q_b" -> 0.7)
    val out = BenchRecheck.minsToRecord(good, failed = Nil, prev).toMap
    assert(out === Map("q_a" -> 1.5, "q_b" -> 0.7))
  }

  test("minsToRecord raises a floor only when the dedicated re-check confirms it") {
    val prev = Map("q_a" -> 1.5, "q_b" -> 1.5, "q_c" -> 0.1, "q_d" -> 1.0,
      "q_e" -> 1.5, "q_fail" -> 0.4)
    val good = Seq(
      "q_a" -> 3.1,   // in-suite outlier, re-check confirms: floor rises
      "q_b" -> 3.1,   // in-suite outlier, clean JVM back near the floor
      "q_c" -> 0.35,  // 3x but only +0.2 s: sub-floor jitter, no rise
      "q_d" -> 2.6,   // confirmed, and the in-suite min is the lower one
      "q_e" -> 3.1,   // never re-checked: the ratchet holds
      "q_new" -> 2.0) // no floor yet: recorded as is
    val dedicated = Map(
      "q_a" -> Seq(3.2, 2.9, 3.0), "q_b" -> Seq(1.9, 2.0, 2.1),
      "q_c" -> Seq(0.3, 0.32, 0.31), "q_d" -> Seq(3.0, 3.1, 3.2),
      "q_new" -> Seq(9.0), "q_fail" -> Seq(5.0))
    val out = BenchRecheck.minsToRecord(good, failed = Seq("q_fail"), prev, dedicated).toMap
    assert(out === Map("q_a" -> 2.9, "q_b" -> 1.5, "q_c" -> 0.1, "q_d" -> 2.6,
      "q_e" -> 1.5, "q_new" -> 2.0, "q_fail" -> 0.4))
  }

  test("writeSummary writes the printed compact line byte for byte, replacing the file") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bench-summary")
    val path = dir.resolve("BENCH_SUMMARY.json")
    val line = BenchRecheck.compactLine(
      total = 12.5, n = 2, pipelineSec = 3.25, Seq("q_a" -> 2.0, "q_b" -> 10.5),
      Map("q_a" -> 1.0), Seq("q_c" -> "boom"), "testdata/sf0.1")
    java.nio.file.Files.writeString(path, "stale" * 1000) // longer than the line
    BenchRecheck.writeSummary(path.toString, line)
    val printed = new java.io.ByteArrayOutputStream
    Console.withOut(printed)(println(line))
    assert(java.nio.file.Files.readAllBytes(path).toSeq === printed.toByteArray.toSeq)
    // an unwritable path is reported, never fatal to the bench
    BenchRecheck.writeSummary(dir.resolve("no/such/dir/BENCH_SUMMARY.json").toString, line)
    graft.core.SilverWriter.deleteOnExit(dir.toString)
  }

  test("rankOutliers: worst inflation first, not alphabetical; gates respected") {
    val prev = Map("q_a" -> 1.0, "q_b" -> 1.0, "q_c" -> 1.0,
      "q_d" -> 0.10, "q_e" -> 1.0)
    val good = Seq(
      "q_a" -> 2.0,   // 2.0x — outlier
      "q_b" -> 25.0,  // 25x — worst, must rank first despite 'b' > 'a'
      "q_c" -> 1.4,   // below 1.5x factor → not an outlier
      "q_d" -> 0.30,  // 3x ratio but only +0.2s absolute → sub-floor jitter
      "q_e" -> 6.0)   // 6x
    assert(BenchRecheck.rankOutliers(good, prev) === Seq("q_b", "q_e", "q_a"))
    assert(BenchRecheck.rankOutliers(good, prev, cap = 2) === Seq("q_b", "q_e"))
    assert(BenchRecheck.rankOutliers(good, Map.empty) === Nil) // no floors yet
  }

  test("compactLine fits the driver's 2000-char tail and picks biggest movers both ways") {
    // 350 queries, worst-case long names, 5+ errors with long messages —
    // the compact line must stay parseable and under 2000 chars regardless
    val names = (1 to 350).map(i => f"q$i%03d_some_quite_long_query_name_here")
    val prev = names.map(_ -> 1.0).toMap
    val good = names.zipWithIndex.map { case (n, i) =>
      n -> (i match {
        case 0 => 30.0    // 30x regression — biggest mover
        case 1 => 0.05    // 20x improvement — second biggest (1/r)
        case 2 => 9.0
        case _ => 1.0 + (i % 7) * 0.01
      })
    } ++ Seq(
      "q_new_slow" -> 2.5,   // no floor yet: 10x the 0.25 s floor — a mover
      "q_new_fast" -> 0.01)  // no floor yet, sub-floor: not a "win"
    val errors = (1 to 8).map(i => s"q_err$i" -> ("boom " * 40))
    val out = BenchRecheck.compactLine(
      total = 431.25, n = 350, pipelineSec = 5.2, good, prev, errors,
      "/root/testdata/sf0.1")
    assert(out.length < 2000, s"compact line is ${out.length} chars")
    assert(out.startsWith("{\"metric\":\"total\",\"value\":431.250,"))
    assert(out.contains("\"n\":350"))
    assert(out.contains("\"n_errors\":8"))
    val firstMover = out.indexOf(names(0))   // 30x regression
    val secondMover = out.indexOf(names(1))  // 20x improvement
    assert(firstMover >= 0 && secondMover >= 0 && firstMover < secondMover)
    assert(!out.contains(names(100)), "non-mover leaked into compact line")
    assert(out.contains("\"vs_mins\":{\"" + names(0) + "\":30.00"))
    assert(out.endsWith("\"sf\":\"/root/testdata/sf0.1\"}"))
    assert(out.contains("\"q_new_slow\":2.500"), "floorless query missing from movers")
    assert(out.contains("\"q_new_slow\":10.00"))
    assert(!out.contains("q_new_fast"), "sub-floor new query ranked as a win")
  }

  test("unhashableColumns flags decimal/array/map/struct/binary, passes scalars") {
    val bad = StructType(Seq(
      StructField("ok_long", LongType),
      StructField("dec", DecimalType(38, 0)),
      StructField("arr", ArrayType(LongType)),
      StructField("mp", MapType(StringType, LongType)),
      StructField("st", StructType(Seq(StructField("x", LongType)))),
      StructField("bin", BinaryType)))
    assert(VerifyCore.unhashableColumns(bad).map(_.takeWhile(_ != ':')) ===
      Seq("dec", "arr", "mp", "st", "bin"))
    val good = StructType(Seq(
      StructField("l", LongType), StructField("d", DoubleType),
      StructField("s", StringType), StructField("b", BooleanType),
      StructField("dt", DateType), StructField("ts", TimestampType),
      StructField("i", IntegerType)))
    assert(VerifyCore.unhashableColumns(good).isEmpty)
  }

  test("no registered query emits a column the driver's hash gate cannot compare") {
    // round-6 lesson: q253 (the registry's only decimal output) and q207
    // (its only array output) were VALUE-correct yet non-green — the
    // driver's pandas hasher can't equate decimal128 with HUGEINT and
    // crashes sorting ndarray cells. This sweep makes the whole class of
    // failure impossible to reintroduce.
    val offenders = graft.queries.Registry.all.flatMap { qr =>
      VerifyCore.unhashableColumns(qr.run(spark, sfDir).schema)
        .map(c => s"${qr.name} -> $c")
    }
    // schema-building registers each query's persist() frames in the
    // CacheManager (never materialized here); drop the bookkeeping
    spark.catalog.clearCache()
    assert(offenders.isEmpty,
      s"unhashable output columns (flatten to scalars or cast):\n  " +
        offenders.mkString("\n  "))
  }
}

/** Pins the schema [[Lake]] exposes for every driver table — the normalized
  * contract downstream queries compile against, independent of the parquet
  * encoding the generator happened to use. If the driver regenerates
  * testdata with a new encoding (long nanos, TIMESTAMP_NTZ, tz'd micros…),
  * this suite fails at the Lake layer with the drifted column named. */
class LakeSpec extends SparkTestBase {
  import java.nio.file.{Files, Path}
  import java.util.concurrent.ConcurrentLinkedQueue
  import scala.jdk.CollectionConverters._
  import org.apache.spark.graft.ListenerShim
  import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
  import graft.runner.AmtPipeline

  private def lake = Lake(spark, sfDir)

  /** The job group of every Spark job `body` starts, the listener bus
    * drained before and after. */
  private def jobGroupsOf[A](body: => A): (A, Seq[String]) = {
    val groups = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = groups.add(
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    ListenerShim.waitUntilListenerBusEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val a = body
      ListenerShim.waitUntilListenerBusEmpty(spark.sparkContext)
      (a, groups.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** A silver tree with grading periods for `years` and nothing else:
    * contactPersonDim builds from it as an empty frame. */
  private def silver(years: String*): Path = {
    val root = Files.createTempDirectory("lake-silver")
    years.foreach { y =>
      Seq(
        "gradingPeriods" -> s"""[
          {"schoolReference": {"schoolId": 1}, "schoolYearTypeReference": {"schoolYear": $y},
           "gradingPeriodDescriptor": "uri://ed-fi.org/GradingPeriodDescriptor#First",
           "beginDate": "2021-08-23", "endDate": "2021-10-01",
           "totalInstructionalDays": 29, "periodSequence": 1}]""",
        "gradingPeriodDescriptors" -> """[
          {"gradingPeriodDescriptorId": 1, "codeValue": "First", "description": "First",
           "namespace": "uri://ed-fi.org/GradingPeriodDescriptor", "shortDescription": "First"}]""")
        .foreach { case (ep, json) =>
          val d = root.resolve(y).resolve(ep)
          Files.createDirectories(d)
          Files.writeString(d.resolve(s"${ep}_1.json"), json)
        }
    }
    root
  }

  private val goldViews = Seq("gradingPeriodDim", "mostRecentGradingPeriod", "contactPersonDim")

  /** `Lake.open` and plain `spark.read.parquet` give the same schema and
    * the same rows. */
  private def assertSameAsInference(path: String): DataFrame = {
    val opened = Lake.open(spark, path)
    val inferred = spark.read.parquet(path)
    assert(opened.schema === inferred.schema, s"schema differs for $path")
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(opened) === rows(inferred), s"rows differ for $path")
    opened
  }

  private def assertSchema(df: DataFrame, expected: Seq[(String, DataType)], table: String): Unit = {
    val actual = df.schema.map(f => f.name -> f.dataType)
    assert(actual === expected, s"normalized schema drift in table '$table'")
  }

  test("events.ts is TimestampType regardless of parquet encoding") {
    // the round-5 regression: NTZ passed through and unix_micros() failed
    assert(lake.events.schema("ts").dataType === TimestampType,
      "Lake.events must normalize ts to TIMESTAMP — micro-arithmetic " +
        "(sessionization, as-of/range joins, funnel, SCD2) depends on it")
  }

  test("events normalized schema") {
    assertSchema(lake.events, Seq(
      "event_id" -> LongType, "ts" -> TimestampType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType),
      "events")
  }

  test("documents normalized schema") {
    assertSchema(lake.documents, Seq(
      "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType), "documents")
  }

  test("embeddings normalized schema") {
    assertSchema(lake.embeddings, Seq(
      "vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
      "label" -> IntegerType), "embeddings")
  }

  test("relational tables normalized schema") {
    assertSchema(lake.region, Seq(
      "r_regionkey" -> IntegerType, "r_name" -> StringType), "region")
    assertSchema(lake.nation, Seq(
      "n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType), "nation")
    assertSchema(lake.customer, Seq(
      "c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType), "customer")
    assertSchema(lake.supplier, Seq(
      "s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType), "supplier")
    assertSchema(lake.part, Seq(
      "p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType), "part")
    assertSchema(lake.orders, Seq(
      "o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
      "orders")
    assertSchema(lake.lineitem, Seq(
      "l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampType), "lineitem")
  }

  test("Lake.open: gold views from writeViews, empty view included, read as inference reads them") {
    val gold = Files.createTempDirectory("lake-gold").toString
    new AmtPipeline(spark, silver("2022").toString, "2022").writeViews(goldViews, gold)
    goldViews.foreach(v => assertSameAsInference(s"$gold/2022/$v.parquet"))
    assert(Lake.open(spark, s"$gold/2022/gradingPeriodDim.parquet").count() == 1)
    // the view written from an empty frame keeps its full schema
    val empty = Lake.open(spark, s"$gold/2022/contactPersonDim.parquet")
    assert(empty.count() == 0)
    assert(empty.columns.toSeq === graft.views.base.ContactPersonDim.outputColumns)
  }

  test("Lake.open: TIMESTAMP_NTZ and nanos testdata tables read as inference reads them") {
    Seq("events", "orders", "lineitem", "embeddings")
      .foreach(t => assertSameAsInference(s"$sfDir/$t.parquet"))
  }

  test("Lake.open: a year-partitioned table recovers schoolYear and still prunes partitions") {
    val gold = Files.createTempDirectory("lake-gold-py").toString
    val tree = silver("2022", "2023").toString
    Seq("2022", "2023").foreach(y => new AmtPipeline(spark, tree, y)
      .writeViews(Seq("gradingPeriodDim"), gold, partitionedByYear = true))
    val table = assertSameAsInference(s"$gold/gradingPeriodDim.parquet")
    assert(table.columns.last == "schoolYear")
    val filtered = table.filter(col("schoolYear") === 2022)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters:") && plan.contains("schoolYear"),
      s"no partition pruning on schoolYear in:\n$plan")
    assert(filtered.count() == 1)
  }

  test("Lake.open: opening a table starts no Spark job; the first action does") {
    val gold = Files.createTempDirectory("lake-gold-jobs").toString
    new AmtPipeline(spark, silver("2022").toString, "2022").writeViews(goldViews.take(1), gold)
    val sc = spark.sparkContext
    sc.setJobGroup("lakespec-open", "lakespec-open", false)
    try {
      val (df, opened) = jobGroupsOf {
        Lake(spark, s"$gold/2022").table("gradingPeriodDim")
        Lake.open(spark, s"$sfDir/events.parquet")
      }
      assert(opened.count(_ == "lakespec-open") == 0, s"open started jobs: $opened")
      val (_, acted) = jobGroupsOf(df.count())
      assert(acted.count(_ == "lakespec-open") > 0, "the listener saw no job at all")
    } finally sc.clearJobGroup()
  }

  test("Lake.open: missing and empty paths fail as spark.read.parquet does") {
    val dir = Files.createTempDirectory("lake-missing")
    Seq(dir.resolve("absent.parquet"), Files.createDirectory(dir.resolve("empty.parquet")))
      .map(_.toString).foreach { p =>
        val plain = intercept[Throwable](spark.read.parquet(p))
        val opened = intercept[Throwable](Lake.open(spark, p))
        assert(opened.getClass == plain.getClass, s"$p: ${opened.getMessage}")
      }
  }

  test("writeViews labels every job with its view under the caller's group, then restores it") {
    val gold = Files.createTempDirectory("lake-gold-groups").toString
    val p = new AmtPipeline(spark, silver("2022").toString, "2022")
    val sc = spark.sparkContext
    sc.setJobGroup("lakespec-write", "lakespec-write", false)
    try {
      val (_, groups) = jobGroupsOf(p.writeViews(goldViews, gold))
      val ours = groups.filter(_.startsWith("lakespec-write"))
      assert(ours.nonEmpty)
      ours.foreach(g => assert(goldViews.exists(v => g == s"lakespec-write/$v"), g))
      assert(sc.getLocalProperty("spark.jobGroup.id") == "lakespec-write")
    } finally sc.clearJobGroup()
    val (_, bare) = jobGroupsOf(
      new AmtPipeline(spark, silver("2022").toString, "2022").writeViews(goldViews.take(1), gold))
    assert(bare.nonEmpty && bare.forall(_ == "amt/gradingPeriodDim"), bare)
    assert(sc.getLocalProperty("spark.jobGroup.id") == null)
  }
}
