package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Lake
import graft.ops.DescriptorMap
import graft.queries.Registry

/** Physical-plan regression tests: the properties that matter at 100 TB —
  * scan-level pushdown, broadcast dimension joins, no accidental cartesian
  * products — asserted on the actual executed plans so a refactor that
  * silently loses one fails CI, not the cluster. */
class PlanSpec extends SparkTestBase {
  import testImplicits._

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("parquet file-level bloom filters: written on request, readable, and discriminating") {
    // The point-lookup complement of min/max footers: a needle query on a
    // NON-sorted key gets no help from min/max (every row group spans the
    // domain), but a per-row-group bloom filter skips the group without
    // reading column data — at 100 TB the difference between touching
    // every row group of a 10k-file table and touching ~one. The writer
    // option is per-column; this proves it lands in the footer for the
    // requested column ONLY, and that the written filter actually
    // discriminates present from absent keys.
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val dir = java.nio.file.Files.createTempDirectory("bloomp").resolve("t")
    // multiply-scrambled ids: unsorted, so min/max footers are useless
    spark.range(0, 50000)
      .select(((col("id") * 2654435761L) % 1000003L).as("k"),
        col("id").as("v"))
      .coalesce(1)
      .write
      .option("parquet.bloom.filter.enabled#k", "true")
      .parquet(dir.toString)
    val part = java.nio.file.Files.list(dir).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq.head
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(part),
      spark.sessionState.newHadoopConf()))
    try {
      val block = reader.getFooter.getBlocks.get(0)
      val cols = block.getColumns.asScala.toSeq
      val kCol = cols.find(_.getPath.toDotString == "k").get
      val vCol = cols.find(_.getPath.toDotString == "v").get
      assert(kCol.getBloomFilterOffset >= 0, "bloom filter missing on k")
      assert(vCol.getBloomFilterOffset < 0,
        "bloom filter written on v, which never asked for one")
      val bf = reader.getBloomFilterDataReader(block).readBloomFilter(kCol)
      val present = (0L until 1000L)
        .map(i => (i * 2654435761L) % 1000003L)
      assert(present.forall(k => bf.findHash(bf.hash(k))),
        "a present key must never be filtered (no false negatives)")
      // absent probes: keys outside the residue construction's range
      val absentHits = (1000004L until 1001004L)
        .count(k => bf.findHash(bf.hash(k)))
      assert(absentHits < 100,
        s"bloom filter does not discriminate: $absentHits/1000 absent keys pass")
    } finally reader.close()
  }

  test("tCloseness rides ONE data shuffle: hash(quasi) serves agg, window, and re-agg") {
    val df = Lake(spark, sfDir).customer.select(
      col("c_nationkey"),
      (floor(col("c_acctbal") / lit(2000.0d)) * 2000.0d).cast("long")
        .as("bal_band"),
      col("c_mktsegment"))
    val out = graft.ops.Audit.tCloseness(
      df, Seq("c_nationkey", "bal_band"), "c_mktsegment", 1L, 5L)
    val plan = planOf(out)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    // two hash exchanges total: the explicit repartition(quasi) — which
    // the joint aggregation, the class-size window, and the per-class
    // aggregation ALL reuse (hash(quasi) co-locates the superset keys) —
    // plus the independent global value-distribution aggregate on the
    // sensitive column; orderBy's range exchange is not counted here
    assert(shuffles == 2,
      s"expected TWO hash exchanges in the tCloseness plan, found $shuffles:\n$plan")
  }

  test("parquet scan: filter pushdown and column pruning reach the reader") {
    val df = Lake(spark, sfDir).lineitem
      .filter(col("l_shipdate") > "1995-01-01")
      .select("l_orderkey", "l_shipdate")
    val plan = planOf(df)
    assert(plan.contains("PushedFilters:") &&
      plan.contains("GreaterThan(l_shipdate"), s"no pushed filter in:\n$plan")
    // pruned read schema: only the two projected columns reach the scan
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_shipdate"),
      s"scan not pruned to 2 columns in:\n$plan")
    // the Lake layer's NTZ→TIMESTAMP normalization must not cost pushdown:
    // under the pinned UTC session the cast is order-preserving, and
    // Catalyst unwraps the comparison back onto the NTZ scan column —
    // a typed timestamp predicate lands in PushedFilters, not above a
    // cast-projection
    val ts = Lake(spark, sfDir).orders
      .filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
      .select("o_orderkey", "o_orderdate")
    val tsPlan = planOf(ts)
    assert(tsPlan.contains("LessThan(o_orderdate"),
      s"timestamp predicate not pushed through the NTZ cast in:\n$tsPlan")
  }

  test("descriptor-constant lookup joins are broadcast, never shuffled") {
    val data = Seq(
      ("uri://ed-fi.org/AddressTypeDescriptor#Home", 1),
      ("uri://ed-fi.org/AddressTypeDescriptor#Work", 2)
    ).toDF("addressTypeDescriptor", "x")
    val plan = planOf(DescriptorMap.withConstant(data, "addressTypeDescriptor"))
    assert(plan.contains("BroadcastHashJoin"), s"descriptor join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"descriptor join shuffled:\n$plan")
  }

  test("cluster configurator sizes partitions from input volume, not folklore") {
    import graft.core.GraftSession
    // 100 TB / 200 MiB target → ~477k shuffle partitions (AQE coalesces down)
    assert(GraftSession.clusterShufflePartitions(100.0, 4000) ==
      (100.0 * 1e12 / GraftSession.targetPartitionBytes).toInt)
    assert(GraftSession.clusterShufflePartitions(100.0, 4000) > 400000)
    // small input: the two-waves-per-core floor wins
    assert(GraftSession.clusterShufflePartitions(0.001, 4000) == 8000)
    // builder applies the engine defaults on top (getOrCreate reuses the
    // shared test session and applies runtime confs — capture & restore)
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.files.maxPartitionBytes", "spark.sql.autoBroadcastJoinThreshold")
    val before = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      val s = GraftSession.cluster(
        org.apache.spark.sql.SparkSession.builder(),
        inputTB = 0.0001, executorCores = 2).getOrCreate()
      assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
      assert(s.conf.get("spark.sql.files.maxPartitionBytes") ==
        (256L * 1024 * 1024).toString)
      assert(s.conf.get("spark.sql.autoBroadcastJoinThreshold") ==
        (64L * 1024 * 1024).toString)
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucketed tables join and aggregate with zero exchanges") {
    val wh = java.nio.file.Files.createTempDirectory("bucketed")
    val orders = Lake(spark, sfDir).orders.select("o_orderkey", "o_custkey", "o_totalprice")
    val lines = Lake(spark, sfDir).lineitem.select("l_orderkey", "l_quantity")
      .withColumnRenamed("l_orderkey", "o_orderkey")
    graft.core.Bucketing.writeBucketed(orders, "b_orders", s"$wh/o", 4, Seq("o_orderkey"))
    graft.core.Bucketing.writeBucketed(lines, "b_lines", s"$wh/l", 4, Seq("o_orderkey"))
    try {
      val joined = spark.table("b_orders").join(spark.table("b_lines"), "o_orderkey")
        .groupBy("o_orderkey").agg(sum("l_quantity"))
      val plan = planOf(joined)
      // co-located join AND same-key aggregation: the shuffle was paid at write
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() > 0)
    } finally {
      spark.sql("DROP TABLE b_orders")
      spark.sql("DROP TABLE b_lines")
    }
  }

  test("bucketed incremental dedup: corpus index never re-shuffled, ONE candidate-sized exchange") {
    import graft.ops.Dedup
    val wh = java.nio.file.Files.createTempDirectory("bucketed-dedup")
    // disjoint-id fingerprint frames; % 17 classes guarantee band collisions
    def fp(ids: Seq[Long]) = ids.map { id =>
      val k = id % 17
      (id, (k * 7919L) % 65536L, (k * 104729L) % 65536L,
        (k * 1299709L) % 65536L, (k * 15485863L) % 65536L)
    }.toDF("doc_id", "b0", "b1", "b2", "b3")
    Dedup.writeSimhashIndexBucketed(fp(100L until 400L), "p_bidx", s"$wh/i", 4)
    Dedup.writeSimhashIndexBucketed(fp(0L until 40L), "p_bbat", s"$wh/b", 4)
    val before = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      // broadcast off: at 100 TB neither side fits an executor — the pin
      // must hold for the aligned sort-merge shape, not a broadcast
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val out = Dedup.simhashIncrementalBucketed(spark, "p_bbat", "p_bidx", 3)
      val plan = planOf(out)
      // the band joins are bucket-aligned: NO exchange on the band key —
      // the corpus-sized index is never re-shuffled, the whole point
      assert(!plan.contains("Exchange hashpartitioning(band_"),
        s"bucketed band join still shuffles on the band key:\n$plan")
      // exactly one exchange in the whole plan: the O(candidates) distinct
      val ex = "Exchange".r.findAllIn(plan).size -
        "ReusedExchange".r.findAllIn(plan).size
      assert(ex == 1,
        s"expected ONE candidate-sized exchange, found $ex:\n$plan")
      assert(out.count() > 0) // collisions exist: the joins really ran

      // serving path (plain batch frame → bucketed index): the batch pays
      // exactly ONE materialized band-key shuffle (its explicit
      // repartition to the index's bucket spec, which AQE's stage cache
      // reuses for both new-new sides), the index scan stays bucketed
      // with NO exchange forced above it — the corpus never moves
      val probe = Dedup.probeSimhashIndexBucketed(
        spark, fp(0L until 40L), "p_bidx", 3)
      // collect() runs THIS QueryExecution (count() would build its own),
      // finalizing the adaptive plan so stage reuse is visible
      assert(probe.collect().nonEmpty)
      val pPlan = planOf(probe).split("== Initial Plan ==")(0)
      assert(pPlan.contains("isFinalPlan=true"), s"expected final plan:\n$pPlan")
      val bandLines = pPlan.linesIterator
        .filter(_.contains("Exchange hashpartitioning(band_")).toSeq
      val (reused, materialized) = bandLines.partition(_.contains("ReusedExchange"))
      assert(materialized.size == 1 && reused.size == 2,
        s"serving probe: want 1 materialized + 2 reused band shuffles, " +
          s"got ${materialized.size}+${reused.size}:\n$pPlan")
      assert(!materialized.head.contains("ENSURE_REQUIREMENTS"),
        s"the band shuffle must be the explicit batch repartition, not a " +
          s"join-forced exchange:\n$pPlan")
      assert(pPlan.contains("Bucketed: true"),
        s"index scan lost its bucketed layout:\n$pPlan")

      // the text twin (incrementalMinhashBucketed): band-key exchanges
      // are ONLY the batch's explicit repartition — never forced by the
      // join (that would mean the index moved) — and the corpus shingle
      // store reaches the verify with no exchange forced on it either
      // (broadcast semi-join on the tiny candidate list). cache=false:
      // persists would hide the shape inside InMemoryRelation.
      val sh = Seq((100L, "sA"), (100L, "sB"), (101L, "sB"), (101L, "sC"))
        .toDF("doc_id", "shingle")
      val idxB = Dedup.lshBands(Dedup.minhashSignatures(sh, 16), 4, 4)
      Dedup.writeMinhashIndexBucketed(idxB, "p_mbidx", s"$wh/mi", 4)
      Dedup.writeShingleStoreBucketed(sh, "p_mbsh", s"$wh/ms", 4)
      try {
        val newSh = Seq((0L, "sA"), (0L, "sB"), (1L, "sD"))
          .toDF("doc_id", "shingle")
        val out = Dedup.incrementalMinhashBucketed(
          spark, "p_mbidx", "p_mbsh", newSh, 0.5, cache = false)
        val mPlan = planOf(out)
        val forced = ("Exchange hashpartitioning\\(band_[^\\n]*" +
          "ENSURE_REQUIREMENTS").r.findAllMatchIn(mPlan).size
        assert(forced == 0,
          s"minhash band index re-shuffled by a join:\n$mPlan")
        assert(mPlan.contains("Bucketed: true"),
          s"bucketed scans lost their layout:\n$mPlan")
        out.collect() // the shape executes
      } finally {
        spark.sql("DROP TABLE p_mbidx")
        spark.sql("DROP TABLE p_mbsh")
      }
    } finally {
      before match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
      spark.sql("DROP TABLE p_bidx")
      spark.sql("DROP TABLE p_bbat")
    }
  }

  test("keySkew surfaces the hot key with share and skew ratio") {
    val skewed = ((1 to 900).map(_ => 7L) ++ (1 to 100).map(_.toLong + 100))
      .toDF("k")
    val top = graft.ops.Stats.keySkew(skewed, "k", topN = 3).collect()
    assert(top.head.getAs[String]("key") == "7")
    assert(top.head.getAs[Long]("n") == 900L)
    assert(math.abs(top.head.getAs[Double]("share") - 0.9) < 1e-9)
    // 101 distinct keys, mean load ~9.9 rows → hot key ratio ~90.9
    assert(top.head.getAs[Double]("skew_ratio") > 80)
    assert(top(1).getAs[Long]("n") == 1L)
  }

  test("compaction collapses a many-small-files table without losing rows") {
    val dir = java.nio.file.Files.createTempDirectory("compact").resolve("t")
    val df = Lake(spark, sfDir).orders.select("o_orderkey", "o_totalprice")
    df.repartition(20).write.parquet(dir.toString) // simulate incremental drops
    def parquetFiles = {
      val s = java.nio.file.Files.list(dir)
      try s.filter(_.toString.endsWith(".parquet")).count() finally s.close()
    }
    assert(parquetFiles == 20)
    val before = spark.read.parquet(dir.toString).count()
    graft.core.Compaction.compact(spark, dir.toString, targetMB = 512)
    assert(parquetFiles == 1) // tiny table → single right-sized file
    assert(spark.read.parquet(dir.toString).count() == before)
  }

  test("compactZorder: one rewrite compacts AND clusters — content preserved, footers disjoint") {
    val dir = java.nio.file.Files.createTempDirectory("compactz").resolve("t")
    // a 1024x1024 grid (~a few MB of parquet) scattered over 20
    // unclustered files, so the 1 MB target genuinely splits the rewrite
    val grid = spark.range(0, 1L << 20).select(
      (col("id") % 1024).as("a"), (col("id") / 1024).cast("long").as("b"))
    grid.repartition(20).write.parquet(dir.toString)
    val before = spark.read.parquet(dir.toString).count()
    graft.core.Compaction.compactZorder(
      spark, dir.toString, Seq("a", "b"), targetMB = 1, bits = 10)
    val after = spark.read.parquet(dir.toString)
    assert(after.count() == before)
    assert(after.select(sum(col("a") + col("b") * 1024)).head.getLong(0) ==
      grid.select(sum(col("a") + col("b") * 1024)).head.getLong(0),
      "compactZorder changed row content")
    // the rewrite is z-clustered: per-file b-ranges must NOT all span the
    // full domain (an unclustered rewrite gives every file ~0..1023)
    val stats = after.groupBy(input_file_name().as("f"))
      .agg(min("b").as("bmin"), max("b").as("bmax")).collect()
    assert(stats.length > 1, "fixture too small to split — test is vacuous")
    val fullSpan = stats.count(r =>
      r.getAs[Long]("bmin") <= 127 && r.getAs[Long]("bmax") >= 896)
    assert(fullSpan < stats.length,
      s"all ${stats.length} files span the full b domain — not clustered")
  }

  test("partitioned gold: year filter prunes partitions; dynamic overwrite keeps other years") {
    import java.nio.file.Files
    import graft.runner.AmtPipeline
    val silver = Files.createTempDirectory("silver-py")
    val gpJson = (year: Int) => s"""[
      {"schoolReference": {"schoolId": 1}, "schoolYearTypeReference": {"schoolYear": $year},
       "gradingPeriodDescriptor": "uri://ed-fi.org/GradingPeriodDescriptor#First",
       "beginDate": "2021-08-23", "endDate": "2021-10-01",
       "totalInstructionalDays": 29, "periodSequence": 1}]"""
    val gpdJson = """[
      {"gradingPeriodDescriptorId": 1, "codeValue": "First", "description": "First",
       "namespace": "uri://ed-fi.org/GradingPeriodDescriptor", "shortDescription": "First"}]"""
    Seq("2022", "2023").foreach { y =>
      Seq("gradingPeriods" -> gpJson(y.toInt), "gradingPeriodDescriptors" -> gpdJson)
        .foreach { case (ep, json) =>
          val d = silver.resolve(y).resolve(ep)
          Files.createDirectories(d)
          Files.writeString(d.resolve(s"${ep}_1.json"), json)
        }
    }
    val gold = Files.createTempDirectory("gold-py")
    new AmtPipeline(spark, silver.toString, "2022").writeAll(gold.toString, partitionedByYear = true)
    new AmtPipeline(spark, silver.toString, "2023").writeAll(gold.toString, partitionedByYear = true)
    val table = spark.read.parquet(s"$gold/gradingPeriodDim.parquet")
    // single cross-year table: both years present, year recovered as a
    // partition column (type-inferred to int on read-back)
    assert(table.select(col("schoolYear").cast("string")).distinct().collect()
      .map(_.getString(0)).sorted.toSeq == Seq("2022", "2023"))
    // a year filter must prune at plan time, not scan-and-discard
    val filtered = table.filter(col("schoolYear") === "2022")
    val plan = planOf(filtered)
    assert(plan.contains("PartitionFilters:") && plan.contains("schoolYear"),
      s"no partition pruning on schoolYear in:\n$plan")
    assert(filtered.count() == 1)
    // dynamic partition overwrite: re-running 2022 must not clobber 2023
    new AmtPipeline(spark, silver.toString, "2022").writeAll(gold.toString, partitionedByYear = true)
    assert(spark.read.parquet(s"$gold/gradingPeriodDim.parquet")
      .filter(col("schoolYear") === "2023").count() == 1)
  }

  test("saltedJoin spreads a hot key and matches the plain join exactly") {
    // one hot key (90% of rows) + a small dimension
    val skewed = (1 to 2000).map(i => (if (i % 10 == 0) i.toLong else 7L, i))
      .toDF("k", "payload")
    val dim = Seq((7L, "hot"), (20L, "cold"), (30L, "cold")).toDF("k", "tag")
    val salted = graft.ops.Joins.saltedJoin(skewed, dim, Seq("k"), saltFactor = 8)
      .groupBy("k", "tag").count().orderBy("k")
    val plain = skewed.join(dim, Seq("k")).groupBy("k", "tag").count().orderBy("k")
    assert(salted.collect().toSeq == plain.collect().toSeq)
  }

  test("scrub and mix-planning plans: q58 never hash-shuffles, q60 broadcasts its 1-row totals") {
    // q58 is scan → regex → project: the only exchange allowed is the
    // final orderBy's range partitioning — a hash shuffle would mean the
    // scrub pass stopped being a pure map over the corpus
    val plan58 = planOf(Registry.byName("q58_pii_redaction").run(spark, sfDir))
    assert(!plan58.contains("Exchange hashpartitioning"),
      s"PII scrub gained a shuffle:\n$plan58")
    // q60's totals and scale are 1-row aggregates joined back by broadcast
    // (the Stats pattern) — a sort-merge join here would shuffle the
    // stratum frame twice for two scalar numbers
    val plan60 = planOf(Registry.byName("q60_mix_weights").run(spark, sfDir))
    assert(plan60.contains("BroadcastNestedLoopJoin"),
      s"mix-weight totals not broadcast:\n$plan60")
    assert(!plan60.contains("SortMergeJoin"), s"mix-weight join shuffled:\n$plan60")
  }

  test("top-k windows compile to WindowGroupLimit, not a full per-partition sort") {
    // rank<=k filters push a group limit into the window operator
    // (Spark's WindowGroupLimit) — the reason an explicit top-k physical
    // operator is NOT needed in this engine.
    val plan = planOf(Registry.byName("q35_ann_bruteforce").run(spark, sfDir))
    assert(plan.contains("WindowGroupLimit"), s"no group-limit pushdown:\n$plan")
    // the exact-n stratified sampler rides the same mechanism: no stratum
    // is ever fully sorted to take its top-n
    val plan62 = planOf(Registry.byName("q62_sampling_exact_n").run(spark, sfDir))
    assert(plan62.contains("WindowGroupLimit"), s"stratified sampler sorts fully:\n$plan62")
  }

  test("EWS spine joins on (schoolId, schoolYear) and splits a hot school by year") {
    import org.apache.spark.sql.Row
    import graft.core.EndpointCatalog
    import graft.views.ViewContext

    // hot-school fixture: 90% of enrollments at school 7, spread over two
    // school years; each year has its own 10-day instructional calendar
    val enrRows = (1 to 200).map { i =>
      val school = if (i <= 180) 7L else (i - 180) % 5 + 1
      val year = if (i % 2 == 0) 1995L else 1996L
      (school, year, i.toString, s"$year-01-01")
    }
    val ssa = enrRows.toDF("schoolId", "schoolYear", "sid", "entry").select(
      struct($"schoolId").as("schoolReference"),
      struct($"schoolYear").as("schoolYearTypeReference"),
      struct($"sid".as("studentUniqueId")).as("studentReference"),
      $"entry".as("entryDate"),
      lit(null).cast("string").as("exitWithdrawDate"))
    val cal = (for {
      school <- (1L to 10L); year <- Seq(1995L, 1996L); day <- 1 to 10
    } yield (school, year, f"$year-01-$day%02d"))
      .toDF("schoolId", "schoolYear", "date").select(
        struct($"schoolId", $"schoolYear").as("calendarReference"),
        $"date",
        array(struct(
          lit("uri://ed-fi.org/CalendarEventDescriptor#Instructional day")
            .as("calendarEventDescriptor"))).as("calendarEvents"))

    val endpoints = Map("studentSchoolAssociations" -> ssa, "calendarDates" -> cal)
    lazy val ctx: ViewContext = ViewContext(
      spark,
      endpoint = n => endpoints.getOrElse(n, spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], EndpointCatalog.schema(n))),
      view = n => graft.runner.AmtRegistry.byName(n).build(ctx))

    val fact = graft.views.ews.StudentEarlyWarningFact.build(ctx)
    // year-matched pairing: each enrollment × its own year's 10 days only
    // (a bare-schoolId key would also pair 1995 enrollments with 1996 days)
    assert(fact.count() == 200L * 10)

    // the spine join carries BOTH key columns in the physical plan
    val plan = planOf(fact)
    val keyed = raw"(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin) \[schoolId#\d+L?, schoolYear#\d+L?\]".r
    assert(keyed.findFirstIn(plan).isDefined,
      s"spine join not keyed on (schoolId, schoolYear):\n$plan")

    // and the composite key halves the hot school's shuffle share
    val enr = enrRows.toDF("schoolId", "schoolYear", "sid", "entry")
    val bare = graft.ops.Stats.keySkew(enr, "schoolId", topN = 1)
      .collect().head.getAs[Double]("share")
    val composite = graft.ops.Stats.keySkew(
      enr.withColumn("k", concat_ws("|", $"schoolId", $"schoolYear")), "k", topN = 1)
      .collect().head.getAs[Double]("share")
    assert(math.abs(bare - 0.9) < 0.01)
    assert(composite < bare / 2 + 0.01, s"composite share $composite vs bare $bare")
  }

  test("AQE splits a skewed shuffle-join partition at runtime (skew=true)") {
    // the runtime half of the skew story: the (schoolId, schoolYear) spine
    // key and saltedJoin are the plan-shape levers, AQE's skew-join split
    // is the backstop — prove it actually engages on a hot key
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val before = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // per-row varying payload: skew detection reads COMPRESSED shuffle
      // sizes, so a constant pad would vanish under lz4 and mask the skew
      def pad(i: Int) = java.util.UUID.nameUUIDFromBytes(
        BigInt(i).toByteArray).toString * 3
      val skewed = (1 to 50000)
        .map(i => (if (i % 50 == 0) i.toLong else 7L, pad(i)))
        .toDF("k", "payload")
      val dim = (1L to 60000L).map(i => (i, i * 2)).toDF("k", "v")
      val joined = skewed.join(dim, Seq("k"))
      // run THIS dataframe's own plan (count() would execute a different,
      // aggregated query and leave this one un-finalized)
      assert(joined.collect().length == 50000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"AQE did not split the hot partition:\n$plan")
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucketed postings serve term lookups with no postings-side exchange") {
    // the Index scaladoc's serving claim, proven: postings written
    // bucketed by term are read back and joined/aggregated on term
    // without re-shuffling the postings side — the retrieval layer's
    // per-query cost at 100 TB is a bucket-pruned read, not a shuffle
    val wh = java.nio.file.Files.createTempDirectory("postings")
    val postings = graft.ops.Index.postings(
      Lake(spark, sfDir).documents, "doc_id", "text")
    graft.core.Bucketing.writeBucketed(
      postings, "b_postings", s"$wh/p", 4, Seq("term"))
    try {
      val dfAgg = spark.table("b_postings")
        .groupBy("term").agg(count(lit(1)).as("df"), sum("tf").as("cf"))
      val plan = planOf(dfAgg)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed postings aggregation still shuffles:\n$plan")
      assert(dfAgg.count() > 0)
    } finally spark.sql("DROP TABLE b_postings")
  }

  test("bm25 broadcasts the query table; shard export never range-shuffles") {
    val docs = Lake(spark, sfDir).documents
    val queries = Seq(("q", "spark"), ("q", "join")).toDF("query_id", "term")
    // eager=false: the audit needs the LAZY plan (the default eagerly
    // checkpoints, which replaces the plan with a Scan of the result)
    val bm = graft.ops.Index.bm25TopK(docs, "doc_id", "text", queries, k = 5,
      eager = false)
    val plan = planOf(bm)
    // the tiny query table must never shuffle the postings side
    assert(plan.contains("BroadcastHashJoin"), s"query table not broadcast:\n$plan")
    // top-k per query is a group-limit heap, not a full per-query sort
    assert(plan.contains("WindowGroupLimit"), s"bm25 top-k sorts fully:\n$plan")

    // the epoch shuffle is hash-partitioned by shard; a rangepartitioning
    // exchange would mean a global sort snuck in (the thing shardExport
    // exists to avoid)
    val sh = graft.ops.Packing.shardExport(docs, "doc_id", nShards = 8)
    val plan2 = planOf(sh)
    assert(!plan2.toLowerCase.contains("rangepartitioning"),
      s"shardExport plans a global range sort:\n$plan2")

    // weighted sampling is a pure filter: no exchange of any kind — it
    // must push below anything stateless and compose with the scan
    val ws = graft.ops.Sampling.weightedSample(
      docs.withColumn("w", length(col("text")) / lit(1000.0)), "doc_id", "w")
    val plan3 = planOf(ws)
    assert(!plan3.contains("Exchange"),
      s"weightedSample should be shuffle-free:\n$plan3")

    // media triage is one partition-wise pass: scan-speed, no shuffle —
    // the census claim for the 100 TB first pass, as a plan property
    val tri = graft.ops.Multimodal.mediaTriage(
      docs.select(col("doc_id"), col("text").cast("binary").as("media")),
      "doc_id", "media")
    val plan4 = planOf(tri.toDF())
    assert(!plan4.contains("Exchange"),
      s"mediaTriage should be shuffle-free:\n$plan4")
  }

  test("link extraction and URL canonicalization are shuffle-free; hostEdges shuffles once") {
    import graft.ops.WebGraph
    val pages = Lake(spark, sfDir).documents
      .select(col("source").as("src_host"),
        concat(lit("<a href=\"http://x.ex/"), col("doc_id"), lit("\">l</a>")).as("html"))
    // the per-page stages are pure expressions: scan-speed over crawl data
    val exprOnly = pages.select(
      WebGraph.extractLinks(col("html")).as("links"),
      WebGraph.canonicalizeUrl(concat(lit("HTTP://A.EX:80/p?utm_a=1&id="),
        col("src_host"))).as("canon"))
    val plan = planOf(exprOnly)
    assert(!plan.contains("Exchange"),
      s"extraction/canonicalization should be shuffle-free:\n$plan")
    // the edge aggregate is the ONE shuffle of the link-graph build
    val plan2 = planOf(WebGraph.hostEdges(pages, col("src_host"), col("html")))
    val n = "Exchange hashpartitioning".r.findAllMatchIn(plan2).size
    assert(n == 1, s"hostEdges should shuffle exactly once, found $n:\n$plan2")

    // the politeness schedule is a host-partitioned window: hash
    // exchange, never a rangepartitioning (that would mean a global
    // frontier sort snuck in)
    val sched = WebGraph.fetchSchedule(
      Lake(spark, sfDir).documents.select(
        col("source").as("host"), col("text").as("url"),
        col("doc_id").as("ts_s")),
      "host", "ts_s", "url")
    val plan3 = planOf(sched)
    assert(!plan3.toLowerCase.contains("rangepartitioning"),
      s"fetchSchedule plans a global sort:\n$plan3")
    assert(plan3.contains("Exchange hashpartitioning"),
      s"fetchSchedule should hash-partition by host:\n$plan3")
  }

  test("behavioral family: the event-sized work rides ONE hash(user) exchange") {
    import graft.ops.{Behavior, Snapshot}
    val events = Lake(spark, sfDir).events
    def userExchanges(plan: String): Int =
      "Exchange hashpartitioning\\(user_id".r.findAllMatchIn(plan).size

    // funnel: k chained window-mins + per-user agg share one partitioning
    val funnelPlan = planOf(Behavior.funnelUserTimes(
      events, "user_id", "ts", "event_type", Seq("view", "click", "purchase")))
    assert(userExchanges(funnelPlan) == 1,
      s"funnel should shuffle events on user exactly once:\n$funnelPlan")

    // scd2: lag + running sum + island agg + lead ALL reuse hash(user) —
    // the whole history build is a single exchange end to end
    val scd2Plan = planOf(Snapshot.scd2(events, "user_id", "ts", "event_id", "event_type"))
    assert(userExchanges(scd2Plan) == 1 &&
      "Exchange".r.findAllMatchIn(scd2Plan).size == 1,
      s"scd2 should plan exactly one exchange (hash(user)):\n$scd2Plan")

    // transitions/retention: one event-sized user shuffle; the second
    // exchange moves only k² cells / per-user-week rows, and nothing
    // plans a global sort
    for ((name, df) <- Seq(
        "transitions" -> Behavior.transitions(events, "user_id", "ts", "event_id", "event_type"),
        "retention" -> Behavior.retention(events, "user_id", "ts"))) {
      val plan = planOf(df)
      assert(userExchanges(plan) == 1,
        s"$name should shuffle events on user exactly once:\n$plan")
      assert(!plan.toLowerCase.contains("rangepartitioning"),
        s"$name plans a global sort:\n$plan")
    }
  }

  test("z-order layout: file min/max prune box queries on BOTH dimensions") {
    import graft.ops.Layout
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    graft.core.SilverWriter.deleteOnExit(dir)
    // a 64x64 grid; 16 files of ~256 rows each
    val grid = spark.range(0, 4096).select(
      (col("id") % 64).as("a"), (col("id") / 64).cast("long").as("b"))
    Layout.zorderWrite(grid, s"$dir/z", Seq(col("a"), col("b")),
      bits = 6, targetFiles = 16)
    // the single-column alternative: perfectly sorted by a alone
    grid.repartitionByRange(16, col("a")).sortWithinPartitions("a")
      .write.mode("overwrite").parquet(s"$dir/bya")

    def fileStats(path: String) = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min("a").as("amin"), max("a").as("amax"),
        min("b").as("bmin"), max("b").as("bmax"))
      .collect()
    val z = fileStats(s"$dir/z")
    val byA = fileStats(s"$dir/bya")
    assert(z.length == 16 && byA.length == 16)

    // a b-only box (b <= 7): the a-sorted layout cannot skip ANY file —
    // every file spans the full b range — while the z-ordered layout
    // confines it to the bottom quadrant row
    def touchesB(rows: Array[org.apache.spark.sql.Row]) =
      rows.count(_.getAs[Long]("bmin") <= 7)
    assert(touchesB(byA) == 16,
      s"a-sorted layout should be useless for b predicates: ${touchesB(byA)}")
    assert(touchesB(z) <= 6,
      s"z-order should confine a b-box to a few files, touched ${touchesB(z)}/16")
    // and the same layout still serves a-only boxes (a <= 7)
    val touchesA = z.count(_.getAs[Long]("amin") <= 7)
    assert(touchesA <= 6,
      s"z-order should also confine an a-box, touched $touchesA/16")
  }

  test("rollup lattice: ONE Expand + one aggregate pass, not k separate scans") {
    import graft.ops.MultiDim
    val plan = planOf(MultiDim.rollupAgg(
      Lake(spark, sfDir).orders, Seq("o_orderstatus", "o_orderpriority"),
      Seq(sum(col("o_totalprice").cast("decimal(38,2)")).as("rev"),
        count(lit(1)).as("n"))))
    assert("Expand".r.findAllIn(plan).size == 1,
      s"subtotal lattice must be one Expand, got:\n$plan")
    // one partial+final aggregate pair over the expanded rows — the whole
    // hierarchy costs one shuffle of (k+1)x rows, never k+1 scans
    assert("FileScan".r.findAllIn(plan).size == 1,
      s"rollup must scan the source once:\n$plan")
  }

  test("interval coverage and sigma outliers ride ONE exchange of the input") {
    import graft.ops.{Intervals, Stats}
    val iv = Seq(("u", 1L, 3L), ("u", 5L, 9L), ("v", 2L, 4L)).toDF("k", "s", "e")
    val ivPlan = planOf(Intervals.coverage(iv, Seq("k"), "s", "e"))
    // two windows + per-block groupBy + per-key groupBy all satisfy their
    // distribution from the first hash(k) exchange
    val ivEx = "Exchange".r.findAllIn(ivPlan).size -
      "ReusedExchange".r.findAllIn(ivPlan).size
    assert(ivEx == 1, s"coverage should shuffle once, got $ivEx:\n$ivPlan")
    val sg = Seq(("g", 5L), ("g", 9L), ("h", 2L)).toDF("g", "v")
    val sgPlan = planOf(Stats.sigmaOutliers(sg, Seq("g"), "v", 3))
    val sgEx = "Exchange".r.findAllIn(sgPlan).size -
      "ReusedExchange".r.findAllIn(sgPlan).size
    assert(sgEx == 1, s"sigmaOutliers should shuffle once, got $sgEx:\n$sgPlan")
    // the robust twin stacks two window sorts (value, then deviation) on
    // the SAME hash(group) exchange — sorts are per-partition, free of
    // further shuffles
    val rbPlan = planOf(Stats.robustOutliers(
      sg.toDF("g", "v").withColumn("v", col("v").cast("double")),
      Seq("g"), "v", 3.0))
    val rbEx = "Exchange".r.findAllIn(rbPlan).size -
      "ReusedExchange".r.findAllIn(rbPlan).size
    assert(rbEx == 1, s"robustOutliers should shuffle once, got $rbEx:\n$rbPlan")
  }

  test("incremental gold refresh: corpus sides cross ZERO shuffle exchanges") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
    import graft.ops.IncrementalGold
    import graft.views.ViewContext

    // parquet-backed corpus (endpoint snapshot + old gold) so the pin sees
    // real FileSourceScans; the delta is 50 rows against 20k
    val wh = java.nio.file.Files.createTempDirectory("incr-gold").toString
    def schoolsFrame(ids: DataFrame): DataFrame = ids.select(
      col("id").cast("string").as("id"),
      col("id").cast("long").as("schoolId"),
      concat(lit("S"), col("id")).as("nameOfInstitution"),
      lit("uri://ed-fi.org/SchoolTypeDescriptor#Regular").as("schoolTypeDescriptor"),
      struct(lit(1L).as("localEducationAgencyId")).as("localEducationAgencyReference"),
      array(struct(
        lit("uri://ed-fi.org/AddressTypeDescriptor#Physical").as("addressTypeDescriptor"),
        lit("uri://ed-fi.org/StateAbbreviationDescriptor#TX").as("stateAbbreviationDescriptor"),
        lit("1 Main St").as("streetNumberName"),
        lit("Metro").as("city"),
        lit("Central").as("nameOfCounty"))).as("addresses"))
    val lea = Seq((1L, "LEA")).toDF("localEducationAgencyId", "nameOfInstitution")
      .withColumn("educationServiceCenterReference",
        struct(lit(null).cast("long").as("educationServiceCenterId")))
    schoolsFrame(spark.range(0, 20000).toDF("id")).write.parquet(s"$wh/schools")
    val snapshot = spark.read.parquet(s"$wh/schools")
    val ctx = ViewContext(spark,
      endpoint = n => if (n == "schools") snapshot else if (n == "localEducationAgencies") lea
        else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          graft.core.EndpointCatalog.schema(n)),
      view = n => fail(s"unexpected view dep: $n"))
    graft.views.base.SchoolDim.build(ctx).write.parquet(s"$wh/gold")
    val oldGold = spark.read.parquet(s"$wh/gold")

    val upserts = schoolsFrame(spark.range(0, 50).toDF("id"))
      .withColumn("nameOfInstitution", concat(col("nameOfInstitution"), lit("!")))
    val delIds = spark.range(100, 130).select(col("id").cast("string").as("id"))
    val newSchools = IncrementalGold.applyCdc(
      snapshot, IncrementalGold.CdcBatch(upserts, delIds))
    val affected = IncrementalGold
      .affectedScopes(Seq((upserts, (df: DataFrame) => df("schoolId"))), spark)
      .unionByName(IncrementalGold.deleteScopes(snapshot, delIds, df => df("schoolId")))
      .distinct()
    val merged = IncrementalGold.refreshView(
      IncrementalGold.schoolDimScope, oldGold,
      newEndpoint = n => if (n == "schools") newSchools else if (n == "localEducationAgencies") lea
        else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          graft.core.EndpointCatalog.schema(n)),
      affected = affected)

    // second input, the multi-endpoint shape: the EWS fact with TWO scoped
    // parquet corpora (enrollment spine + attendance events) and the
    // calendar as a shared dimension; the delta is new attendance for 3
    // students and 2 enrollment deletes against 2000 students
    def ssaRows(ids: DataFrame): DataFrame = ids.select(
      col("id").cast("string").as("id"),
      struct((col("id") % 5).as("schoolId")).as("schoolReference"),
      struct(lit(1995L).as("schoolYear")).as("schoolYearTypeReference"),
      struct(col("id").cast("string").as("studentUniqueId")).as("studentReference"),
      lit("1995-01-05").as("entryDate"),
      lit(null).cast("string").as("exitWithdrawDate"))
    def attRows(ids: DataFrame, gen: String): DataFrame = ids.select(
      concat(lit(gen), col("id").cast("string")).as("id"),
      struct((col("id") % 5).as("schoolId")).as("schoolReference"),
      struct(col("id").cast("string").as("studentUniqueId")).as("studentReference"),
      lit("1995-01-10").as("eventDate"),
      lit("uri://ed-fi.org/AttendanceEventCategoryDescriptor#Tardy")
        .as("attendanceEventCategoryDescriptor"))
    val cal = spark.range(0, 5).select(
      struct(col("id").as("schoolId"), lit(1995L).as("schoolYear"))
        .as("calendarReference"),
      lit("1995-01-10").as("date"),
      array(struct(lit("uri://ed-fi.org/CalendarEventDescriptor#Instructional day")
        .as("calendarEventDescriptor"))).as("calendarEvents"))
    ssaRows(spark.range(0, 2000).toDF("id")).write.parquet(s"$wh/ssa")
    attRows(spark.range(0, 2000).toDF("id"), "a-").write.parquet(s"$wh/att")
    val ssa = spark.read.parquet(s"$wh/ssa")
    val att = spark.read.parquet(s"$wh/att")
    def ewsEndpoints(ssaDf: DataFrame, attDf: DataFrame): String => DataFrame = {
      case "studentSchoolAssociations" => ssaDf
      case "studentSchoolAttendanceEvents" => attDf
      case "calendarDates" => cal
      case n => spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        graft.core.EndpointCatalog.schema(n))
    }
    val ews = IncrementalGold.ewsFactScope
    ews.view.build(ViewContext(spark, endpoint = ewsEndpoints(ssa, att),
      view = n => fail(s"unexpected view dep: $n"))).write.parquet(s"$wh/ews_gold")
    val ssaBatch = IncrementalGold.CdcBatch(ssa.limit(0),
      spark.range(100, 102).select(col("id").cast("string").as("id")))
    val attBatch = IncrementalGold.CdcBatch(
      attRows(spark.range(0, 3).toDF("id"), "b-"), att.select(col("id")).limit(0))
    val ewsPost = ewsEndpoints(
      IncrementalGold.applyCdc(ssa, ssaBatch), IncrementalGold.applyCdc(att, attBatch))
    val studentOf = ews.scopedEndpoints("studentSchoolAssociations")
    val ewsMerged = IncrementalGold.refreshView(
      ews, spark.read.parquet(s"$wh/ews_gold"), ewsPost,
      IncrementalGold.batchScopes(ssa, ssaBatch, studentOf)
        .unionByName(IncrementalGold.batchScopes(att, attBatch, studentOf)))

    // AQE off for this assertion: the structural walk needs a plain tree
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plan = merged.queryExecution.executedPlan
      def corpusScans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
        case f: FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains(wh)) => f
      }
      // both corpus scans are present (snapshot feeds the scoped rebuild,
      // old gold feeds the merge) ...
      assert(corpusScans(plan).size >= 2, s"corpus scans missing:\n$plan")
      // ... and NO exchange moves a corpus-sized stream. A subtree is
      // corpus-sized iff a corpus scan reaches its root without passing
      // a broadcast LEFT SEMI join (the delta-key scope/id filters cut
      // the stream to delta size there; LEFT ANTI keeps corpus size and
      // must stay terminal). The affected-scope distinct may shuffle —
      // it sits above a semi-join and is delta-sized by construction.
      def corpusSized(p: SparkPlan): Boolean = p match {
        case f: FileSourceScanExec =>
          f.relation.location.rootPaths.exists(_.toString.contains(wh))
        case b: BroadcastHashJoinExec if b.joinType.sql == "LEFT SEMI" => false
        case other => other.children.exists(corpusSized)
      }
      val shuffledCorpus = plan.collect {
        case e: ShuffleExchangeExec if corpusSized(e.child) => e
      }
      assert(shuffledCorpus.isEmpty,
        s"corpus-sized exchange in the incremental refresh:\n$plan")
      // the merge itself is the broadcast anti-join, the scope filters are
      // broadcast semi-joins
      val bhj = plan.collect { case b: BroadcastHashJoinExec => b }
      assert(bhj.exists(_.joinType.sql == "LEFT ANTI") &&
        bhj.exists(_.joinType.sql == "LEFT SEMI"),
        s"expected broadcast anti (merge/CDC) + semi (scope) joins:\n$plan")

      // correctness spot-check on top of the q340/q341 hash gates: the
      // rename landed, the deletes vanished, untouched rows intact
      val out = merged.collect()
      assert(out.length == 20000 - 30)
      val byKey = out.map(r => r.getString(0) -> r.getString(1)).toMap
      assert(byKey("7") == "S7!")
      assert(byKey("777") == "S777")
      assert(!byKey.contains("105"))

      // the EWS refresh: both scoped-endpoint corpora and the old gold are
      // scanned, and every operator a corpus-sized stream passes is a
      // broadcast LEFT ANTI join until a broadcast LEFT SEMI join cuts it
      // to delta size — no exchange (shuffle or broadcast) and no other
      // join ever carries a corpus
      val ewsPlan = ewsMerged.queryExecution.executedPlan
      Seq("ssa", "att", "ews_gold").foreach { d =>
        assert(ewsPlan.collect {
          case f: FileSourceScanExec
              if f.relation.location.rootPaths.exists(_.toString.contains(s"$wh/$d")) => f
        }.nonEmpty, s"$d corpus scan missing from the EWS refresh:\n$ewsPlan")
      }
      val offenders = ewsPlan.collect {
        case e: Exchange if corpusSized(e) => e
        case j: BaseJoinExec if corpusSized(j) && !(j.isInstanceOf[BroadcastHashJoinExec] &&
            j.joinType.sql == "LEFT ANTI") => j
      }
      assert(offenders.isEmpty,
        s"corpus-sized stream meets an exchange or a non-anti join:\n" +
          s"${offenders.map(_.nodeName).mkString(", ")}\n$ewsPlan")

      // value law: the two-endpoint refresh ≡ full recompute over post-CDC state
      val want = ews.view.build(ViewContext(spark, endpoint = ewsPost,
        view = n => fail(s"unexpected view dep: $n")))
      assert(ewsMerged.collect().map(_.toSeq).toSet == want.collect().map(_.toSeq).toSet,
        "EWS incremental refresh diverged from full recompute")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("media catalog: exchange-free routing and census; probe pays ONE batch-sized exchange") {
    import graft.ops.{MediaCatalog, Multimodal}
    val wh = java.nio.file.Files.createTempDirectory("media-catalog").toString
    def blobs(ids: Seq[Long]): DataFrame = ids.map { id =>
      val k = id % 40
      val img = Multimodal.DecodedImage(8, 6,
        Array.tabulate(8 * 6 * 3)(i => ((k * 7 + i) % 256).toByte))
      (id, Multimodal.encodeBmp(img))
    }.toDF("doc_id", "media")
    MediaCatalog.writeTriageCatalog(
      blobs(0L until 200L), "doc_id", "media", "p_mc_cat", s"$wh/t", 4)
    graft.core.Bucketing.writeBucketed(
      spark.range(0, 220).select(col("id").as("doc_id"),
        (col("id") % 97).as("n_ref")),
      "p_mc_blobs", s"$wh/b", 4, Seq("doc_id"))
    MediaCatalog.writeHashCatalog(
      blobs(0L until 200L), "doc_id", "media", "p_mc_hash", s"$wh/h", 4)
    val thresh = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      // broadcast off: at 100 TB neither catalog nor blob table fits an
      // executor — the pins must hold for the aligned sort-merge shape
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

      // routing: blob ⋈ triage catalog, both bucketed on doc_id at the
      // same count — zero exchanges; the LEFT join keeps uncataloged
      // blobs and quarantines them (ADVICE r10) instead of dropping them
      val routed = MediaCatalog.routeFromCatalog(spark, "p_mc_blobs", "p_mc_cat")
      val rPlan = planOf(routed)
      assert(!rPlan.contains("Exchange hashpartitioning"),
        s"bucket-aligned routing join still shuffles:\n$rPlan")
      val byRoute = routed.groupBy("route").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(routed.count() == 220, "left routing join dropped blobs")
      assert(byRoute.getOrElse("quarantine", 0L) >= 20,
        s"uncataloged blobs must surface as quarantine: $byRoute")
      assert(byRoute.getOrElse("image", 0L) == 200L, s"got $byRoute")

      // census: groupBy(ahash) over the ahash-bucketed catalog — the
      // scan's partitioning satisfies the aggregation, zero exchanges
      val census = MediaCatalog.hashCensus(spark, "p_mc_hash")
      val cPlan = planOf(census)
      assert(!cPlan.contains("Exchange hashpartitioning"),
        s"census over the bucketed catalog still shuffles:\n$cPlan")
      assert(census.count() > 0)

      // probe (r12 shape): the batch's distinct ahashes are pushed into
      // the catalog scan as an isin, the merge hint keeps the join
      // bucket-aligned so the scan keeps its bucket identity and PRUNES
      // bucket files (SelectedBucketsCount < all, and the runtime
      // numFiles metric agrees); the batch pays its one repartition,
      // the catalog is never shuffled
      val batch = blobs(200L until 210L)
      val probe = MediaCatalog.probeHashCatalog(spark,
        Multimodal.imageHashes(batch, "doc_id", "media").toDF(), "p_mc_hash")
      assert(probe.collect().nonEmpty, "probe found no content hits")
      val pPlan = planOf(probe).split("== Initial Plan ==")(0)
      val pEx = pPlan.linesIterator
        .filter(_.contains("Exchange hashpartitioning")).toSeq
        .filterNot(_.contains("ReusedExchange"))
      assert(pEx.size == 1 && !pEx.head.contains("ENSURE_REQUIREMENTS"),
        s"probe: want exactly the batch's explicit repartition:\n$pPlan")
      assert(pPlan.contains("PushedFilters: [IsNotNull(ahash)"),
        s"ahash isin lost scan-level pushdown:\n$pPlan")
      val selected = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(pPlan)
      assert(selected.isDefined,
        s"catalog scan lost bucket pruning (no SelectedBucketsCount):\n$pPlan")
      assert(selected.get.group(1).toInt < selected.get.group(2).toInt,
        s"isin pushdown selected every bucket:\n$pPlan")
      // (the numFiles metric can't pin this — it is computed from the
      // partition listing BEFORE bucket pruning; SelectedBucketsCount is
      // what createBucketedReadRDD actually filters file groups by)

      // oversized-delivery fallback: past the pushdown guard the probe
      // reverts to the bucket-aligned full-scan join — one batch-sized
      // exchange, catalog still unshuffled
      val fb = MediaCatalog.probeHashCatalog(spark,
        Multimodal.imageHashes(batch, "doc_id", "media").toDF(), "p_mc_hash",
        maxPushdownHashes = 0)
      assert(fb.collect().nonEmpty, "fallback probe found no content hits")
      val fPlan = planOf(fb).split("== Initial Plan ==")(0)
      val exLines = fPlan.linesIterator
        .filter(_.contains("Exchange hashpartitioning")).toSeq
      val (reused, materialized) = exLines.partition(_.contains("ReusedExchange"))
      assert(materialized.size == 1 && reused.isEmpty,
        s"fallback: want exactly 1 materialized exchange, got " +
          s"${materialized.size}+${reused.size} reused:\n$fPlan")
      assert(!materialized.head.contains("ENSURE_REQUIREMENTS"),
        s"the exchange must be the explicit batch repartition, not a " +
          s"join-forced shuffle of the catalog:\n$fPlan")
      assert(fPlan.contains("SelectedBucketsCount: 4 out of 4"),
        s"fallback must scan the catalog whole (no stale prune):\n$fPlan")
    } finally {
      thresh match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
      spark.sql("DROP TABLE p_mc_cat")
      spark.sql("DROP TABLE p_mc_blobs")
      spark.sql("DROP TABLE p_mc_hash")
    }
  }

  test("audit referential integrity probes via broadcast anti-join") {
    import graft.ops.Audit
    val lake = Lake(spark, sfDir)
    val plan = planOf(Audit.audit(lake.orders, Seq(
      Audit.RefIntegrity("o_custkey", lake.customer, "c_custkey"))))
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"FK check must be a broadcast anti-join:\n$plan")
  }

  test("no registered query plans a cartesian product (cross-join ops excepted)") {
    // q07 is the deliberate J4 cross-join operator; q27/q341 cross-join a
    // 775-row calendar spine (broadcast nested loop, intentional).
    val allowed = Set("q07_year_type_matrix", "q27_view_early_warning",
      "q341_incremental_ews_fact")
    val offenders = Registry.all
      .filterNot(q => allowed.contains(q.name))
      .flatMap { q =>
        val plan = planOf(q.run(spark, sfDir))
        if (plan.contains("CartesianProduct")) Some(q.name) else None
      }
    spark.catalog.clearCache()
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("no registered query plans a single-partition global window (bounded frames allowlisted)") {
    // Window.orderBy with no partitionBy ships EVERY row through one task —
    // the classic 100 TB scale-killer (round-6 audit #3). Rank/quantile
    // queries must ride ops.Ranks instead. The allowlist names the queries
    // whose partition-less windows run over frames bounded by something
    // other than data size, each with its justification; anything else
    // fails the build.
    val allowed: Map[String, String] = Map(
      "q288_lorenz_deciles" ->
        "cumulative over the 10-row decile frame (customer rank itself rides Ranks)",
      "q182_shard_skew" ->
        "share-of-total over the nShards=8 aggregate frame",
      "q199_user_growth_curve" ->
        "running sum over the DISTINCT-day grid — calendar-bounded",
      "q155_chi2_independence" ->
        "marginals over the status×priority contingency cells — category-domain-bounded",
      "q156_lang_divergence" ->
        "global total over the source×lang grid — category-domain-bounded",
      "q216_sorted_neighborhood" ->
        "block sequence number over DISTINCT 2-char block keys — key-prefix-domain-bounded (Linkage.scala:146)",
      "q233_snm_linkage" ->
        "same block-sequence window via Linkage.sortedNeighborhood as q216",
      "q248_acf_daily" ->
        "lagged windows over the per-day aggregate — calendar-bounded",
      "q249_rolling_median" ->
        "7-day rolling window over the per-day aggregate — calendar-bounded",
      "q250_mom_growth" ->
        "lag over the per-month aggregate — calendar-bounded",
      "q260_theil_sen" ->
        "median-of-slopes rank over the day-pair frame — calendar-bounded (days², not rows)",
      "q270_hampel_filter" ->
        "7-day rolling window over the per-day aggregate — calendar-bounded")
    val offenders = Registry.all.flatMap { q =>
      val globals = q.run(spark, sfDir).queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }
      if (globals.nonEmpty && !allowed.contains(q.name)) Some(q.name) else None
    }
    // plan-building registers (never materializes) each query's persist()
    // frames in the CacheManager; drop the bookkeeping for later suites
    spark.catalog.clearCache()
    assert(offenders.isEmpty,
      s"single-partition global windows in: ${offenders.mkString(", ")} — " +
        "route through ops.Ranks or allowlist with a bounded-frame justification")
  }

  test("q309 sampled recall: every shingle explode sits above the stratum filter") {
    // the sampled audit's 100 TB claim is that BOTH chains touch only the
    // md5 stratum of documents — i.e. the stratum predicate is applied
    // BELOW every Generate (shingle/band explode), before any pair work.
    // The filter carries the folded salt literal inside the md5 argument,
    // so it is unmistakable in the plan. cache = false keeps the plan
    // fully logical (no InMemoryRelation hides the filter from the
    // collect), and the unique salt guarantees no previously cached
    // shingle frame from the registry sweep substitutes in.
    val audits = Seq(
      "q309" -> graft.ops.Dedup.lshRecallSampled(
        graft.core.Lake(spark, sfDir).documents, "doc_id", "text",
        frac = 0.5, threshold = 0.8, salt = "plan-pin", cache = false),
      "q313" -> graft.ops.Dedup.tuningReport(
        graft.core.Lake(spark, sfDir).documents, "doc_id", "text",
        frac = 0.5, salt = "plan-pin", cache = false))
    audits.foreach { case (name, df) =>
      val plan = df.queryExecution.optimizedPlan
      val gens = plan.collect {
        case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
      }
      assert(gens.nonEmpty, s"expected shingle explodes in the $name plan")
      gens.foreach { g =>
        val stratumBelow = g.child.collect {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter
              if f.condition.toString.contains("plan-pin") &&
                f.condition.toString.toLowerCase.contains("md5") => f
        }
        assert(stratumBelow.nonEmpty,
          s"$name: explode without the md5 stratum filter below it:\n$g")
      }
    }
  }

  test("dynamic partition pruning: a dim-side filter prunes the fact partition scan") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-dpp").toString
    Lake(spark, sfDir).events
      .withColumn("day", to_date(col("ts")).cast("string"))
      .write.mode("overwrite").partitionBy("day").parquet(s"$dir/events_p")
    // keep the partition column a STRING (inference would date-type it and
    // push an implicit cast into the join key)
    spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    try {
      val fact = spark.read.parquet(s"$dir/events_p")
      val allDays = fact.select(col("day"))
        .distinct().collect().map(_.getString(0)).sorted
      assert(allDays.length >= 10, s"fixture needs many day partitions: $allDays")
      // dim carries a non-partition attribute; only the filtered days may be
      // scanned. Two traps the fixture must dodge: (a) a literal local
      // relation constant-folds its filter away, so the dim must be a REAL
      // scan; (b) DPP's isLikelySelective whitelist wants a comparison
      // against a literal — a bare boolean attribute does not qualify.
      allDays.zipWithIndex
        .map { case (d, i) => (d, i % 5) }.toSeq.toDF("day", "tier")
        .write.mode("overwrite").parquet(s"$dir/day_dim")
      val dim = spark.read.parquet(s"$dir/day_dim")
      val joined = fact.join(dim.filter(col("tier") === 0), Seq("day"))
      val plan = planOf(joined).toLowerCase
      assert(plan.contains("dynamicpruning"),
        s"no runtime partition pruning in:\n${planOf(joined)}")
      // and the result is the plain join's
      val expected = fact.filter(
        col("day").isInCollection(allDays.zipWithIndex.collect {
          case (d, i) if i % 5 == 0 => d
        }.toSeq)).count()
      assert(joined.count() == expected && expected > 0)
    } finally spark.conf.set(
      "spark.sql.sources.partitionColumnTypeInference.enabled", "true")
  }

  test("corrupt file in a lake directory: ignoreCorruptFiles skips, default fails loudly") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft-corrupt").toString
    Lake(spark, sfDir).region.write.mode("overwrite").parquet(s"$dir/t")
    val good = spark.read.parquet(s"$dir/t").count()
    // a truncated/junk file lands in the directory (partial upload, torn
    // write) — the exact failure a 100 TB lake sees weekly
    Files.write(Paths.get(s"$dir/t/part-corrupt.parquet"),
      "PAR1 this is not a parquet file".getBytes)
    val key = "spark.sql.files.ignoreCorruptFiles"
    val before = spark.conf.getOption(key)
    try {
      // default: the job must FAIL (silent data loss is worse than a crash)
      spark.conf.set(key, "false")
      val failed =
        try { spark.read.parquet(s"$dir/t").count(); false }
        catch { case _: Exception => true }
      assert(failed, "a corrupt file must fail the read when not opted out")
      // opted in: the good rows survive, the junk is skipped
      spark.conf.set(key, "true")
      assert(spark.read.parquet(s"$dir/t").count() == good)
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("sortedWrite: globally ordered files — disjoint ranges, content preserved") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-sorted").toString
    val src = Lake(spark, sfDir).events.select("event_id", "ts", "user_id")
    val plan = src.repartitionByRange(8, col("ts"))
      .queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("rangepartitioning"), s"no range exchange in:\n$plan")
    graft.ops.Layout.sortedWrite(src, s"$dir/events_sorted", Seq("ts"), 8)
    val back = spark.read.parquet(s"$dir/events_sorted")
    assert(back.count() == src.count())
    assert(back.select(sum("event_id")).head.getLong(0) ==
      src.select(sum("event_id")).head.getLong(0), "content changed")
    // per-file ts ranges must be pairwise disjoint and ordered
    val ranges = back.groupBy(input_file_name().as("f"))
      .agg(min("ts").as("lo"), max("ts").as("hi"))
      .collect()
      .map(r => (r.getTimestamp(1).getTime, r.getTimestamp(2).getTime))
      .sortBy(_._1)
    assert(ranges.length > 1, "fixture produced a single file — vacuous")
    ranges.sliding(2).foreach { case Array((_, hi1), (lo2, _)) =>
      assert(hi1 <= lo2, s"file ranges overlap: hi=$hi1 lo=$lo2")
    }
  }

  test("builtin runtime bloom filter fires on a selective shuffle join") {
    // the engine enables spark.sql.optimizer.runtime.bloomFilter.enabled
    // (GraftSession); this pins that a selective dim filter on a SHUFFLE
    // join actually injects the runtime might_contain probe. Thresholds
    // are production-scale (10 GB application side), so the test fixture
    // lowers them and forces the shuffle join path, then restores.
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val before = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val lk = Lake(spark, sfDir)
      val dim = lk.orders.filter(col("o_totalprice") > 450000.0)
      val joined = lk.lineitem.join(dim,
        col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.optimizedPlan.toString.toLowerCase
      assert(plan.contains("might_contain") || plan.contains("bloomfilter"),
        s"runtime bloom filter not injected:\n$plan")
      assert(joined.count() > 0)
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bloom probe prunes below the semi-join: scan-stage filter, no UDF") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
    val lk = Lake(spark, sfDir)
    val dim = lk.orders.filter(col("o_totalprice") > 400000.0)
    val pruned = graft.ops.Bloom.prunedSemiJoin(
      lk.lineitem, dim, "l_orderkey", "o_orderkey", 1 << 12, 5)
    // optimized LOGICAL plan (AQE wraps the physical tree in opaque query
    // stages): the probe filter must sit in the join's STREAM side — that
    // is what puts it in the scan stage, before the exchange, at any scale
    val joins = pruned.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.nonEmpty, "semi-join missing from the optimized plan")
    val streamSideFiltered = joins.exists(_.left.collectFirst {
      case f: Filter if f.condition.toString.contains("getbit") => f
    }.nonEmpty)
    assert(streamSideFiltered,
      s"bloom probe filter not below the join:\n${pruned.queryExecution.optimizedPlan}")
    pruned.collect()
    assert(!pruned.queryExecution.executedPlan.toString.toLowerCase.contains("udf"),
      "bloom probe must stay pure-builtin (codegen)")
  }

  test("table profile: six count-distincts ride ONE scan via a single Expand") {
    val plan = planOf(
      graft.queries.Registry.byName("q224_table_profile").run(spark, sfDir))
    assert("FileScan".r.findAllIn(plan).size == 1,
      s"profile must scan the table once:\n$plan")
    assert("Expand".r.findAllIn(plan).size == 1,
      s"multi-distinct must be one Expand, not per-column passes:\n$plan")
  }
}
