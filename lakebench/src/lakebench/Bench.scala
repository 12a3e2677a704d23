package lakebench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.{Lake, SilverReader}
import graft.runner.{AmtLoop, AmtPipeline, AmtRegistry}

import Main._

/** Scan-file count of an executed plan, looking through adaptive execution. */
object ScanFiles extends AdaptiveSparkPlanHelper {
  def apply(p: SparkPlan): Long =
    collect(p) { case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L) }.sum
}

final class Bench(spark: SparkSession, a: Args, cores: Int, sessionS: Double) {
  private val sc = spark.sparkContext
  private val counters = new Counters
  sc.addSparkListener(counters)

  private val year = "2022"
  private val silver = a.work.resolve("silver")
  private val opsDir = a.work.resolve("opsdata")
  private var gen: SilverGen = _
  private var silverMd5 = ""

  // ------------------------------------------------------------ bookkeeping
  private var attempted = 0L
  private var failed = 0L
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val failures = mutable.ArrayBuffer.empty[String]
  private val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Sizes of the inputs and outputs: printed, not gated. */
  private val sizes = mutable.LinkedHashMap.empty[String, (Double, String)]
  private var measuring = true

  private val t0 = System.nanoTime()
  /** Progress on stderr: where a run spends its wall time. */
  private def stage(name: String): Unit =
    System.err.println(f"[lakebench] $name at ${(System.nanoTime() - t0) / 1e9}%.1f s")

  private def check(ok: Boolean, what: => String): Unit =
    if (!ok) { failures += what; System.err.println(s"[lakebench] CHECK FAILED: $what") }

  /** One measured operation: labelled job group, timed, a throw counted as
    * a failure and never recorded as a time. */
  private def op[A](kind: String)(body: => A): Option[A] = {
    sc.setJobGroup(s"${a.workload}/$kind", s"${a.workload}/$kind", false)
    if (measuring) attempted += 1
    val t = System.nanoTime()
    try {
      val r = body
      if (measuring) samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += (System.nanoTime() - t) / 1e6
      Some(r)
    } catch {
      case e: Exception =>
        if (measuring) failed += 1
        System.err.println(s"[lakebench] $kind failed: $e")
        None
    } finally sc.clearJobGroup()
  }

  private lazy val expected: Option[Map[String, Any]] =
    if (!Files.exists(a.expected)) None
    else Some(new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(a.expected.toFile, classOf[java.util.Map[String, Any]]).asScala.toMap)
  private def expectedSection(k: String): Map[String, String] = expected.flatMap(_.get(k))
    .map(_.asInstanceOf[java.util.Map[String, Any]].asScala.map { case (x, y) => x -> y.toString }.toMap)
    .getOrElse(Map.empty)
  private def isDefaultScale: Boolean = expected.exists(e =>
    e.get("seed").map(_.toString.toLong).contains(a.seed) &&
      e.get("students").map(_.toString.toInt).contains(a.students))

  // ------------------------------------------------------------------ setup
  /** Generate the silver tree `SetupReps` times (same seed, same bytes) and
    * return the median generation time. */
  private def generateSilver(): Double = {
    val times = (1 to SetupReps).map { _ =>
      Main.deleteTree(silver)
      val ((g, md5), t) = time { val g = new SilverGen(a.seed, a.students); (g, g.writeAll(silver)) }
      if (silverMd5.nonEmpty) check(md5 == silverMd5, s"silver tree not byte-identical across generations ($md5 vs $silverMd5)")
      silverMd5 = md5; gen = g
      t
    }
    println(s"[lakebench] silver seed=${a.seed} students=${a.students} md5=$silverMd5")
    if (isDefaultScale) expected.flatMap(_.get("silver_md5")).foreach(m =>
      check(m.toString == silverMd5, s"silver md5 $silverMd5 != committed $m"))
    Stat.median(times)
  }

  private def goldDir(root: Path): Path = root.resolve(year)

  /** Map over `xs` on `cores` driver threads (independent Spark jobs). */
  private def parMap[A, B](xs: Seq[A])(f: A => B): Seq[(A, B)] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    try xs.map(x => x -> pool.submit(() => f(x))).map { case (x, fut) => x -> fut.get() }
    finally pool.shutdown()
  }

  private def viewDigests(root: Path, views: Seq[String] = AmtRegistry.all.map(_.name)): Map[String, String] = {
    val lake = Lake(spark, goldDir(root).toString)
    parMap(views)(v => digest(lake.table(v))).toMap
  }

  /** Rows per gold view, from the parquet footers (no Spark job). */
  private def goldRows(root: Path): Map[String, Long] = {
    val conf = spark.sessionState.newHadoopConf()
    AmtRegistry.all.map(_.name).map { v =>
      val s = Files.list(goldDir(root).resolve(s"$v.parquet"))
      val rows = try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).map { f =>
        val in = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.toString), conf))
        try in.getRecordCount finally in.close()
      }.sum finally s.close()
      v -> rows
    }.toMap
  }

  /** The generator's done-check (every view non-empty) and, for the
    * default seed, the committed per-view digests. Returns rows per view. */
  private def checkStandingGold(root: Path): Map[String, Long] = {
    val rows = goldRows(root)
    val empty = rows.collect { case (v, 0L) => v }
    check(empty.isEmpty, s"gold views empty after full build: ${empty.toSeq.sorted.mkString(", ")}")
    if (isDefaultScale) {
      val want = expectedSection("views")
      viewDigests(root).foreach { case (v, x) =>
        check(want.get(v).contains(x), s"view $v digest $x != committed ${want.get(v)}")
      }
    }
    rows
  }

  private def fullBuild(root: Path): Boolean = AmtLoop.runOnce(spark, silver.toString, root.toString, year)

  // -------------------------------------------------------------- workloads
  private var setupS = 0.0

  def run(): Boolean = {
    if (a.writeExpected) return writeExpected()
    if (a.trace) layerProbe()
    else a.workload match {
      case "gold_serve" => serveWorkload()
      case "operators" => operatorsWorkload()
    }
    report()
  }

  /** Closed loop over the measurement window: at least one operation, then
    * more while time is left. */
  private def closedLoop(operation: => Unit): Unit = {
    val until = System.nanoTime() + (a.seconds * 1e9).toLong
    do operation while (System.nanoTime() < until)
  }

  private var standing: Path = _
  private val deliveryRng = new scala.util.Random(a.seed * 7919 + 17)

  /** One seeded delivery to the highest-churn endpoint: change a seeded
    * 5–30 % of one file's rows in place (at least one row). */
  private def nextDelivery(): (String, Int) = {
    val e = "studentSchoolAttendanceEvents"
    val i = deliveryRng.nextInt(gen.files(e).size)
    if (gen.deliver(e, i, 0.05 + 0.25 * deliveryRng.nextDouble(), deliveryRng) == 0)
      gen.deliver(e, i, 1.0, deliveryRng)
    (e, i)
  }

  private def standUp(): Unit = {
    val genS = generateSilver()
    stage("standing build")
    standing = a.work.resolve("gold")
    val (_, buildS) = time(fullBuild(standing))
    stage("gold checks")
    checkStandingGold(standing)
    setupS = sessionS + genS + buildS
  }

  // ------------------------------------------------------------- gold serve
  /** (view, key column): the leading/sort column for the EWS facts and the
    * RLS table, a non-leading one for the chronic-absenteeism fact. */
  private val lookupKinds = Seq(
    ("ews_studentEarlyWarningFact", "StudentKey"),
    ("ews_studentSectionGradeFact", "StudentKey"),
    ("chrab_chronicAbsenteeismAttendanceFact", "StudentKey"),
    ("rls_userStudentDataAuthorization", "UserKey"))
  private val aggregates: Seq[(String, DataFrame => DataFrame)] = Seq(
    "chronic_absenteeism_by_school" -> { (chrab: DataFrame) =>
      chrab.groupBy("SchoolKey", "StudentKey")
        .agg(count(lit(1)).as("days"), sum("ReportedAsAbsentFromSchool").as("absent"))
        .groupBy("SchoolKey")
        .agg(count(lit(1)).as("students"), sum(when(col("absent") * 10 >= col("days"), 1).otherwise(0)).as("chronic"))
    },
    "attendance_by_school" -> { (ews: DataFrame) =>
      ews.groupBy("SchoolKey").agg(sum("IsInstructionalDay").as("days"),
        sum("IsAbsentFromSchoolExcused").as("excused"), sum("IsAbsentFromSchoolUnexcused").as("unexcused"),
        sum("IsTardyToSchool").as("tardy"))
    },
    "failing_grades_by_period" -> { (g: DataFrame) =>
      g.groupBy("SchoolKey", "GradingPeriodKey").agg(count(lit(1)).as("grades"),
        sum(when(col("NumericGradeEarned") < 65, 1).otherwise(0)).as("failing"))
    })
  private val aggregateSource = Map(
    "chronic_absenteeism_by_school" -> "chrab_chronicAbsenteeismAttendanceFact",
    "attendance_by_school" -> "ews_studentEarlyWarningFact",
    "failing_grades_by_period" -> "ews_studentSectionGradeFact")

  private def canon(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  private var keyPools: Map[String, IndexedSeq[String]] = Map.empty
  private var expectedLookups: Map[(String, String), Seq[String]] = Map.empty
  private var expectedAggregates: Map[String, Seq[String]] = Map.empty

  /** Expected answers from the in-memory `AmtPipeline.view`, for a seeded
    * pool of keys per lookup kind. */
  private def prepareServe(): Unit = {
    val r = new scala.util.Random(a.seed * 104729 + 3)
    val studentsPool = r.shuffle(gen.studentsV.map(_.uid)).take(48)
    val usersPool = r.shuffle(gen.staff.map(_.uid)).take(24)
    keyPools = lookupKinds.map { case (v, k) => v -> (if (k == "UserKey") usersPool else studentsPool) }.toMap
    val p = new AmtPipeline(spark, silver.toString, year)
    try {
      expectedLookups = parMap(lookupKinds) { case (v, k) =>
        val pool = keyPools(v)
        val got = p.view(v).filter(col(k).isin(pool: _*)).collect().toSeq.groupBy(_.getAs[String](k))
        pool.map(key => (v, key) -> canon(got.getOrElse(key, Seq.empty)))
      }.flatMap(_._2).toMap
      expectedAggregates = parMap(aggregates) { case (n, f) =>
        canon(f(p.view(aggregateSource(n))).collect().toSeq)
      }.map { case ((n, _), rows) => n -> rows }.toMap
    } finally p.release()
  }

  private def lookup(v: String, k: String, key: String): Array[Row] =
    Lake(spark, goldDir(standing).toString).table(v).filter(col(k) === key).collect()

  /** Each operation is one consumer read. The mix is assumed, not measured:
    * reads cycle through one lookup of each kind, then one aggregate (the
    * aggregates in turn); only the keys are drawn from the seed. The
    * set-up ends with [[WarmupReads]] untimed reads, so the timed ones start
    * on a warm read path. The expected answers are computed before those,
    * untimed. */
  private def serveWorkload(): Unit = {
    standUp()
    stage("expected answers")
    prepareServe()
    stage("warm-up reads")
    val r = new scala.util.Random(a.seed * 15485863 + 11)
    var n = 0
    def read(): Unit = {
      val slot = n % (lookupKinds.size + 1)
      val ok = if (slot < lookupKinds.size) {
        val (v, k) = lookupKinds(slot)
        val key = keyPools(v)(r.nextInt(keyPools(v).size))
        op("lookup")(lookup(v, k, key)).map { rows =>
          check(canon(rows.toSeq) == expectedLookups((v, key)), s"lookup $v[$k=$key] differs from the in-memory view")
        }
      } else {
        val (name, f) = aggregates(n / (lookupKinds.size + 1) % aggregates.size)
        op("scan") {
          f(Lake(spark, goldDir(standing).toString).table(aggregateSource(name))).collect()
        }.map(rows => check(canon(rows.toSeq) == expectedAggregates(name), s"aggregate $name differs from the in-memory view"))
      }
      if (!measuring) check(ok.isDefined, "warm-up read failed")
      n += 1
    }
    measuring = false
    setupS += time((1 to WarmupReads).foreach(_ => read()))._2
    measuring = true
    stage("timed reads")
    closedLoop(read())
    stage("done")
  }

  // -------------------------------------------------------------- operators
  private def writeOpsData(): Double = Stat.median((1 to SetupReps).map { _ =>
    time(OpsData.write(spark, opsDir.toString))._2
  })

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Each operation is one sweep of the queries, always in the same order
    * (the inputs are fixed, so the seed changes nothing here). A query
    * is forced by its order-insensitive digest (a full evaluation that
    * hashes every row), so every sweep is also checked. The set-up runs
    * [[WarmupQueries]] once to warm the JVM. */
  private def operatorsWorkload(): Unit = {
    val genS = writeOpsData()
    stage("warm-up sweep")
    val want = expectedSection("operators")
    def sweep(queries: Seq[String]): Unit = {
      val t = System.nanoTime()
      val ok = queries.map { q =>
        op(q)(digest(SparkEntry.queries(q)(spark, opsDir.toString))).map { d =>
          check(want.get(q).contains(d), s"operator $q digest $d != committed ${want.get(q)}")
        }.isDefined
      }
      if (!measuring) check(ok.forall(identity), "warm-up sweep failed")
      else if (ok.forall(identity))
        samples.getOrElseUpdate("sweep", mutable.ArrayBuffer.empty) += (System.nanoTime() - t) / 1e6
    }
    measuring = false
    val (_, warmS) = time(sweep(WarmupQueries))
    measuring = true
    setupS = sessionS + genS + warmS
    stage("timed sweeps")
    closedLoop(sweep(SweepQueries))
    stage("done")
  }

  // ------------------------------------------------------------ layer probe
  /** The traced run: every layer is called from here, each call a span,
    * with Spark counters taken per job group, on this seed's silver tree.
    * Probe calls are not counted in attempted/failed. */
  private def layerProbe(): Unit = {
    measuring = false
    setupS = sessionS + generateSilver()
    stage("probe")
    Spans.enabled = true
    def layer(name: String, value: Double, unit: String): Unit = perLayer(name) = (value, unit)
    def info(name: String, value: Double, unit: String): Unit = sizes(name) = (value, unit)
    def group[A](g: String)(body: => A): (A, Counters#Acc, Double) = {
      val before = counters.total(sc, s"probe/$g")
      sc.setJobGroup(s"probe/$g", s"probe/$g", false)
      try {
        val (r, t) = time(body)
        (r, counters.total(sc, s"probe/$g") - before, t)
      } finally sc.clearJobGroup()
    }

    // pipeline first, in the fresh JVM like a cron-launched build: a first-ever
    // runOnce is one fingerprint pass plus writeViews of all 41 views
    stage("pipeline")
    standing = a.work.resolve("gold")
    val peakCache = new java.util.concurrent.atomic.AtomicLong
    val poller = new Thread(() => {
      try while (!Thread.currentThread().isInterrupted) {
        peakCache.accumulateAndGet(sc.getRDDStorageInfo.map(_.memSize).sum, math.max)
        Thread.sleep(50)
      } catch { case _: InterruptedException => () }
    })
    poller.setDaemon(true)
    poller.start()
    val (built, acc, wall) = group("pipeline")(Spans.span("AmtPipeline.writeViews", "runner.AmtPipeline")(
      fullBuild(standing)))
    poller.interrupt(); poller.join()
    check(built, "probe build skipped")
    layer("pipeline.write_s", wall, "s")
    layer("pipeline.jobs", acc.jobs, "count")
    layer("pipeline.stages", acc.stages, "count")
    layer("pipeline.tasks", acc.tasks, "count")
    layer("pipeline.shuffle_mb", acc.shuffleBytes / 1e6, "MB")
    layer("pipeline.spill_mb", acc.spillBytes / 1e6, "MB")
    layer("pipeline.executor_cpu_s", acc.cpuNs / 1e9, "s")
    layer("pipeline.gc_s", acc.gcMs / 1e3, "s")
    layer("pipeline.core_busy", acc.runMs / 1e3 / (wall * cores), "ratio")
    layer("pipeline.cached_mb", peakCache.get / 1e6, "MB")
    info("pipeline.storage_mb", sc.getExecutorMemoryStatus.values.map(_._1).sum / 1e6, "MB")
    val (gFiles, gBytes) = treeBytes(goldDir(standing), ".parquet")
    layer("gold.files", gFiles, "count")
    layer("gold.mb", gBytes / 1e6, "MB")
    info("gold.rows", checkStandingGold(standing).values.sum.toDouble, "count")

    stage("core")
    val reader = SilverReader(spark, silver.toString, year)
    val readS = silverEndpoints.map { e =>
      e -> time(Spans.span(s"SilverReader.read:$e", "core")(noop(reader.read(e))))._2
    }.toMap
    val (files, bytes) = treeBytes(silver.resolve(year), ".json")
    val totalRead = readS.values.sum
    layer("silver.read_s", totalRead, "s")
    info("silver.files", files, "count")
    info("silver.mb", bytes / 1e6, "MB")
    info("silver.rows", silverEndpoints.map(e => gen.rowCount(e).toDouble).sum, "count")
    layer("silver.mb_per_s", bytes / 1e6 / totalRead, "MB/s")
    LargestEndpoints.foreach(e => layer(s"silver.read_s.$e", readS(e), "s"))

    stage("loop")
    val fp = (1 to 5).map(_ => time(Spans.span("AmtLoop.endpointFingerprints", "runner.AmtLoop")(
      AmtLoop.endpointFingerprints(silver.toString, year)))._2 * 1e3)
    layer("loop.fingerprint_ms", Stat.median(fp), "ms")
    val noopMs = (1 to 2).map { _ =>
      val (rebuilt, t) = time(Spans.span("AmtLoop.runOnce", "runner.AmtLoop")(
        AmtLoop.runOnce(spark, silver.toString, standing.toString, year)))
      check(!rebuilt, "runOnce rebuilt unchanged silver")
      t * 1e3
    }
    layer("loop.noop_ms", Stat.median(noopMs), "ms")
    val (e, i) = nextDelivery()
    val affected = Spans.span("AmtLoop.affectedViews", "runner.AmtLoop")(AmtLoop.affectedViews(Set(e)))
    val before = viewDigests(standing, affected)
    gen.writeFile(silver, e, i)
    check(Spans.span("AmtLoop.runOnce", "runner.AmtLoop")(
      AmtLoop.runOnce(spark, silver.toString, standing.toString, year)), s"delivery to $e did not trigger a rebuild")
    val after = viewDigests(standing, affected)
    layer("loop.views_per_delta", affected.size, "count")
    layer("loop.useful_rebuild_ratio", affected.count(v => before(v) != after(v)).toDouble / affected.size, "ratio")

    // each view's own build, over the delivered silver: dependencies are
    // cached by then. The same in-memory views then check the delivery: the
    // incrementally rebuilt gold must equal them.
    stage("views")
    val p = new AmtPipeline(spark, silver.toString, year)
    val buildS = try {
      val t = viewOrder.map(v => v -> time(Spans.span(s"AmtView.build:$v", "views")(noop(p.view(v))))._2).toMap
      val stale = affected.filter(v => digest(p.view(v)) != after(v)).sorted
      check(stale.isEmpty, s"incremental gold differs from a fresh build after a delivery to $e in: ${stale.mkString(", ")}")
      t
    } finally p.release()
    viewOrder.foreach(v => layer(s"view.$v.build_s", buildS(v), "s"))
    layer("views.build_s", buildS.values.sum, "s")

    stage("gold reads") // task input metrics per point lookup
    val r = new scala.util.Random(a.seed + 99)
    var rowsRead = 0L; var rowsOut = 0L; var mbRead = 0.0; var filesRead = 0L; var tasks = 0L
    val nLookups = 12
    (0 until nLookups).foreach { i =>
      val (v, k) = lookupKinds(i % lookupKinds.size)
      val key = if (k == "UserKey") gen.staff(r.nextInt(gen.staff.size)).uid
        else gen.studentsV(r.nextInt(gen.studentsV.size)).uid
      val (files, acc, _) = group(s"serve/$i")(Spans.span("Lake.table", "gold.Lake") {
        val df = Lake(spark, goldDir(standing).toString).table(v).filter(col(k) === key)
        rowsOut += df.collect().length
        ScanFiles(df.queryExecution.executedPlan)
      })
      rowsRead += acc.inputRecords; mbRead += acc.inputBytes / 1e6; filesRead += files; tasks += acc.tasks
    }
    layer("serve.rows_read_per_row_returned", rowsRead.toDouble / math.max(1L, rowsOut), "ratio")
    layer("serve.mb_read_per_lookup", mbRead / nLookups, "MB")
    layer("serve.files_per_lookup", filesRead.toDouble / nLookups, "count")
    layer("serve.tasks_per_lookup", tasks.toDouble / nLookups, "count")

    stage("operators") // one sweep, counters per query
    OpsData.write(spark, opsDir.toString)
    val want = expectedSection("operators")
    SweepQueries.foreach { q =>
      val (d, acc, t) = group(s"ops/$q")(Spans.span(s"SparkEntry.queries:$q", "ops")(
        digest(SparkEntry.queries(q)(spark, opsDir.toString))))
      check(want.get(q).contains(d), s"operator $q digest $d != committed ${want.get(q)}")
      layer(s"op.$q.s", t, "s")
      layer(s"op.$q.jobs", acc.jobs, "count")
      layer(s"op.$q.shuffle_mb", acc.shuffleBytes / 1e6, "MB")
      layer(s"op.$q.executor_cpu_s", acc.cpuNs / 1e9, "s")
    }

    // tracing overhead: the same layer call with and without a span
    val pairs = (1 to 20).map { _ =>
      Spans.enabled = false
      val off = time(Spans.span("AmtLoop.endpointFingerprints", "runner.AmtLoop")(
        AmtLoop.endpointFingerprints(silver.toString, year)))._2
      Spans.enabled = true
      val on = time(Spans.span("AmtLoop.endpointFingerprints", "runner.AmtLoop")(
        AmtLoop.endpointFingerprints(silver.toString, year)))._2
      (on - off) * 1e3
    }
    layer("trace.overhead_ms", Stat.median(pairs), "ms")
    val self = Spans.selfSeconds
    Seq("core", "views", "runner.AmtPipeline", "runner.AmtLoop", "gold.Lake", "ops").foreach(l =>
      layer(s"self_s.$l", self.getOrElse(l, 0.0), "s"))
    stage("done")
    Spans.writeJsonLines(a.work.getParent.resolve(s"spans-${a.workload}-${a.seed}.jsonl"))
  }

  // ----------------------------------------------------------------- report
  private def rssPeakMb: Double = scala.io.Source.fromFile("/proc/self/status").getLines()
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def s(k: String): Seq[Double] = samples.getOrElse(k, mutable.ArrayBuffer.empty).toSeq

  def report(): Boolean = {
    // op_p50_ms: every timed read on gold_serve, every sweep on operators
    val prim = if (a.workload == "gold_serve") s("lookup") ++ s("scan") else s("sweep")
    if (!a.trace) check(prim.nonEmpty, "no successful operation")
    // each workload's own end-to-end metrics, with unit and sample count
    def show(name: String, unit: String, xs: Seq[Double], scale: Double = 1.0): Unit = if (xs.nonEmpty) {
      val (tl, tv) = Stat.tail(xs)
      val each = if (xs.size <= 20) xs.map(x => f"${x * scale}%.3f").mkString("  [", ", ", "]") else ""
      println(f"[lakebench] $name%-16s p50=${Stat.median(xs) * scale}%.4f $unit  $tl=${tv * scale}%.4f $unit  n=${xs.size}$each")
    }
    println(f"[lakebench] setup_s          ${setupS}%.3f s (session ${sessionS}%.3f s)")
    a.workload match {
      case "gold_serve" =>
        show("lookup_ms", "ms", s("lookup"))
        show("scan_ms", "ms", s("scan"))
      case "operators" =>
        show("operators_s", "s", s("sweep"), 1e-3)
        SweepQueries.foreach(q => show(q, "s", s(q), 1e-3))
    }
    println(f"[lakebench] error_rate       ${failed.toDouble / math.max(1L, attempted)}%.4f ($failed of $attempted)")
    println(f"[lakebench] rss_peak_mb      $rssPeakMb%.1f MB")
    val metrics: Seq[(String, Double, String)] =
      if (a.trace) perLayer.toSeq.map { case (k, (v, u)) => (k, v, u) } :+ (("rss_peak_mb", rssPeakMb, "MB"))
      else Seq(("op_p50_ms", if (prim.isEmpty) 0.0 else Stat.median(prim), "ms"), ("setup_s", setupS, "s"))
    if (a.trace) (sizes ++ perLayer).foreach { case (k, (v, u)) => println(f"[lakebench] layer $k%-58s $v%.6f $u") }
    val correct = failures.isEmpty
    val out = Mapper.createObjectNode().put("correct", correct)
      .put("attempted", math.max(1L, attempted)).put("failed", failed)
    val ms = out.putObject("metrics")
    metrics.foreach { case (k, v, u) => ms.putObject(k).put("value", v).put("unit", u) }
    println(Mapper.writeValueAsString(out))
    correct
  }

  // --------------------------------------------------------- expected values
  /** Build the default-seed lake and the operator sweep, and write the
    * committed per-view and per-query digests. */
  private def writeExpected(): Boolean = {
    generateSilver()
    val root = a.work.resolve("gold")
    check(fullBuild(root), "build skipped")
    val views = viewDigests(root)
    OpsData.write(spark, opsDir.toString)
    val ops = SweepQueries.map(q => q -> digest(SparkEntry.queries(q)(spark, opsDir.toString)))
    val out = Mapper.createObjectNode().put("seed", a.seed).put("students", a.students)
      .put("silver_md5", silverMd5).put("operators_scale", OpsData.Scale)
    Seq("views" -> views.toSeq, "operators" -> ops).foreach { case (name, m) =>
      val section = out.putObject(name)
      m.sortBy(_._1).foreach { case (k, v) => section.put(k, v) }
    }
    Files.writeString(a.expected, Mapper.writerWithDefaultPrettyPrinter().writeValueAsString(out) + "\n")
    views.toSeq.sortBy(_._1).foreach { case (v, d) => println(s"$v $d") }
    ops.foreach { case (q, d) => println(s"$q $d") }
    failures.isEmpty
  }
}
