package graft.runner

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.graft.ListenerShim
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.{BenchSetup, SparkEntry}
import graft.core.{GraftSession, SilverWriter}

/** The one measurement entry point. Every subcommand shares one session,
  * one cache drop, one noop sink, one min-of-N timer and one set of
  * listener counters, so a number from `time`, `count` or a probe is taken
  * the same way the bench takes it.
  *
  *   - `time <query>…` — dedicated-JVM timing, 3 cold samples per query
  *     after a warm-up at sf0.001. Queries that [[BenchSetup]] overrides
  *     run in their production shape (artifacts materialized untimed
  *     first), matching the bench. One line:
  *     `{"probe":"time-query","sf":…,"<query>":[s,s,s],…}` — the shape
  *     `BenchRecheck.dedicatedSamples` parses. It is the cross-check
  *     BENCH_NOTES prescribes before believing a surprising in-suite
  *     bench number.
  *   - `count <query>…` — deterministic cost counters, one JSON line per
  *     query (see [[Counts]]). Wall time on a shared host swings ±2×;
  *     jobs, stages and shuffle bytes are properties of the code, and
  *     executor CPU excludes scheduler and fetch waits.
  *   - `plan audit <query> [sfDir]` — executes the query so AQE finalizes,
  *     prints the physical plan and its shuffle/join/codegen counts.
  *   - `plan dump <outDir> <suffix> <query>…` — writes the static
  *     `explain("formatted")` plan to `<outDir>/<query>_<suffix>.txt`, the
  *     before/after artifact committed under `plans/`.
  *   - `probe <name> [args]` — the parameter sets in [[Probes]].
  *
  * The scale factor is `SPARK_GRAFT_SF_DIR`; the default is sf0.1 for
  * `time`/`count`, sf0.01 for `plan dump`, and per probe otherwise.
  * `plan` runs on 8 cores with 8 shuffle partitions, so its plans match
  * the committed ones; everything else on `SPARK_GRAFT_CPUS`.
  *
  * Run: `sbt "runMain graft.runner.Measure <subcommand> …"`. */
object Measure {
  private val usage = "usage: Measure time <query>… | count <query>… | " +
    "plan audit <query> [sfDir] | plan dump <outDir> <suffix> <query>… | " +
    "probe <name> [args]"
  private val testdata = "/root/testdata"

  /** `SPARK_GRAFT_SF_DIR`, else `<testdata>/<default>`. */
  def sfDir(default: String): String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", s"$testdata/$default")

  def main(args: Array[String]): Unit = {
    val cmd = args.headOption.getOrElse("")
    val rest = args.toSeq.drop(1)
    require(Set("time", "count", "plan", "probe")(cmd) && rest.nonEmpty, usage)
    val spark = GraftSession.local(
      cores = if (cmd == "plan") 8 else GraftSession.defaultParallelism,
      appName = s"graft-measure-$cmd")
    try cmd match {
      case "time" => println(time(spark, sfDir("sf0.1"), rest))
      case "count" =>
        val counters = Counters.install(spark)
        rest.foreach(q => println(countQuery(spark, counters, sfDir("sf0.1"), q).json(q)))
      case "plan" => rest match {
        case Seq("audit", q) => planAudit(spark, q, s"$testdata/sf0.001")
        case Seq("audit", q, dir) => planAudit(spark, q, dir)
        case Seq("dump", outDir, suffix, qs @ _*) if qs.nonEmpty =>
          planDump(spark, sfDir("sf0.01"), outDir, suffix, qs)
        case _ => sys.error(usage)
      }
      case "probe" => Probes.run(spark, rest.head, rest.tail)
    } finally spark.stop()
  }

  /** Cache hygiene between samples: drop SQL caches and persisted RDDs, so
    * no sample reads an earlier one's cached data (Spark's CacheManager
    * substitutes a cached plan into any later plan that matches it). */
  def dropCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = false))
    // ContextCleaner is GC-driven: in a large-heap measurement JVM the
    // collector may never run on its own, so shuffle files and broadcast
    // blocks from previous samples pile up and perturb later ones (the
    // bimodal q54 samples that round 5 could not attribute). An explicit
    // GC between samples keeps each measurement's runway clean.
    System.gc()
  }

  /** Force every column of `df` end to end; `count()` would let Spark
    * skip computing projected columns. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** `n` cold samples of `f` in seconds, caches dropped before each. */
  def samples(spark: SparkSession, n: Int)(f: => Unit): Seq[Double] =
    (1 to n).map { _ =>
      dropCaches(spark)
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

  def minOf(spark: SparkSession, n: Int)(f: => Unit): Double = samples(spark, n)(f).min

  def time(spark: SparkSession, sfDir: String, names: Seq[String]): String = {
    val setupDir = Files.createTempDirectory("graft-measure-time").toString
    val (overrides, _) = BenchSetup.materialize(spark, sfDir, setupDir)
    val fns = SparkEntry.queries ++ overrides
    val results = names.map { name =>
      val fn = fns.getOrElse(name, sys.error(s"unknown query: $name"))
      noop(fn(spark, s"$testdata/sf0.001")) // JIT/classload warmup
      val secs = samples(spark, 3)(noop(fn(spark, sfDir)))
      s""""$name":[${secs.map(v => f"$v%.3f").mkString(",")}]"""
    }
    SilverWriter.deleteOnExit(setupDir)
    s"""{"probe":"time-query","sf":"$sfDir",${results.mkString(",")}}"""
  }

  /** One query's counters: caches dropped, listener reset, query forced
    * through the noop sink. */
  def countQuery(spark: SparkSession, counters: Counters, sfDir: String, name: String): Counts = {
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name"))
    dropCaches(spark)
    counters.measure(spark)(noop(fn(spark, sfDir)))
  }

  /** Counter totals for one measured region. The executor sums aggregate
    * every task's executorRunTime / executorCpuTime, so a sub-noise
    * expression rewrite can be checked against CPU seconds.
    * `codegenCompiles` is the number of generated classes Janino compiled
    * in the region: misses of the JVM-wide codegen cache, 0 when every
    * pipeline of the region was compiled before. */
  case class Counts(
      jobs: Long, stages: Long, tasks: Long, shuffleBytes: Long,
      shuffleRows: Long, executorRunMs: Long, executorCpuMs: Long,
      codegenCompiles: Long) {
    def json(query: String): String =
      s"""{"query":"$query","jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
        s""""shuffle_write_bytes":$shuffleBytes,"shuffle_write_rows":$shuffleRows,""" +
        s""""executor_run_ms":$executorRunMs,"executor_cpu_ms":$executorCpuMs,""" +
        s""""codegen_compiles":$codegenCompiles}"""
  }

  /** Janino compiles so far in this JVM: Spark records one compilation
    * time per codegen cache miss. */
  def codegenCompiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Listener counters: Spark jobs, stages, tasks, shuffle bytes and rows
    * written, executor run and CPU time; plus the codegen compiles of the
    * region. */
  final class Counters private () extends SparkListener {
    private val jobs, stages, tasks, shufBytes, shufRows, runMs, cpuNs = new AtomicLong

    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        shufBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shufRows.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
      }
    }

    /** Counters for `f` alone. The listener bus is drained before zeroing,
      * so a straggler event of an earlier region cannot leak in, and again
      * after `f`, so every task-end event of `f` is counted on any host
      * load. */
    def measure(spark: SparkSession)(f: => Unit): Counts = {
      ListenerShim.waitUntilListenerBusEmpty(spark.sparkContext)
      Seq(jobs, stages, tasks, shufBytes, shufRows, runMs, cpuNs).foreach(_.set(0))
      val compiles0 = codegenCompiles()
      f
      ListenerShim.waitUntilListenerBusEmpty(spark.sparkContext)
      Counts(jobs.get, stages.get, tasks.get, shufBytes.get, shufRows.get,
        runMs.get, cpuNs.get / 1000000, codegenCompiles() - compiles0)
    }
  }

  object Counters {
    def install(spark: SparkSession): Counters = {
      val c = new Counters
      spark.sparkContext.addSparkListener(c)
      c
    }
  }

  /** Finalize THIS dataframe's adaptive plan without collecting the result:
    * run the executedPlan's own RDD. `collect()` would OOM on large-SF pair
    * joins, and `df.foreach` or a noop write plan a SEPARATE QueryExecution
    * and leave this one's AQE unfinalized, so the audit would count the
    * static pre-AQE plan. */
  private def planAudit(spark: SparkSession, name: String, sfDir: String): Unit = {
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name"))
    val qe = fn(spark, sfDir).queryExecution
    qe.executedPlan.execute().foreach(_ => ())
    val plan = qe.executedPlan.toString
    println(plan)
    def n(pat: String) = pat.r.findAllIn(plan).length
    // a finalized adaptive plan prints each materialized exchange twice
    // (the ShuffleQueryStage wrapper AND its child Exchange) — the stage
    // count is the true shuffle count when stages exist
    val shuffles =
      if (n("ShuffleQueryStage") > 0) n("ShuffleQueryStage")
      else n("Exchange (hash|range|single)")
    println(s"--- audit: finalized=${plan.contains("isFinalPlan=true")}" +
      s" shuffles=$shuffles" +
      s" reused=${n("ReusedExchange")} broadcastJoins=${n("BroadcastHashJoin")}" +
      s" sortMergeJoins=${n("SortMergeJoin")}" +
      s" codegenSpans=${math.max(n("""\*\(\d+\)"""), n("WholeStageCodegen"))}" +
      s" cartesian=${n("CartesianProduct")}")
  }

  /** The STATIC plan (AQE not finalized), exactly what
    * `df.explain("formatted")` prints: what the optimizer planned from the
    * query shape alone, independent of runtime statistics. */
  private def planDump(
      spark: SparkSession, sfDir: String, outDir: String, suffix: String,
      names: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name"))
      val plan = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
      println(s"wrote $outDir/${name}_$suffix.txt (${plan.length} chars)")
    }
  }
}
