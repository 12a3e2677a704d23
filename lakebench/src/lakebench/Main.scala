package lakebench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.GraftSession
import graft.runner.AmtRegistry

/** The AMT lake benchmark (see lakebench/README.md). One workload per process:
  *
  *   gold_serve     consumer point lookups and aggregates on published gold
  *   operators      a sweep of `SparkEntry.queries` operator shapes
  *
  * Closed loop, one client: each operation starts when the previous one has
  * returned. `--trace 0` measures the end-to-end metrics; `--trace 1` runs
  * the layer probe instead and reports the per-layer metrics. The last
  * stdout line is one JSON object: correct, attempted, failed, metrics. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      students: Int, work: Path, expected: Path, writeExpected: Boolean)

  val Workloads = Seq("gold_serve", "operators")
  val DefaultStudents = 300
  val SetupReps = 3
  /** Untimed reads that end the `gold_serve` set-up (two cycles of the mix). */
  val WarmupReads = 10
  /** JSON for the silver files, the spans and the result line. */
  val Mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val w = kv.getOrElse("workload", sys.error("--workload is required"))
    require(Workloads.contains(w), s"unknown workload $w; expected one of ${Workloads.mkString(", ")}")
    Args(w, kv.getOrElse("seed", "1").toLong, kv.getOrElse("seconds", "10").toDouble,
      kv.getOrElse("trace", "0") == "1", kv.getOrElse("students", DefaultStudents.toString).toInt,
      Paths.get(kv.getOrElse("work", ".bench_build/work")).toAbsolutePath,
      Paths.get(kv.getOrElse("expected", "lakebench/expected.json")).toAbsolutePath,
      argv.contains("--write-expected"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    deleteTree(a.work)
    Files.createDirectories(a.work)
    val t0 = System.nanoTime()
    val cores = GraftSession.defaultParallelism
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cores]").appName("lakebench")
        .config("spark.local.dir", a.work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString),
      shufflePartitions = cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val bench = new Bench(spark, a, cores, sessionS)
    val ok = try bench.run() finally {
      spark.stop()
      deleteTree(a.work)
    }
    sys.exit(if (ok) 0 else 1)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }

  def treeBytes(p: Path, suffix: String = ""): (Long, Long) = if (!Files.exists(p)) (0L, 0L) else {
    val s = Files.walk(p)
    try {
      val fs = s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(suffix) && !f.getFileName.toString.startsWith(".")).toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    } finally s.close()
  }

  def time[A](body: => A): (A, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  /** Order-insensitive content digest: row count plus two sums of row
    * hashes (decimal sums, so ANSI overflow checks never fire). */
  def digest(df: DataFrame): String = {
    val cols = df.columns.map(c => col(s"`$c`"))
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"),
        hash(cols: _*).cast("decimal(38,0)").as("m"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(0)), coalesce(sum("m"), lit(0)))
      .head()
    s"${r.getLong(0)}:${r.get(1)}:${r.get(2)}"
  }

  /** Views in dependency order (a view's view-dependencies come first). */
  lazy val viewOrder: Seq[String] = {
    val out = mutable.LinkedHashSet.empty[String]
    def visit(n: String): Unit = if (!out(n)) {
      AmtRegistry.byName(n).viewDeps.foreach(visit)
      out += n
    }
    AmtRegistry.all.map(_.name).foreach(visit)
    out.toSeq
  }
  lazy val silverEndpoints: Seq[String] = AmtRegistry.all.flatMap(_.endpointDeps).distinct.sorted
  /** The ten largest silver endpoints at the default size, timed one by one. */
  val LargestEndpoints = Seq("calendarDates", "grades", "parents", "studentAssessments",
    "studentEducationOrganizationAssociations", "studentParentAssociations",
    "studentSchoolAssociations", "studentSchoolAttendanceEvents", "studentSectionAssociations",
    "studentSectionAttendanceEvents")

  /** The `operators` sweep, also timed query by query in the layer probe;
    * each query builds its own state from the input tables. The
    * IncrementalGold refresh (`q341_incremental_ews_fact`) is left out: it
    * costs about 18 s even in a warm JVM, which neither a run nor the traced
    * run has room for within the per-run time limit. */
  val SweepQueries = Seq("q252_host_scc", "q136_host_kcore", "q271_host_ktruss",
    "q50_dedup_clusters", "q171_ensemble_dedup", "q29_dedup_simhash_pairs")
  /** Warm-up before the measured sweeps: the two broadest queries (a
    * fixpoint and the dedup ensemble). A full warm-up sweep would be
    * steadier, but costs about 30 s per run, which the time budget lacks. */
  val WarmupQueries = Seq("q252_host_scc", "q171_ensemble_dedup")
}
