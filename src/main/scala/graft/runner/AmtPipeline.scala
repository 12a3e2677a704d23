package graft.runner

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.SilverReader
import graft.ops.Stats
import graft.views.{AmtView, ViewContext}

/** Registry of implemented AMT views (grows with the port of the
  * reference's 41-view census, SURVEY.md §2). */
object AmtRegistry {
  import graft.views.asmt._
  import graft.views.base._
  import graft.views.chrab._
  import graft.views.epp._
  import graft.views.equity._
  import graft.views.ews._
  import graft.views.rls._

  val all: Seq[AmtView] = Seq(
    GradingPeriodDim, DateDim, MostRecentGradingPeriod, SchoolDim,
    StaffSectionDim, StudentSectionDim, StudentSectionGradeFact,
    AllStudentSchoolDim, StudentSchoolDim, ContactPersonDim, DemographicsDim,
    StudentSchoolDemographicsBridge, StudentLeaDemographicsBridge,
    AcademicTimePeriodDim, ClassPeriodDim, LocalEducationAgencyDim,
    StudentProgramDim, StudentLocalEducationAgencyDim,
    StudentEarlyWarningFact, ChronicAbsenteeismAttendanceFact,
    FeederSchoolDim, StudentDisciplineActionDim, StudentHistoryDim,
    StudentProgramCohortDim,
    StudentSchoolFoodServiceProgramDim,
    RaceDescriptorDim, TermDescriptorDim, SexDescriptorDim, EppDim,
    EppFinancialAidFact, CandidateDim, CandidateSurveyDim,
    EvaluationElementRatingDim,
    SectionDim, AssessmentFact, StudentAssessmentFact,
    RlsStaffClassificationDescriptorScopeList, RlsStudentDataAuthorization,
    RlsUserDim, RlsUserAuthorization, RlsUserStudentDataAuthorization)

  val byName: Map[String, AmtView] = all.map(v => v.name -> v).toMap
}

/** Builds AMT gold views for one school year.
  *
  * The reference runs views sequentially and memoizes them via gold-parquet
  * read-back (pandasWrapper.py:219-256). Here:
  *   - `view(name)` resolves through one shared cache, so a dependency DAG
  *     like student_history_dim → 6 views evaluates each node once
  *     (SURVEY §7.4.8);
  *   - shared views are `.cache()`d (Spark's in-memory columnar cache
  *     replaces the parquet round-trip);
  *   - `writeAll` writes gold parquet partitioned by school year directory,
  *     matching the reference's `PARQUET_FILES_LOCATION/<year>/<view>`
  *     layout. Independent views are separate Spark jobs and can be
  *     submitted concurrently from driver threads at scale.
  */
final class AmtPipeline(
    spark: SparkSession,
    silverRoot: String,
    schoolYear: String
) {
  private val reader = SilverReader(spark, silverRoot, schoolYear)
  private val built = new ConcurrentHashMap[String, DataFrame]
  private val endpoints = new ConcurrentHashMap[String, DataFrame]
  private val locks = new ConcurrentHashMap[String, Object]

  /** Striped memoization (round-12 optimization, guide §2.6): the old
    * instance-`synchronized` resolvers serialized ALL plan construction —
    * with 4-8 writer threads, every thread queued behind whichever view
    * was resolving, and the ConcurrencyProbe ladder flattened past 4
    * threads. Per-NAME locks let independent views' Catalyst analysis
    * run concurrently while a dependency shared by two threads is still
    * built exactly once (second requester blocks on that name's lock,
    * then reads the memo). Lock ordering follows the acyclic view DAG
    * (a builder only requests its dependencies), so no cycles — and the
    * endpoint locks are leaves. Keyed by "v:"/"e:" prefix so a view and
    * an endpoint sharing a name never share a lock. */
  private def memo(map: ConcurrentHashMap[String, DataFrame], key: String)(
      build: => DataFrame): DataFrame = {
    val hit = map.get(key)
    if (hit != null) return hit
    val lock = locks.computeIfAbsent(key, _ => new Object)
    lock.synchronized {
      val again = map.get(key)
      if (again != null) again
      else { val df = build; map.put(key, df); df }
    }
  }

  /** Endpoints consumed by ≥3 views (studentSchoolAssociations feeds 9 of
    * them): cache the parsed silver frame so the JSON scan+parse runs once
    * per pipeline, not once per consuming view. Cold endpoints stay
    * uncached — caching a frame read once only costs memory. */
  private val hotEndpoints: Set[String] = AmtRegistry.all
    .flatMap(_.endpointDeps)
    .groupBy(identity).collect { case (e, uses) if uses.size >= 3 => e }
    .toSet

  private def endpoint(name: String): DataFrame = memo(endpoints, s"e:$name") {
    val df = reader.read(name)
    if (hotEndpoints(name)) df.cache() else df
  }

  private val ctx: ViewContext =
    ViewContext(spark, endpoint = this.endpoint, view = this.view)

  def view(name: String): DataFrame = memo(built, s"v:$name") {
    val v = AmtRegistry.byName.getOrElse(name,
      throw new IllegalArgumentException(s"unknown view: $name"))
    val df = v.build(ctx)
    // cache only views other views depend on; leaf views stream to gold
    if (AmtRegistry.all.exists(_.viewDeps.contains(name))) df.cache() else df
  }

  /** One-call key-skew diagnostic for a view: [[Stats.keySkew]] over the
    * built view on `keyCol` (default: the view's leading output column —
    * for the AMT facts that is the key downstream consumers join and
    * group on). This is the measurement step the salting decision needs:
    * run it at production scale, and reach for [[graft.ops.Joins.saltedJoin]]
    * only when the reported share/skew_ratio says AQE skew handling won't
    * be enough — data-driven, not folklore. */
  def diagnose(viewName: String, keyCol: Option[String] = None,
      topN: Int = 10): DataFrame = {
    val v = AmtRegistry.byName.getOrElse(viewName,
      throw new IllegalArgumentException(s"unknown view: $viewName"))
    Stats.keySkew(view(viewName), keyCol.getOrElse(v.outputColumns.head), topN)
  }

  /** One-call data-quality report for a built view
    * ([[graft.ops.Audit.audit]]): the leading output column — the surrogate
    * key downstream consumers join on — is checked NOT NULL and (by
    * default) UNIQUE, plus any caller-declared extra checks. The reference
    * pipeline publishes gold with no audit at all; its empty-input
    * tolerance means a malformed silver delivery flows through silently —
    * this is the gate a production deployment runs between `writeAll` and
    * publication. Returns the (check_name, violations, rows_checked)
    * report; the caller decides the quarantine policy.
    *
    * Note: several AMT views are legitimately non-unique on their leading
    * column (bridge tables keyed by composite membership) — pass
    * `expectUniqueKey = false` for those, or supply the composite via
    * `extraChecks` with [[graft.ops.Audit.UniqueKey]]. */
  def qualityReport(
      viewName: String,
      expectUniqueKey: Boolean = true,
      extraChecks: Seq[graft.ops.Audit.Check] = Seq.empty): DataFrame = {
    val v = AmtRegistry.byName.getOrElse(viewName,
      throw new IllegalArgumentException(s"unknown view: $viewName"))
    val key = v.outputColumns.head
    val checks = Seq(graft.ops.Audit.NotNull(key)) ++
      (if (expectUniqueKey) Seq(graft.ops.Audit.UniqueKey(Seq(key))) else Seq.empty) ++
      extraChecks
    graft.ops.Audit.audit(view(viewName), checks)
  }

  /** Write every view to gold parquet. Independent view jobs are submitted
    * from `parallelism` driver threads — Spark schedules concurrent jobs
    * fine, and at cluster scale this keeps executors busy while a deep
    * view's long stage chain resolves. Plan construction (`view`) is
    * synchronized (the memoized DAG), the write actions are not.
    *
    * MEASURED (`Measure probe concurrency`, sf0.1 silver tree, local[32],
    * min of 3, cold caches per run): the full 41-view writeAll takes
    * 13.9 s at parallelism 1, 7.1 s at 2, 4.2 s at 4 (the default —
    * 3.3×), 3.8 s at 8 (3.7×, flattening where the shared EWS/chrab
    * spine and the synchronized plan cache serialize).
    *
    * Two layouts:
    *   - default (`partitionedByYear = false`): one directory per year,
    *     `<gold>/<year>/<view>.parquet` — the reference's
    *     `PARQUET_FILES_LOCATION/<year>/<view>` layout, right for
    *     consumers that always read one year.
    *   - `partitionedByYear = true`: one table per view,
    *     `<gold>/<view>.parquet/schoolYear=<year>/…` — a Hive-partitioned
    *     single table, right for cross-year consumers: a `schoolYear`
    *     filter prunes to one partition directory at plan time (asserted
    *     in PlanSpec), and an unfiltered scan unions all years with the
    *     year recovered as a partition column. Writes use dynamic
    *     partition overwrite so re-running year Y replaces ONLY
    *     `schoolYear=Y` — the incremental-year story: each year's run
    *     truncates its own partition and never touches history. */
  def writeAll(goldRoot: String, parallelism: Int = 4,
      partitionedByYear: Boolean = false): Unit =
    writeViews(AmtRegistry.all.map(_.name), goldRoot, parallelism,
      partitionedByYear)

  /** Write a SUBSET of views — the selective-rebuild path
    * ([[AmtLoop.runOnce]] computes which views a changed endpoint
    * actually reaches). View-on-view dependencies outside the subset are
    * resolved through the normal memoized `view` resolver (built
    * in-memory, not re-written), so a subset write never recomputes or
    * touches an unaffected view's gold file. */
  def writeViews(names: Seq[String], goldRoot: String, parallelism: Int = 4,
      partitionedByYear: Boolean = false): Unit = {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    import org.apache.spark.sql.functions.{col, lit}
    val unknown = names.filterNot(AmtRegistry.byName.contains)
    require(unknown.isEmpty, s"unknown views: ${unknown.mkString(", ")}")
    val pool = Executors.newFixedThreadPool(parallelism)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)

    def writeOne(v: AmtView): Unit = {
      // sort within partitions by the leading key column so parquet
      // row-group min/max stats prune consumer point-lookups (the
      // RLS views filter gold by user/student keys constantly)
      if (partitionedByYear)
        // sort AFTER adding the partition column and lead with it:
        // the file writer requires ordering by partition columns and
        // would otherwise inject its own SortExec over the constant
        // schoolYear — correct only by sorter-stability luck, and a
        // spill could reorder equal keys and void the row-group stats
        view(v.name).withColumn("schoolYear", lit(schoolYear))
          .sortWithinPartitions(col("schoolYear"), col(v.outputColumns.head))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("schoolYear")
          .parquet(s"$goldRoot/${v.name}.parquet")
      else
        view(v.name).sortWithinPartitions(col(v.outputColumns.head))
          .write.mode("overwrite")
          .parquet(s"$goldRoot/$schoolYear/${v.name}.parquet")
    }

    // Shared-spine scheduling (r13, guide §2.6 driver concurrency): views
    // other views depend on are cache()d by `view`, but the cache only
    // fills when the first ACTION computes it — and concurrent writer
    // jobs racing over a still-unfilled cache each compute the spine's
    // partitions themselves (Spark dedups cached blocks per partition
    // AFTER they land, not the in-flight computation). That duplicated
    // spine work is the measured reason the par4→par8 ladder was flat
    // (r12 ConcurrencyProbe). Chain each view's write future after a
    // cache-FILL future (one count) for every shared view in its
    // transitive dep closure: the spine materializes exactly once, and
    // dependents unblock the moment the fill lands — waiting on the
    // spine's own gold WRITE instead was measured 21% slower at par4
    // (parquet IO on the critical path). Views off the spine overlap
    // the fill from the pool's other threads.
    val shared: Set[String] = AmtRegistry.all.flatMap(_.viewDeps).toSet
    def closure(n: String): Set[String] = {
      val direct = AmtRegistry.byName(n).viewDeps.toSet
      direct ++ direct.flatMap(closure)
    }
    val nameSet = names.toSet
    val consumers: Map[String, Int] = names.flatMap(n => closure(n))
      .groupBy(identity).map { case (k, v) => k -> v.size }
    // spine = shared views ≥2 jobs would otherwise compute concurrently
    // (its own write counts as one consumer when it is being written)
    val spine: Set[String] = shared.filter(s =>
      consumers.getOrElse(s, 0) + (if (nameSet(s)) 1 else 0) >= 2)
    // one cache-fill future per spine view (count = full materialization),
    // itself chained after ITS spine deps; dependents — including the
    // spine view's own gold write — wait only for this fill, never for
    // another view's parquet IO
    val mats = scala.collection.mutable.Map.empty[String, Future[Unit]]
    def matOf(s: String): Future[Unit] = mats.getOrElseUpdate(s, {
      val waits = closure(s).intersect(spine).toSeq.map(matOf)
      Future.sequence(waits).flatMap(_ => Future { view(s).count(); () })
    })
    val writes = names.map { n =>
      val waits = (closure(n) ++ Set(n)).intersect(spine).toSeq.map(matOf)
      Future.sequence(waits).flatMap(_ =>
        Future { writeOne(AmtRegistry.byName(n)) })
    }
    try Await.result(Future.sequence(writes), Duration.Inf)
    finally pool.shutdown()
  }

  /** Unpersist every frame this pipeline cached (hot endpoints + shared
    * views). A long-lived loop ([[AmtLoop]]) builds a fresh pipeline per
    * iteration — without release the previous iteration's caches pin
    * executor memory for the session's lifetime.
    *
    * CONCURRENCY CONTRACT (ADVICE r12): release() must not run while a
    * build is in flight. The memos are striped per-name locks (not
    * instance-synchronized), so a concurrent release could clear `locks`
    * mid-build — a second requester would then mint a fresh lock and
    * double-build the same view — and unpersist frames a running build
    * still reads. Every current caller ([[AmtLoop]], writeAll users)
    * releases only after its Await completes; keep it that way. */
  def release(): Unit = synchronized {
    import scala.jdk.CollectionConverters._
    (endpoints.values.asScala ++ built.values.asScala).foreach(_.unpersist(false))
    endpoints.clear(); built.clear(); locks.clear()
  }
}
