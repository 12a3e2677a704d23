package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

import graft.views.{AmtView, ViewContext}

/** Incremental gold-view maintenance — the delta-batch merge path that
  * replaces the reference's rebuild-everything-every-hour ceiling
  * (reference dagster_config/schedules/schedule.py:8-10: the hourly job
  * re-extracts and fully recomputes all 41 views even when the ODS
  * advanced by one resource).
  *
  * The ingest layer already tracks change-version windows
  * ([[graft.ingest.ChangeVersionStore]], mirroring the reference's
  * api/changeVersion.py:57-94) and lands each window as an upsert batch
  * plus a `/deletes` twin (resource ids, api/api.py:133-136). This
  * operator consumes those batches at the GOLD layer:
  *
  *  1. [[applyCdc]] — advance an endpoint snapshot by one batch: rows
  *     whose `id` appears in the batch (upserted or deleted) are dropped
  *     from the snapshot, then the upserts are appended. The snapshot
  *     side never shuffles: the touched-id set is delta-sized and
  *     broadcast, so the corpus path is scan → broadcast anti-join →
  *     union → write.
  *  2. [[refreshView]] — advance a VIEW by rebuilding only the slice the
  *     delta can reach. A view is eligible when it has a SCOPE KEY
  *     (the [[Scope]] contract): every output row carries a scope value
  *     that is a pure function of the source rows sharing that value in
  *     the view's scoped endpoints (student-keyed endpoints for the
  *     student-grain facts, the school resource itself for schoolDim);
  *     the remaining endpoints are shared dimensions (calendars,
  *     descriptors, org chain) any drift in which triggers the
  *     [[graft.runner.AmtLoop]] full-rebuild path instead — the policy
  *     stays honest rather than silently wrong.
  *
  * Equivalence (the q340/q341 hash gates): for a scope-partitionable
  * view, semi-filtering the scoped endpoints to the affected scope set S
  * rebuilds exactly the output rows with scope ∈ S, so
  * `oldGold ⊳ S  ∪  rebuilt(S)` is row-identical to a full recompute
  * over the post-CDC snapshot. Deletes participate through
  * [[deleteScopes]]: the `/deletes` feed carries only resource ids, so
  * the scope values they vacate are recovered from the PRE-delta
  * snapshot (the only place those rows still exist).
  *
  * Scale shape (PlanSpec "incremental gold refresh" pin, one scoped
  * endpoint for schoolDim and two for the EWS fact): the gold corpus and
  * every scoped-endpoint corpus cross ZERO exchanges — each is scanned
  * once, meets only broadcast anti joins until a broadcast semi join
  * against the delta-sized key set cuts it to delta size; all shuffles in
  * the refresh plan are delta-sized (the rebuilt slice's own
  * aggregations).
  *
  * Measured, and the decision (`Measure probe incremental-gold`, EWS
  * fact, fixed delta, min of 3, cold caches; BENCH_NOTES "Incremental
  * gold: one refresh path"): [[refreshView]] is SCAN-BOUND, not flat —
  * every corpus parquet is read whole into the broadcast joins each
  * batch — but it beats the full rebuild at both measured corpus sizes,
  * and the gap widens with the corpus (4 cores, 1k-student delta: 2.4
  * vs 5.0 s at 100k students, 6.8 vs 38.7 s at 1M). A
  * bucket-pruned variant (scope-partitioned gold and endpoint layouts
  * plus an id→scope sidecar, reading and rewriting only the affected
  * buckets) was built and measured against it on the same 4 cores and
  * lost at every size: 7.7 vs 2.4 s at 100k, 16.7 vs 6.8 s at 1M, and it
  * lost at 32 cores too (round 12: 5.9 vs 2.3 s at 1×, 8.0 vs 7.4 s at
  * ×10). Its projected win needs buckets of tens of MB, far past any
  * measured scale, so it was deleted and [[refreshView]] is the one
  * scoped refresh.
  */
object IncrementalGold {

  /** Scoped-endpoint contract for one view: how to read the scope key
    * off each driving endpoint's rows, and the gold column that carries
    * it in the view output. Endpoints NOT listed are shared dimensions —
    * a change there invalidates every scope, and the caller must fall
    * back to a full rebuild ([[AmtLoop.affectedViews]] already routes
    * that case).
    *
    * `goldScopeOf` (r13): views whose output carries the scope only
    * INSIDE a concatenated surrogate key (the `<student>-<school>-…`
    * pattern, e.g. the equity program dims) supply an expression that
    * recovers it; the default reads the named column. The expression
    * must be exactly inverse to the key construction or the merge
    * anti-join misses rows — pinned per contract by the AmtViewsSpec
    * incremental ≡ full law. */
  final case class Scope(
      view: AmtView,
      goldScopeCol: String,
      scopedEndpoints: Map[String, DataFrame => Column],
      goldScopeOf: Option[DataFrame => Column] = None) {
    /** The scope value column on a gold/output frame. */
    def scopeColumn(df: DataFrame): Column =
      goldScopeOf.map(_(df)).getOrElse(df(goldScopeCol))
  }

  /** One endpoint's CDC batch: full upserted resources plus the
    * `/deletes` twin's ids (reference api/api.py:133-136 saves exactly
    * these two streams per change-version window). */
  final case class CdcBatch(upserts: DataFrame, deleteIds: DataFrame)

  /** Advance an endpoint snapshot by one CDC batch. Ed-Fi resource `id`s
    * are unique per endpoint, so upsert = delete-then-insert on `id`.
    * The snapshot (corpus-sized) is never shuffled: the touched-id set
    * is broadcast into a left-anti hash join. */
  def applyCdc(snapshot: DataFrame, batch: CdcBatch, idCol: String = "id"): DataFrame = {
    val touched = batch.upserts.select(col(idCol))
      .unionByName(batch.deleteIds.select(col(idCol)))
      .distinct()
    snapshot.join(broadcast(touched), Seq(idCol), "left_anti")
      .unionByName(batch.upserts)
  }

  /** Scope values vacated by a `/deletes` feed: the feed carries only
    * resource ids, so join them back to the PRE-delta snapshot (the only
    * surviving copy of the deleted rows) to learn which scope keys they
    * occupied. Delta-sized output; the snapshot side is a broadcast
    * semi-join — no corpus shuffle. */
  def deleteScopes(
      snapshot: DataFrame, deleteIds: DataFrame,
      scopeOf: DataFrame => Column, idCol: String = "id"): DataFrame = {
    val hit = snapshot.join(
      broadcast(deleteIds.select(col(idCol))), Seq(idCol), "left_semi")
    hit.select(scopeOf(hit).cast("string").as("scope"))
  }

  /** Union of scope keys touched by a set of per-endpoint deltas —
    * upsert rows contribute their own scope, delete ids contribute
    * through [[deleteScopes]] against the pre-delta snapshot.
    *
    * NOTE: this reads only the NEW scope off each upsert row. If an
    * upsert can RE-KEY a resource (same `id`, new scope value — Ed-Fi
    * key changes do this to studentUniqueId/schoolId), the vacated OLD
    * scope must be invalidated too: use [[batchScopes]], which recovers
    * it from the pre-delta snapshot. */
  def affectedScopes(
      perEndpoint: Seq[(DataFrame, DataFrame => Column)],
      spark: SparkSession): DataFrame = {
    val parts = perEndpoint.map { case (df, scopeOf) =>
      df.select(scopeOf(df).cast("string").as("scope"))
    }
    if (parts.isEmpty) {
      import spark.implicits._
      Seq.empty[String].toDF("scope")
    } else parts.reduce(_ unionByName _).distinct()
  }

  /** FULL affected-scope set for one endpoint's CDC batch, including the
    * pre-delta scopes VACATED by the batch: an upsert that re-keys a
    * resource (same `id`, new scope value) abandons its old scope exactly
    * the way a delete does, and the stale gold rows there must be rebuilt
    * or they survive the merge with now-wrong aggregates. New scopes come
    * off the upsert rows themselves; vacated scopes — of upserted AND
    * deleted ids — are recovered from the PRE-delta snapshot (the only
    * surviving copy of the old rows) via the same broadcast semi-join as
    * [[deleteScopes]]. Delta-sized output, no corpus shuffle. */
  def batchScopes(
      snapshot: DataFrame, batch: CdcBatch,
      scopeOf: DataFrame => Column, idCol: String = "id"): DataFrame = {
    val touched = batch.upserts.select(col(idCol))
      .unionByName(batch.deleteIds.select(col(idCol)))
    batch.upserts
      .select(scopeOf(batch.upserts).cast("string").as("scope"))
      .unionByName(deleteScopes(snapshot, touched, scopeOf, idCol))
      .distinct()
  }

  /** Rebuild only the affected slice of `scope.view` over the POST-CDC
    * endpoint state and merge it into the old gold snapshot.
    *
    *  - `newEndpoint` resolves every endpoint to its post-CDC full
    *    state (unscoped dimensions pass through whole);
    *  - scoped endpoints are semi-filtered to `affected` (broadcast —
    *    their corpus never shuffles), so the view builder only does
    *    delta-scoped work;
    *  - the merge drops the affected scopes from old gold via a
    *    broadcast anti-join (corpus scanned, never shuffled) and
    *    appends the rebuilt slice.
    *
    * View-on-view dependencies resolve through a local memoized context
    * over the SAME scoped endpoints, mirroring AmtPipeline's DAG
    * semantics for the rebuilt slice. */
  def refreshView(
      scope: Scope,
      oldGold: DataFrame,
      newEndpoint: String => DataFrame,
      affected: DataFrame): DataFrame = {
    val aff = normalizedScopes(affected)
    oldGold.join(broadcast(aff),
        scope.scopeColumn(oldGold).cast("string") === col("__scope"), "left_anti")
      .unionByName(rebuildSlice(scope, newEndpoint, aff))
  }

  /** Rebuild the view restricted to the affected scope set: scoped
    * endpoints are broadcast-semi-filtered (their corpus never shuffles),
    * shared dimensions pass through whole, and view-on-view dependencies
    * resolve through a local memoized context over the SAME scoped
    * endpoints — AmtPipeline's DAG semantics for the rebuilt slice. */
  private def rebuildSlice(
      scope: Scope,
      newEndpoint: String => DataFrame,
      aff: DataFrame): DataFrame = {
    val memo = mutable.Map.empty[String, DataFrame]
    lazy val ctx: ViewContext = ViewContext(
      aff.sparkSession,
      endpoint = name => {
        val full = newEndpoint(name)
        scope.scopedEndpoints.get(name) match {
          case Some(scopeOf) =>
            full.join(broadcast(aff),
              scopeOf(full).cast("string") === col("__scope"), "left_semi")
          case None => full
        }
      },
      view = n => memo.getOrElseUpdate(n,
        graft.runner.AmtRegistry.byName(n).build(ctx)))
    scope.view.build(ctx)
  }

  private def normalizedScopes(affected: DataFrame): DataFrame = affected
    .select(col(affected.columns.head).cast("string").as("__scope"))
    .distinct()

  /** The per-view scope contracts for the incrementally-maintainable
    * views proven by the q340/q341 gates. schoolDim is scoped by the
    * school resource itself (the org-chain joins are broadcast
    * dimensions); the EWS fact is scoped by the student across all five
    * student-keyed endpoints (the calendar is the shared spine
    * dimension). */
  val schoolDimScope: Scope = Scope(
    graft.views.base.SchoolDim,
    goldScopeCol = "SchoolKey",
    scopedEndpoints = Map(
      "schools" -> (df => df("schoolId"))))

  val ewsFactScope: Scope = Scope(
    graft.views.ews.StudentEarlyWarningFact,
    goldScopeCol = "StudentKey",
    scopedEndpoints = Map(
      "studentSchoolAssociations" ->
        (df => df("studentReference.studentUniqueId")),
      "studentSectionAssociations" ->
        (df => df("studentReference.studentUniqueId")),
      "studentSchoolAttendanceEvents" ->
        (df => df("studentReference.studentUniqueId")),
      "studentSectionAttendanceEvents" ->
        (df => df("studentReference.studentUniqueId")),
      "studentDisciplineIncidentBehaviorAssociations" ->
        (df => df("studentReference.studentUniqueId"))))

  /** chrab fact: same student grain as the EWS fact — every output row's
    * StudentKey is a pure function of the student-keyed endpoint rows
    * sharing it (enrollment spine + both attendance-event crosstabs);
    * the calendar is the shared spine dimension. Gated by q344. */
  val chrabFactScope: Scope = Scope(
    graft.views.chrab.ChronicAbsenteeismAttendanceFact,
    goldScopeCol = "StudentKey",
    scopedEndpoints = Map(
      "studentSchoolAssociations" ->
        (df => df("studentReference.studentUniqueId")),
      "studentSectionAssociations" ->
        (df => df("studentReference.studentUniqueId")),
      "studentSchoolAttendanceEvents" ->
        (df => df("studentReference.studentUniqueId")),
      "studentSectionAttendanceEvents" ->
        (df => df("studentReference.studentUniqueId"))))

  /** studentSectionGradeFact: grades is the single scoped endpoint (one
    * output row per qualifying grade row, keyed by its student);
    * gradingPeriods and the descriptor lookup are shared broadcast
    * dimensions. Gated by q345. */
  val sectionGradeFactScope: Scope = Scope(
    graft.views.ews.StudentSectionGradeFact,
    goldScopeCol = "StudentKey",
    scopedEndpoints = Map(
      "grades" ->
        (df => df("studentSectionAssociationReference.studentUniqueId"))))

  /** allStudentSchoolDim (the largest dimension,
    * all_student_school_dim/main.py:48-597): student grain across the
    * three student-keyed endpoints — enrollment spine, demographics
    * associations, and the student resource itself; schools is the
    * shared broadcast dimension (a school/LEA drift invalidates every
    * scope → full-rebuild route). Gated by q349. */
  val allStudentSchoolDimScope: Scope = Scope(
    graft.views.base.AllStudentSchoolDim,
    goldScopeCol = "StudentKey",
    scopedEndpoints = Map(
      "studentSchoolAssociations" ->
        (df => df("studentReference.studentUniqueId")),
      "studentEducationOrganizationAssociations" ->
        (df => df("studentReference.studentUniqueId")),
      "students" -> (df => df("studentUniqueId"))))

  /** studentSchoolDim — the VIEW-ON-VIEW chain (student_school_dim/
    * main.py:29-66 derives it from allStudentSchoolDim): same student
    * grain, same scoped endpoints; [[rebuildSlice]] resolves the parent
    * view through its memoized local context over the SAME scoped
    * endpoints, so the chain rebuild is delta-scoped end to end. Gated
    * by q350. */
  val studentSchoolDimScope: Scope = Scope(
    graft.views.base.StudentSchoolDim,
    goldScopeCol = "StudentKey",
    scopedEndpoints = allStudentSchoolDimScope.scopedEndpoints)

  // ------------------------------------------------------------------
  // Round-13 contract extension (VERDICT r12 item 3): the equity /
  // attendance spine. Each contract's grain-purity argument: every
  // output row's StudentKey is a pure function of the source rows
  // sharing that student id in the scoped endpoints (all joins to other
  // endpoints are shared dimensions passed whole — descriptor lookups,
  // org chain, section/course chain, calendar). Equivalence law
  // refreshView ≡ full-recompute is pinned per contract in AmtViewsSpec
  // ("scope contracts: incremental ≡ full on the equity spine").
  // ------------------------------------------------------------------

  private val byStudentRef: DataFrame => Column =
    df => df("studentReference.studentUniqueId")

  /** equity_studentDisciplineActionDim: one row per exploded discipline
    * action of a currently-enrolled student — actions and enrollment are
    * both student-keyed; the descriptor lookup is a shared broadcast
    * dimension. */
  val disciplineActionDimScope: Scope = Scope(
    graft.views.equity.StudentDisciplineActionDim,
    goldScopeCol = "StudentKey",
    scopedEndpoints = Map(
      "disciplineActions" -> byStudentRef,
      "studentSchoolAssociations" -> byStudentRef))

  /** base studentLocalEducationAgencyDim: student grain over the same
    * three student-keyed endpoints as allStudentSchoolDim (enrollment
    * spine, demographics associations, the student resource); the LEA
    * list is a shared broadcast dimension. */
  val studentLeaDimScope: Scope = Scope(
    graft.views.base.StudentLocalEducationAgencyDim,
    goldScopeCol = "StudentKey",
    scopedEndpoints = allStudentSchoolDimScope.scopedEndpoints)

  /** Recover the student id from a `<student>-<school>` surrogate key:
    * strip the trailing numeric school segment (schoolIds are longs, so
    * `-[0-9]+$` is exact even when the student id itself contains
    * hyphens). The program dims carry the scope only inside this
    * concatenation. */
  private val studentOfStudentSchoolKey: DataFrame => Column =
    df => org.apache.spark.sql.functions.regexp_replace(
      df("StudentSchoolKey"), "-[0-9]+$", "")

  /** equity_studentSchoolFoodServiceProgramDim: program associations and
    * the enrollment filter are student-keyed; program-type and service
    * descriptors are shared dimensions. The output has no bare
    * StudentKey column — the scope rides the StudentSchoolKey prefix. */
  val foodServiceProgramDimScope: Scope = Scope(
    graft.views.equity.StudentSchoolFoodServiceProgramDim,
    goldScopeCol = "StudentSchoolKey",
    scopedEndpoints = Map(
      "studentSchoolFoodServiceProgramAssociations" -> byStudentRef,
      "studentSchoolAssociations" -> byStudentRef),
    goldScopeOf = Some(studentOfStudentSchoolKey))

  /** equity_studentProgramCohortDim: cohort associations and enrollment
    * are student-keyed; the cohort catalog and its descriptors are
    * shared dimensions (a cohort edit drifts every member → full-rebuild
    * route, the honest policy). */
  val programCohortDimScope: Scope = Scope(
    graft.views.equity.StudentProgramCohortDim,
    goldScopeCol = "StudentSchoolKey",
    scopedEndpoints = Map(
      "studentCohortAssociations" -> byStudentRef,
      "studentSchoolAssociations" -> byStudentRef),
    goldScopeOf = Some(studentOfStudentSchoolKey))

  /** equity_studentHistoryDim — the DEEPEST view-on-view node (6 view
    * deps; student_history_dim/main.py:37-399): output is one row per
    * current student-school with per-STUDENT aggregations (enrollment
    * history, attendance rate, referrals, grade summary). Scoped
    * endpoints are the union of the student-keyed endpoints across its
    * whole dependency closure — allStudentSchoolDim/studentSchoolDim
    * (students, enrollment spine, demographics), the chrab fact (both
    * attendance crosstabs + section spine), the discipline dim
    * (disciplineActions), and its own grades scan. schoolDim, the
    * section/course chain, staff, descriptors and the calendar are
    * shared dimensions. [[rebuildSlice]]'s memoized local context
    * rebuilds the six parents over the SAME semi-filtered endpoints, so
    * the slice composes through the DAG exactly as q350 proved for the
    * one-level chain. */
  val studentHistoryDimScope: Scope = Scope(
    graft.views.equity.StudentHistoryDim,
    goldScopeCol = "StudentKey",
    scopedEndpoints = Map(
      "students" -> (df => df("studentUniqueId")),
      "studentSchoolAssociations" -> byStudentRef,
      "studentEducationOrganizationAssociations" -> byStudentRef,
      "studentSectionAssociations" -> byStudentRef,
      "studentSchoolAttendanceEvents" -> byStudentRef,
      "studentSectionAttendanceEvents" -> byStudentRef,
      "disciplineActions" -> byStudentRef,
      "grades" ->
        (df => df("studentSectionAssociationReference.studentUniqueId"))))
}
