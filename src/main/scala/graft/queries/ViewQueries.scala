package graft.queries

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{EndpointCatalog, Lake, SilverWriter}
import graft.runner.{AmtPipeline, AmtRegistry}
import graft.views.ViewContext

/** Oracle-backed AMT view queries (VERDICT r1 item 6).
  *
  * The golden tests pin view behavior against self-authored fixtures; these
  * queries put the two deepest views under the driver's DuckDB hash gate
  * instead. Each query derives Ed-Fi-shaped endpoint frames from the
  * synthetic sf tables (deterministic arithmetic on keys — both engines see
  * identical inputs), runs the REAL view builder through a [[ViewContext]],
  * and carries a DuckDB SQL mirror of the full view logic over the same
  * parquet tables.
  *
  * Parity subtleties encoded in the mirrors:
  *   - the descriptor map holds 'In Attendance' → AttendanceEvent.Present
  *     TWICE (reference descriptor_map.json duplicate, SURVEY §7.4.6), so
  *     the crosstab counts present events ×2 — the mirror multiplies by 2;
  *   - [[graft.ops.OrderedAgg.stringAgg]] breaks sort-key ties on the value
  *     itself, so the mirror's `string_agg(... ORDER BY keys, line)` spells
  *     the tiebreak out;
  *   - the stringAgg separator " \n" is a literal space + newline —
  *     `' ' || chr(10)` in DuckDB (a plain '\n' literal would be
  *     backslash-n).
  */
object ViewQueries {

  private def emptyEndpoint(spark: SparkSession, name: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], EndpointCatalog.schema(name))

  /** ViewContext over explicit endpoint frames; unnamed endpoints resolve
    * to empty frames with their catalog schema, and views resolve through
    * the real registry builders with memoization (the AmtPipeline DAG
    * semantics, minus the silver layer). */
  private def ctxWith(
      spark: SparkSession, endpoints: Map[String, DataFrame]): ViewContext = {
    val cache = mutable.Map.empty[String, DataFrame]
    lazy val ctx: ViewContext = ViewContext(
      spark,
      endpoint = n => endpoints.getOrElse(n, emptyEndpoint(spark, n)),
      view = n => cache.getOrElseUpdate(n, AmtRegistry.byName(n).build(ctx)))
    ctx
  }

  /** One scoped endpoint of a pruned-loop gate: its pre-delta snapshot,
    * the scope accessor, and the CDC batch advancing it. */
  private[graft] final case class ScopedEp(
      name: String, snapshot: DataFrame,
      scopeOf: DataFrame => org.apache.spark.sql.Column,
      batch: graft.ops.IncrementalGold.CdcBatch)

  /** A pruned-loop gate's full specification — shared between the
    * self-contained declared query and [[graft.BenchSetup]]'s
    * setup/operator split. */
  private[graft] final case class PrunedGate(
      scope: graft.ops.IncrementalGold.Scope,
      scoped: Seq[ScopedEp],
      shared: Map[String, DataFrame],
      orderCols: Seq[String])

  /** The FULL pruned incremental loop for one view (round-13 migration,
    * VERDICT r12 item 3 — q341/q344/q345 previously rode the scan-bound
    * [[graft.ops.IncrementalGold.refreshView]], whose broadcast semi/anti
    * joins still READ every corpus parquet whole per batch: their 100 TB
    * ceiling). Shape identical to the q348 gate, generalized to
    * multi-endpoint scopes:
    *
    *  1. standing lake state (what production carries between batches):
    *     each scoped endpoint laid out scope-partitioned with an
    *     id→scope keymap sidecar, the old gold laid out scope-partitioned;
    *  2. affected scopes from [[IncrementalGold.batchScopesPruned]] —
    *     vacated/re-keyed scopes recovered from the delta ids' keymap
    *     buckets, never a corpus scan;
    *  3. endpoints + keymaps advanced bucket-pruned
    *     ([[IncrementalGold.refreshEndpointPartitioned]]/[[IncrementalGold.refreshKeyMap]]);
    *  4. the view merged via [[IncrementalGold.refreshViewPruned]] with
    *     scoped endpoints served by [[IncrementalGold.readEndpointPruned]]
    *     (shared dimensions pass whole), reading and rewriting only
    *     affected buckets.
    *
    * Returns the refreshed gold read back (bucket column dropped) — each
    * caller's unchanged DuckDB oracle states the view over the FINAL
    * state, so the hash gate IS the pruned ≡ full-recompute proof. */
  private def fullyPrunedRefresh(
      s: SparkSession,
      scope: graft.ops.IncrementalGold.Scope,
      scoped: Seq[ScopedEp],
      shared: Map[String, DataFrame],
      nBuckets: Int = 16): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-pruned").toString
    SilverWriter.deleteOnExit(tmp)
    writeStandingState(s, scope, scoped, shared, tmp, nBuckets)
    refreshPruned(s, scope, scoped, shared, tmp, nBuckets)
  }

  /** The STANDING lake state the pruned loop amortizes across batches:
    * each scoped endpoint's scope-partitioned snapshot + id→scope keymap
    * and the old gold scope-partitioned. In production these are written
    * once and advanced per batch; the self-contained gates rebuild them
    * per invocation (correctness shape), while [[graft.BenchSetup]]
    * builds them ONCE under the bench's setup dir (timed under "setup")
    * so the timed query measures the per-batch refresh — exactly what a
    * production invocation pays. */
  private[graft] def writeStandingState(
      s: SparkSession,
      scope: graft.ops.IncrementalGold.Scope,
      scoped: Seq[ScopedEp],
      shared: Map[String, DataFrame],
      root: String,
      nBuckets: Int = 16): Unit = {
    import graft.ops.IncrementalGold
    val oldGold = ctxWith(s,
      scoped.map(e => e.name -> e.snapshot).toMap ++ shared)
      .view(scope.view.name)
    scoped.foreach { e =>
      IncrementalGold.writeEndpointPartitioned(
        e.snapshot, e.scopeOf, s"$root/ep-${e.name}", nBuckets)
      IncrementalGold.writeKeyMap(
        e.snapshot, e.scopeOf, s"$root/km-${e.name}", nBuckets)
    }
    IncrementalGold.writeGoldPartitioned(oldGold, scope, s"$root/gold", nBuckets)
  }

  /** One per-batch advance of a [[writeStandingState]] lake: keymap-served
    * affected scopes, endpoint + keymap + gold layouts refreshed bucket-
    * pruned, refreshed gold read back. Idempotent for a fixed batch —
    * re-applying the same batch to an already-advanced lake converges to
    * the same state (documented in [[graft.ops.IncrementalGold]]), which
    * is what lets the bench time it three times against one setup. */
  private[graft] def refreshPruned(
      s: SparkSession,
      scope: graft.ops.IncrementalGold.Scope,
      scoped: Seq[ScopedEp],
      shared: Map[String, DataFrame],
      root: String,
      nBuckets: Int = 16): DataFrame = {
    import graft.ops.IncrementalGold
    val affected = scoped.map { e =>
      IncrementalGold.batchScopesPruned(
        s, s"$root/km-${e.name}", nBuckets, e.batch, e.scopeOf)
    }.reduce(_ unionByName _).distinct().localCheckpoint(true)

    scoped.foreach { e =>
      IncrementalGold.refreshEndpointPartitioned(
        s, s"$root/ep-${e.name}", s"$root/stage-ep-${e.name}", nBuckets,
        e.batch, e.scopeOf, affected)
      IncrementalGold.refreshKeyMap(
        s, s"$root/km-${e.name}", s"$root/stage-km-${e.name}", nBuckets,
        e.batch, e.scopeOf)
    }
    val scopedNames = scoped.map(_.name).toSet
    IncrementalGold.refreshViewPruned(
      scope, s"$root/gold", s"$root/stage-gold", nBuckets,
      newEndpoint = name =>
        if (scopedNames(name))
          IncrementalGold.readEndpointPruned(s, s"$root/ep-$name", nBuckets, affected)
        else shared.getOrElse(name, emptyEndpoint(s, name)),
      affected = affected)
    Lake.open(s, s"$root/gold").drop(IncrementalGold.BucketCol)
  }

  // ---------------------------------------------------------------- q27
  /** ews_studentEarlyWarningFact end-to-end: customers enroll at their
    * nation's school, January-1995 order dates are the calendar (every 5th
    * day a holiday), orders are school-attendance events typed by
    * orderkey%4. Section/discipline endpoints stay empty — their flag
    * columns must come back all-zero, which the oracle asserts too. */
  private val q27 = Q(
    "q27_view_early_warning",
    (s, dir) => {
      val lake = Lake(s, dir)
      val cust = lake.customer.select(col("c_custkey"), col("c_nationkey"))

      val ssa = cust.select(
        struct(col("c_nationkey").cast("long").as("schoolId")).as("schoolReference"),
        struct(lit(1995L).as("schoolYear")).as("schoolYearTypeReference"),
        struct(col("c_custkey").cast("string").as("studentUniqueId")).as("studentReference"),
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
          struct(col("c_custkey").cast("string").as("studentUniqueId")).as("studentReference"),
          col("o_orderdate").cast("string").as("eventDate"),
          concat(lit("uri://ed-fi.org/AttendanceEventCategoryDescriptor#"),
            element_at(
              array(lit("In Attendance"), lit("Tardy"),
                lit("Excused Absence"), lit("Unexcused Absence")),
              (col("o_orderkey") % 4 + 1).cast("int")))
            .as("attendanceEventCategoryDescriptor"))

      val ctx = ctxWith(s, Map(
        "studentSchoolAssociations" -> ssa,
        "calendarDates" -> cal,
        "studentSchoolAttendanceEvents" -> att))
      ctx.view("ews_studentEarlyWarningFact")
        .orderBy("StudentKey", "SchoolKey", "DateKey")
    },
    Some("""
      WITH cal AS (
        SELECT n_nationkey AS school_id, d.date_str, d.is_instr
        FROM nation, (
          SELECT DISTINCT strftime(o_orderdate, '%Y-%m-%d') AS date_str,
                 CASE WHEN day(o_orderdate) % 5 <> 0 THEN 1 ELSE 0 END AS is_instr
          FROM orders
          WHERE o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-01-31') d),
      enr AS (
        SELECT c_nationkey AS school_id, CAST(c_custkey AS VARCHAR) AS student_key,
               CASE WHEN c_custkey % 10 = 0 THEN '19950120' ELSE '' END AS exit_key
        FROM customer),
      att AS (
        SELECT c_nationkey AS school_id, CAST(c_custkey AS VARCHAR) AS student_key,
               strftime(o_orderdate, '%Y-%m-%d') AS date_str,
               2 * SUM(CASE WHEN o_orderkey % 4 = 0 THEN 1 ELSE 0 END) AS present,
               SUM(CASE WHEN o_orderkey % 4 = 2 THEN 1 ELSE 0 END) AS excused,
               SUM(CASE WHEN o_orderkey % 4 = 3 THEN 1 ELSE 0 END) AS unexcused,
               SUM(CASE WHEN o_orderkey % 4 = 1 THEN 1 ELSE 0 END) AS tardy
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-01-31'
        GROUP BY 1, 2, 3)
      SELECT e.student_key AS StudentKey,
             CAST(c.school_id AS VARCHAR) AS SchoolKey,
             replace(c.date_str, '-', '') AS DateKey,
             CAST(c.is_instr AS INTEGER) AS IsInstructionalDay,
             CAST(1 AS INTEGER) AS IsEnrolled,
             CAST(COALESCE(a.present, 0) AS INTEGER) AS IsPresentSchool,
             CAST(COALESCE(a.excused, 0) AS INTEGER) AS IsAbsentFromSchoolExcused,
             CAST(COALESCE(a.unexcused, 0) AS INTEGER) AS IsAbsentFromSchoolUnexcused,
             CAST(COALESCE(a.tardy, 0) AS INTEGER) AS IsTardyToSchool,
             CAST(0 AS INTEGER) AS IsPresentHomeroom,
             CAST(0 AS INTEGER) AS IsAbsentFromHomeroomExcused,
             CAST(0 AS INTEGER) AS IsAbsentFromHomeroomUnexcused,
             CAST(0 AS INTEGER) AS IsTardyToHomeroom,
             CAST(0 AS INTEGER) AS IsPresentAnyClass,
             CAST(0 AS INTEGER) AS IsAbsentFromAnyClassExcused,
             CAST(0 AS INTEGER) AS IsAbsentFromAnyClassUnexcused,
             CAST(0 AS INTEGER) AS IsTardyToAnyClass,
             CAST(0 AS INTEGER) AS CountByDayOfStateOffenses,
             CAST(0 AS INTEGER) AS CountByDayOfConductOffenses
      FROM enr e
      JOIN cal c ON e.school_id = c.school_id
      LEFT JOIN att a ON a.school_id = e.school_id
        AND a.student_key = e.student_key AND a.date_str = c.date_str
      WHERE '19950105' <= replace(c.date_str, '-', '')
        AND (e.exit_key = '' OR e.exit_key >= replace(c.date_str, '-', ''))
        AND replace(c.date_str, '-', '') <= strftime(current_date, '%Y%m%d')
      ORDER BY StudentKey, SchoolKey, DateKey""")
  )

  // ---------------------------------------------------------------- q28
  /** equity_studentHistoryDim through its real 6-view DAG: nations are
    * schools (with a physical address so schoolDim keeps them), every
    * customer enrolls at their nation's school (custkey%10 withdrew
    * 1995-01-20), and custkey%7 carry a second, exited enrollment at the
    * next school — so EnrollmentHistory is a genuinely ordered multi-line
    * aggregate. Attendance/discipline/grades stay empty, exercising the
    * view's 100.0 / 0 / '' fallbacks under the hash gate. */
  private val q28 = Q(
    "q28_view_student_history",
    (s, dir) => {
      val lake = Lake(s, dir)
      val cust = lake.customer.select(
        col("c_custkey"), col("c_nationkey"), col("c_name"))

      val students = cust.select(
        col("c_custkey").cast("string").as("studentUniqueId"),
        col("c_name").as("firstName"),
        lit("Doe").as("lastSurname"),
        lit(null).cast("string").as("middleName"),
        lit(null).cast("string").as("birthDate"))

      val schools = lake.nation.select(
        col("n_nationkey").cast("long").as("schoolId"),
        col("n_name").as("nameOfInstitution"),
        lit("uri://ed-fi.org/SchoolTypeDescriptor#Regular").as("schoolTypeDescriptor"),
        struct(lit(null).cast("long").as("localEducationAgencyId"))
          .as("localEducationAgencyReference"),
        array(struct(
          lit("uri://ed-fi.org/AddressTypeDescriptor#Physical").as("addressTypeDescriptor"),
          lit("1 Main St").as("streetNumberName"),
          lit("Metro").as("city"),
          lit("uri://ed-fi.org/StateAbbreviationDescriptor#TX")
            .as("stateAbbreviationDescriptor"),
          lit("Central").as("nameOfCounty"))).as("addresses"))

      def enrollment(schoolId: org.apache.spark.sql.Column,
          entry: String, exit: org.apache.spark.sql.Column) =
        Seq(
          struct(schoolId.cast("long").as("schoolId")).as("schoolReference"),
          struct(col("c_custkey").cast("string").as("studentUniqueId"))
            .as("studentReference"),
          struct(lit(1995L).as("schoolYear")).as("schoolYearTypeReference"),
          lit(entry).as("entryDate"),
          lit(null).cast("string").as("entryGradeLevelDescriptor"),
          exit.as("exitWithdrawDate"))

      val ssa = cust.select(enrollment(col("c_nationkey"), "1995-01-05",
        when(col("c_custkey") % 10 === 0, "1995-01-20")
          .otherwise(lit(null).cast("string"))): _*)
        .unionByName(
          cust.filter(col("c_custkey") % 7 === 0)
            .select(enrollment((col("c_nationkey") + 1) % 25, "1994-01-05",
              lit("1996-06-30")): _*))

      val ctx = ctxWith(s, Map(
        "students" -> students,
        "schools" -> schools,
        "studentSchoolAssociations" -> ssa))
      ctx.view("equity_studentHistoryDim").orderBy("StudentKey", "StudentSchoolKey")
    },
    Some("""
      WITH enr AS (
        SELECT CAST(c_custkey AS VARCHAR) AS student_key,
               c_nationkey AS school_id,
               CASE WHEN c_custkey % 10 = 0 THEN '1995-01-20' ELSE '' END AS exit_date
        FROM customer
        UNION ALL
        SELECT CAST(c_custkey AS VARCHAR), (c_nationkey + 1) % 25, '1996-06-30'
        FROM customer WHERE c_custkey % 7 = 0),
      lines AS (
        SELECT e.student_key,
               CASE WHEN e.exit_date <> '' THEN n_name || ' ' || e.exit_date
                    ELSE n_name END AS line,
               CASE WHEN e.exit_date = '' THEN 1 ELSE 0 END AS is_enrolled,
               CASE WHEN e.exit_date = '' THEN -1
                    ELSE CAST(replace(e.exit_date, '-', '') AS BIGINT) END AS exit_num
        FROM enr e JOIN nation ON e.school_id = n_nationkey),
      hist AS (
        SELECT student_key,
               string_agg(line, ' ' || chr(10)
                          ORDER BY -is_enrolled, -exit_num, line) AS EnrollmentHistory
        FROM lines GROUP BY student_key)
      SELECT CAST(c_custkey AS VARCHAR) AS StudentKey,
             CAST(c_custkey AS VARCHAR) || '-' || CAST(c_nationkey AS VARCHAR)
               AS StudentSchoolKey,
             '' AS GradeSummary,
             CAST(c_nationkey AS VARCHAR) AS CurrentSchoolKey,
             CAST(100.0 AS DOUBLE) AS AttendanceRate,
             CAST(0 AS BIGINT) AS ReferralsAndSuspensions,
             h.EnrollmentHistory
      FROM customer
      JOIN hist h ON h.student_key = CAST(c_custkey AS VARCHAR)
      WHERE c_custkey % 10 <> 0
      ORDER BY StudentKey, StudentSchoolKey""")
  )

  // ---------------------------------------------------------------- q43
  /** chrab_chronicAbsenteeismAttendanceFact over the same derived
    * endpoints as q27 (customers enroll at their nation's school, January
    * 1995 order dates are the calendar, orders are attendance events).
    * Differences the mirror encodes: the spine keeps ONLY instructional
    * days; AttendanceEvent.Absence aggregates both Excused and Unexcused
    * code values (two map rows); all outputs are 0/1 flags, so the
    * duplicate 'In Attendance' map row is invisible here; section-level
    * events stay empty, pinning the section/homeroom flags at 0. */
  private val q43 = Q(
    "q43_view_chrab_attendance",
    (s, dir) => {
      val lake = Lake(s, dir)
      val cust = lake.customer.select(col("c_custkey"), col("c_nationkey"))

      val ssa = cust.select(
        struct(col("c_nationkey").cast("long").as("schoolId")).as("schoolReference"),
        struct(lit(1995L).as("schoolYear")).as("schoolYearTypeReference"),
        struct(col("c_custkey").cast("string").as("studentUniqueId")).as("studentReference"),
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
          struct(col("c_custkey").cast("string").as("studentUniqueId")).as("studentReference"),
          col("o_orderdate").cast("string").as("eventDate"),
          concat(lit("uri://ed-fi.org/AttendanceEventCategoryDescriptor#"),
            element_at(
              array(lit("In Attendance"), lit("Tardy"),
                lit("Excused Absence"), lit("Unexcused Absence")),
              (col("o_orderkey") % 4 + 1).cast("int")))
            .as("attendanceEventCategoryDescriptor"))

      val ctx = ctxWith(s, Map(
        "studentSchoolAssociations" -> ssa,
        "calendarDates" -> cal,
        "studentSchoolAttendanceEvents" -> att))
      ctx.view("chrab_chronicAbsenteeismAttendanceFact")
        .orderBy("StudentKey", "SchoolKey", "DateKey")
    },
    Some("""
      WITH cal AS (
        SELECT DISTINCT n_nationkey AS school_id,
               replace(strftime(o_orderdate, '%Y-%m-%d'), '-', '') AS date_key
        FROM orders, nation
        WHERE o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-01-31'
          AND day(o_orderdate) % 5 <> 0),
      enr AS (
        SELECT c_nationkey AS school_id, CAST(c_custkey AS VARCHAR) AS student_key,
               CASE WHEN c_custkey % 10 = 0 THEN '19950120' ELSE '' END AS exit_key
        FROM customer),
      att AS (
        SELECT c_nationkey AS school_id, CAST(c_custkey AS VARCHAR) AS student_key,
               replace(strftime(o_orderdate, '%Y-%m-%d'), '-', '') AS date_key,
               SUM(CASE WHEN o_orderkey % 4 = 0 THEN 1 ELSE 0 END) AS present,
               SUM(CASE WHEN o_orderkey % 4 IN (2, 3) THEN 1 ELSE 0 END) AS absence
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-01-31'
        GROUP BY 1, 2, 3)
      SELECT e.student_key || '-' || CAST(c.school_id AS VARCHAR) AS StudentSchoolKey,
             e.student_key AS StudentKey,
             CAST(c.school_id AS VARCHAR) AS SchoolKey,
             c.date_key AS DateKey,
             CAST(CASE WHEN COALESCE(a.present, 0) > 0 THEN 1 ELSE 0 END AS INTEGER)
               AS ReportedAsPresentAtSchool,
             CAST(CASE WHEN COALESCE(a.absence, 0) > 0 THEN 1 ELSE 0 END AS INTEGER)
               AS ReportedAsAbsentFromSchool,
             CAST(0 AS INTEGER) AS ReportedAsPresentAtHomeRoom,
             CAST(0 AS INTEGER) AS ReportedAsAbsentFromHomeRoom,
             CAST(0 AS INTEGER) AS ReportedAsIsPresentInAllSections,
             CAST(0 AS INTEGER) AS ReportedAsAbsentFromAnySection
      FROM enr e
      JOIN cal c ON e.school_id = c.school_id
      LEFT JOIN att a ON a.school_id = e.school_id
        AND a.student_key = e.student_key AND a.date_key = c.date_key
      WHERE '19950105' <= c.date_key
        AND (e.exit_key = '' OR e.exit_key >= c.date_key)
        AND c.date_key <= strftime(current_date, '%Y%m%d')
      ORDER BY StudentKey, SchoolKey, DateKey""")
  )

  // ---------------------------------------------------------------- q49
  /** The silver JSON scan path under the hash gate (VERDICT r2 item 3):
    * derived school/LEA endpoint frames are WRITTEN as silver-layout
    * multiLine JSON ([[SilverWriter]], reference helper.py:35-47 layout),
    * read back through [[graft.core.SilverReader]]'s schema'd scan inside a
    * real [[AmtPipeline]], and built into schoolDim. The ESC and SEA
    * endpoint directories are intentionally MISSING, so the empty-frame
    * fallback (pandasWrapper.py:84-85 semantics) is exercised end-to-end —
    * their name/key columns must come back as '', which the oracle pins.
    * The nested `addresses` array (one physical, one mailing element)
    * round-trips through JSON and drives the explode + constant-map filter. */
  private def derivedOrgSilver(s: SparkSession, dir: String): String = {
      val lake = Lake(s, dir)
      val schools = lake.nation.select(
        col("n_nationkey").cast("long").as("schoolId"),
        col("n_name").as("nameOfInstitution"),
        lit("uri://ed-fi.org/SchoolTypeDescriptor#Regular").as("schoolTypeDescriptor"),
        struct(col("n_regionkey").cast("long").as("localEducationAgencyId"))
          .as("localEducationAgencyReference"),
        array(
          struct(
            lit("uri://ed-fi.org/AddressTypeDescriptor#Physical").as("addressTypeDescriptor"),
            lit("uri://ed-fi.org/StateAbbreviationDescriptor#TX")
              .as("stateAbbreviationDescriptor"),
            concat(col("n_nationkey").cast("string"), lit(" Main St"))
              .as("streetNumberName"),
            lit("Metro").as("city"),
            lit("Central").as("nameOfCounty")),
          struct(
            lit("uri://ed-fi.org/AddressTypeDescriptor#Mailing").as("addressTypeDescriptor"),
            lit("uri://ed-fi.org/StateAbbreviationDescriptor#TX")
              .as("stateAbbreviationDescriptor"),
            lit("PO Box 1").as("streetNumberName"),
            lit("Metro").as("city"),
            lit("Central").as("nameOfCounty"))).as("addresses"))

      val leas = lake.region.select(
        col("r_regionkey").cast("long").as("localEducationAgencyId"),
        col("r_name").as("nameOfInstitution"))

      val silverRoot =
        java.nio.file.Files.createTempDirectory("graft-q49-silver").toString
      SilverWriter.write(schools, s"$silverRoot/1995/schools")
      SilverWriter.write(leas, s"$silverRoot/1995/localEducationAgencies")
      // lazy consumers still need the files; reclaim at JVM exit instead
      // (verify/bench run each query several times — don't accumulate)
      SilverWriter.deleteOnExit(silverRoot)
      silverRoot
  }

  private val schoolDimOracle = """
      SELECT CAST(n_nationkey AS VARCHAR) AS SchoolKey,
             n_name AS SchoolName,
             'Regular' AS SchoolType,
             CAST(n_nationkey AS VARCHAR) || ' Main St, Metro TX Central' AS SchoolAddress,
             'Metro' AS SchoolCity,
             'Central' AS SchoolCounty,
             'TX' AS SchoolState,
             r_name AS LocalEducationAgencyName,
             CAST(n_regionkey AS VARCHAR) AS LocalEducationAgencyKey,
             '' AS StateEducationAgencyName,
             '' AS StateEducationAgencyKey,
             '' AS EducationServiceCenterName,
             '' AS EducationServiceCenterKey
      FROM nation JOIN region ON n_regionkey = r_regionkey
      ORDER BY SchoolKey"""

  private val q49 = Q(
    "q49_silver_roundtrip_school_dim",
    (s, dir) => new AmtPipeline(s, derivedOrgSilver(s, dir), "1995")
      .view("schoolDim").orderBy("SchoolKey"),
    Some(schoolDimOracle)
  )

  // ---------------------------------------------------------------- q53
  /** The gold parquet sink (S6) under the hash gate: the same derived
    * silver tree as q49 is run through the REAL `AmtPipeline.writeAll`
    * (all 41 views, sorted-within-partitions parquet, overwrite layout
    * `gold/<year>/<view>.parquet`), and the result read BACK from the
    * written gold file — so the sink's file layout, sort, and overwrite
    * semantics all sit between the view builder and the oracle compare. */
  private val q53 = Q(
    "q53_gold_roundtrip_write_all",
    (s, dir) => {
      val goldRoot =
        java.nio.file.Files.createTempDirectory("graft-q53-gold").toString
      new AmtPipeline(s, derivedOrgSilver(s, dir), "1995").writeAll(goldRoot)
      SilverWriter.deleteOnExit(goldRoot)
      Lake.open(s, s"$goldRoot/1995/schoolDim.parquet").orderBy("SchoolKey")
    },
    Some(schoolDimOracle)
  )

  // ---------------------------------------------------------------- q340
  /** INCREMENTAL GOLD REFRESH, dim arm (VERDICT r9 item 1): schoolDim is
    * advanced by one change-version CDC batch instead of recomputed.
    * Customers are schools (custkey%5==0 get a mailing-only address and
    * never reach the view); the batch renames custkey%7==3 (upserts) and
    * deletes custkey%13==5 via the `/deletes` id feed. The query runs the
    * FULL incremental path — oldGold from the pre-delta snapshot,
    * [[IncrementalGold.applyCdc]] at the endpoint layer, affected scopes
    * from upserts + [[IncrementalGold.deleteScopes]], scoped rebuild +
    * broadcast anti-join merge — and the oracle states the view over the
    * FINAL state directly, so the hash match IS the
    * incremental ≡ full-recompute proof. */
  /** q340's fixture as a [[PrunedGate]] (shared with BenchSetup). */
  private[graft] def q340Gate(s: SparkSession, dir: String): PrunedGate = {
    import graft.ops.IncrementalGold
    {
      val lake = Lake(s, dir)
      val cust = lake.customer.select(
        col("c_custkey"), col("c_nationkey"), col("c_name"), col("c_mktsegment"))

      def schoolRows(df: DataFrame, renamed: Boolean): DataFrame = df.select(
        col("c_custkey").cast("string").as("id"),
        col("c_custkey").cast("long").as("schoolId"),
        (if (renamed) concat(col("c_name"), lit(" (renamed)"))
         else col("c_name")).as("nameOfInstitution"),
        lit("uri://ed-fi.org/SchoolTypeDescriptor#Regular")
          .as("schoolTypeDescriptor"),
        struct(col("c_nationkey").cast("long").as("localEducationAgencyId"))
          .as("localEducationAgencyReference"),
        array(struct(
          when(col("c_custkey") % 5 === 0,
            "uri://ed-fi.org/AddressTypeDescriptor#Mailing")
            .otherwise("uri://ed-fi.org/AddressTypeDescriptor#Physical")
            .as("addressTypeDescriptor"),
          lit("uri://ed-fi.org/StateAbbreviationDescriptor#TX")
            .as("stateAbbreviationDescriptor"),
          concat(col("c_custkey").cast("string"), lit(" Main St"))
            .as("streetNumberName"),
          col("c_mktsegment").as("city"),
          lit("Central").as("nameOfCounty"))).as("addresses"))

      val leas = lake.nation.select(
        col("n_nationkey").cast("long").as("localEducationAgencyId"),
        col("n_name").as("nameOfInstitution"),
        struct(lit(null).cast("long").as("educationServiceCenterId"))
          .as("educationServiceCenterReference"))

      val snapshot = schoolRows(cust, renamed = false)
      val upserts = schoolRows(cust.filter(col("c_custkey") % 7 === 3),
        renamed = true)
      val delIds = cust
        .filter(col("c_custkey") % 13 === 5 && col("c_custkey") % 7 =!= 3)
        .select(col("c_custkey").cast("string").as("id"))

      PrunedGate(IncrementalGold.schoolDimScope,
        scoped = Seq(ScopedEp("schools", snapshot,
          df => df("schoolId"), IncrementalGold.CdcBatch(upserts, delIds))),
        shared = Map("localEducationAgencies" -> leas),
        orderCols = Seq("SchoolKey"))
    }
  }

  private val q340 = Q(
    "q340_incremental_school_dim",
    (s, dir) => {
      // round-13 migration (VERDICT r12 item 3): the scan-bound
      // refreshView became the FULL pruned loop — endpoint + keymap +
      // gold layouts, keymap-served scope recovery, bucket-pruned
      // refresh. Oracle unchanged: the hash gate proves pruned ≡ full.
      val g = q340Gate(s, dir)
      fullyPrunedRefresh(s, g.scope, g.scoped, g.shared)
        .orderBy(g.orderCols.map(col): _*)
    },
    Some("""
      SELECT CAST(c_custkey AS VARCHAR) AS SchoolKey,
             CASE WHEN c_custkey % 7 = 3 THEN c_name || ' (renamed)'
                  ELSE c_name END AS SchoolName,
             'Regular' AS SchoolType,
             CAST(c_custkey AS VARCHAR) || ' Main St, ' || c_mktsegment
               || ' TX Central' AS SchoolAddress,
             c_mktsegment AS SchoolCity,
             'Central' AS SchoolCounty,
             'TX' AS SchoolState,
             n_name AS LocalEducationAgencyName,
             CAST(c_nationkey AS VARCHAR) AS LocalEducationAgencyKey,
             '' AS StateEducationAgencyName,
             '' AS StateEducationAgencyKey,
             '' AS EducationServiceCenterName,
             '' AS EducationServiceCenterKey
      FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
      WHERE c_custkey % 5 <> 0
        AND NOT (c_custkey % 13 = 5 AND c_custkey % 7 <> 3)
      ORDER BY SchoolKey""")
  )

  // ---------------------------------------------------------------- q341
  /** INCREMENTAL GOLD REFRESH, fact arm: the q27 EWS construction split
    * into an initial delivery (attendance events with orderkey%3 != 0)
    * and a CDC batch (the %3==0 events as upserts keyed by resource id =
    * orderkey; enrollment deletes for custkey%17==0 via the `/deletes`
    * feed). Affected students come from the upserted events' student
    * refs plus the deleted enrollments' students recovered from the
    * pre-delta snapshot; the fact is rebuilt ONLY for those students
    * (all five student-keyed endpoints semi-filtered, the calendar spine
    * passed whole) and merged over the old gold with a broadcast
    * anti-join. Oracle = q27's full-view SQL over the FINAL state (all
    * events, enrollment minus the deletes) — hash-exact means
    * incremental(old gold, delta) ≡ full recompute. */
  /** The shared q341/q344 fixture as a [[PrunedGate]]: enrollment spine +
    * split attendance delivery + calendar, parameterized by which fact
    * contract consumes it. */
  private[graft] def ewsChrabGate(
      s: SparkSession, dir: String,
      scope: graft.ops.IncrementalGold.Scope): PrunedGate = {
    import graft.ops.IncrementalGold
    {
      val lake = Lake(s, dir)
      val cust = lake.customer.select(col("c_custkey"), col("c_nationkey"))

      val ssa = cust.select(
        col("c_custkey").cast("string").as("id"),
        struct(col("c_nationkey").cast("long").as("schoolId")).as("schoolReference"),
        struct(lit(1995L).as("schoolYear")).as("schoolYearTypeReference"),
        struct(col("c_custkey").cast("string").as("studentUniqueId")).as("studentReference"),
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
          col("o_orderkey").cast("string").as("id"),
          struct(col("c_nationkey").cast("long").as("schoolId")).as("schoolReference"),
          struct(col("c_custkey").cast("string").as("studentUniqueId")).as("studentReference"),
          col("o_orderdate").cast("string").as("eventDate"),
          concat(lit("uri://ed-fi.org/AttendanceEventCategoryDescriptor#"),
            element_at(
              array(lit("In Attendance"), lit("Tardy"),
                lit("Excused Absence"), lit("Unexcused Absence")),
              (col("o_orderkey") % 4 + 1).cast("int")))
            .as("attendanceEventCategoryDescriptor"))

      // initial delivery vs the CDC batch
      val attInitial = att.filter(col("id").cast("long") % 3 =!= 0)
      val attUpserts = att.filter(col("id").cast("long") % 3 === 0)
      val ssaDelIds = ssa.filter(
        col("studentReference.studentUniqueId").cast("long") % 17 === 0)
        .select(col("id"))

      val studentOf = (df: DataFrame) => df("studentReference.studentUniqueId")
      PrunedGate(scope,
        scoped = Seq(
          ScopedEp("studentSchoolAssociations", ssa, studentOf,
            IncrementalGold.CdcBatch(ssa.limit(0), ssaDelIds)),
          ScopedEp("studentSchoolAttendanceEvents", attInitial, studentOf,
            IncrementalGold.CdcBatch(attUpserts, att.select(col("id")).limit(0)))),
        shared = Map("calendarDates" -> cal),
        orderCols = Seq("StudentKey", "SchoolKey", "DateKey"))
    }
  }

  private[graft] def q341Gate(s: SparkSession, dir: String): PrunedGate =
    ewsChrabGate(s, dir, graft.ops.IncrementalGold.ewsFactScope)
  private[graft] def q344Gate(s: SparkSession, dir: String): PrunedGate =
    ewsChrabGate(s, dir, graft.ops.IncrementalGold.chrabFactScope)

  private val q341 = Q(
    "q341_incremental_ews_fact",
    (s, dir) => {
      // round-13 migration (VERDICT r12 item 3): scan-bound refreshView →
      // the FULL pruned loop over both scoped endpoints (enrollment
      // deletes recover their vacated students from the ssa keymap, not a
      // corpus scan). Oracle unchanged: hash gate proves pruned ≡ full.
      val g = q341Gate(s, dir)
      fullyPrunedRefresh(s, g.scope, g.scoped, g.shared)
        .orderBy(g.orderCols.map(col): _*)
    },
    Some("""
      WITH cal AS (
        SELECT n_nationkey AS school_id, d.date_str, d.is_instr
        FROM nation, (
          SELECT DISTINCT strftime(o_orderdate, '%Y-%m-%d') AS date_str,
                 CASE WHEN day(o_orderdate) % 5 <> 0 THEN 1 ELSE 0 END AS is_instr
          FROM orders
          WHERE o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-01-31') d),
      enr AS (
        SELECT c_nationkey AS school_id, CAST(c_custkey AS VARCHAR) AS student_key,
               CASE WHEN c_custkey % 10 = 0 THEN '19950120' ELSE '' END AS exit_key
        FROM customer
        WHERE c_custkey % 17 <> 0),
      att AS (
        SELECT c_nationkey AS school_id, CAST(c_custkey AS VARCHAR) AS student_key,
               strftime(o_orderdate, '%Y-%m-%d') AS date_str,
               2 * SUM(CASE WHEN o_orderkey % 4 = 0 THEN 1 ELSE 0 END) AS present,
               SUM(CASE WHEN o_orderkey % 4 = 2 THEN 1 ELSE 0 END) AS excused,
               SUM(CASE WHEN o_orderkey % 4 = 3 THEN 1 ELSE 0 END) AS unexcused,
               SUM(CASE WHEN o_orderkey % 4 = 1 THEN 1 ELSE 0 END) AS tardy
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-01-31'
        GROUP BY 1, 2, 3)
      SELECT e.student_key AS StudentKey,
             CAST(c.school_id AS VARCHAR) AS SchoolKey,
             replace(c.date_str, '-', '') AS DateKey,
             CAST(c.is_instr AS INTEGER) AS IsInstructionalDay,
             CAST(1 AS INTEGER) AS IsEnrolled,
             CAST(COALESCE(a.present, 0) AS INTEGER) AS IsPresentSchool,
             CAST(COALESCE(a.excused, 0) AS INTEGER) AS IsAbsentFromSchoolExcused,
             CAST(COALESCE(a.unexcused, 0) AS INTEGER) AS IsAbsentFromSchoolUnexcused,
             CAST(COALESCE(a.tardy, 0) AS INTEGER) AS IsTardyToSchool,
             CAST(0 AS INTEGER) AS IsPresentHomeroom,
             CAST(0 AS INTEGER) AS IsAbsentFromHomeroomExcused,
             CAST(0 AS INTEGER) AS IsAbsentFromHomeroomUnexcused,
             CAST(0 AS INTEGER) AS IsTardyToHomeroom,
             CAST(0 AS INTEGER) AS IsPresentAnyClass,
             CAST(0 AS INTEGER) AS IsAbsentFromAnyClassExcused,
             CAST(0 AS INTEGER) AS IsAbsentFromAnyClassUnexcused,
             CAST(0 AS INTEGER) AS IsTardyToAnyClass,
             CAST(0 AS INTEGER) AS CountByDayOfStateOffenses,
             CAST(0 AS INTEGER) AS CountByDayOfConductOffenses
      FROM enr e
      JOIN cal c ON e.school_id = c.school_id
      LEFT JOIN att a ON a.school_id = e.school_id
        AND a.student_key = e.student_key AND a.date_str = c.date_str
      WHERE '19950105' <= replace(c.date_str, '-', '')
        AND (e.exit_key = '' OR e.exit_key >= replace(c.date_str, '-', ''))
        AND replace(c.date_str, '-', '') <= strftime(current_date, '%Y%m%d')
      ORDER BY StudentKey, SchoolKey, DateKey""")
  )

  // ---------------------------------------------------------------- q344
  /** INCREMENTAL GOLD REFRESH, chrab arm (VERDICT r10 item 1c): the q43
    * chronic-absenteeism fact advanced by one CDC batch through the new
    * [[IncrementalGold.chrabFactScope]] contract. Same delta shape as
    * q341 (attendance upserts for orderkey%3==0 events, enrollment
    * deletes for custkey%17==0 via the `/deletes` id feed), but the
    * affected-scope set comes from [[IncrementalGold.batchScopes]] — the
    * full-contract API that also recovers scopes VACATED by re-keying
    * upserts (here a no-op: event ids are delivery-disjoint, so the
    * pre-delta semi-join is empty — q345 exercises the non-empty case).
    * Oracle = q43's full-view SQL over the FINAL state; hash-exact means
    * incremental ≡ full recompute for a third of the 41 views. */
  private val q344 = Q(
    "q344_incremental_chrab_fact",
    (s, dir) => {
      // round-13 migration (VERDICT r12 item 3): the batchScopes corpus
      // semi-joins became keymap lookups; the refresh reads/rewrites only
      // affected buckets. Same fixture as q341 (ewsChrabGate), consumed
      // through the chrab contract. Oracle unchanged: hash gate proves
      // pruned ≡ full.
      val g = q344Gate(s, dir)
      fullyPrunedRefresh(s, g.scope, g.scoped, g.shared)
        .orderBy(g.orderCols.map(col): _*)
    },
    Some("""
      WITH cal AS (
        SELECT DISTINCT n_nationkey AS school_id,
               replace(strftime(o_orderdate, '%Y-%m-%d'), '-', '') AS date_key
        FROM orders, nation
        WHERE o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-01-31'
          AND day(o_orderdate) % 5 <> 0),
      enr AS (
        SELECT c_nationkey AS school_id, CAST(c_custkey AS VARCHAR) AS student_key,
               CASE WHEN c_custkey % 10 = 0 THEN '19950120' ELSE '' END AS exit_key
        FROM customer
        WHERE c_custkey % 17 <> 0),
      att AS (
        SELECT c_nationkey AS school_id, CAST(c_custkey AS VARCHAR) AS student_key,
               replace(strftime(o_orderdate, '%Y-%m-%d'), '-', '') AS date_key,
               SUM(CASE WHEN o_orderkey % 4 = 0 THEN 1 ELSE 0 END) AS present,
               SUM(CASE WHEN o_orderkey % 4 IN (2, 3) THEN 1 ELSE 0 END) AS absence
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-01-31'
        GROUP BY 1, 2, 3)
      SELECT e.student_key || '-' || CAST(c.school_id AS VARCHAR) AS StudentSchoolKey,
             e.student_key AS StudentKey,
             CAST(c.school_id AS VARCHAR) AS SchoolKey,
             c.date_key AS DateKey,
             CAST(CASE WHEN COALESCE(a.present, 0) > 0 THEN 1 ELSE 0 END AS INTEGER)
               AS ReportedAsPresentAtSchool,
             CAST(CASE WHEN COALESCE(a.absence, 0) > 0 THEN 1 ELSE 0 END AS INTEGER)
               AS ReportedAsAbsentFromSchool,
             CAST(0 AS INTEGER) AS ReportedAsPresentAtHomeRoom,
             CAST(0 AS INTEGER) AS ReportedAsAbsentFromHomeRoom,
             CAST(0 AS INTEGER) AS ReportedAsIsPresentInAllSections,
             CAST(0 AS INTEGER) AS ReportedAsAbsentFromAnySection
      FROM enr e
      JOIN cal c ON e.school_id = c.school_id
      LEFT JOIN att a ON a.school_id = e.school_id
        AND a.student_key = e.student_key AND a.date_key = c.date_key
      WHERE '19950105' <= c.date_key
        AND (e.exit_key = '' OR e.exit_key >= c.date_key)
        AND c.date_key <= strftime(current_date, '%Y%m%d')
      ORDER BY StudentKey, SchoolKey, DateKey""")
  )

  // ---------------------------------------------------------------- q345
  /** RE-KEYING upserts under the incremental hash gate (ADVICE r10,
    * IncrementalGold.scala:102): the studentSectionGradeFact's initial
    * delivery lands every orderkey%3==0 grade MIS-KEYED to a ghost
    * student (`ghost-<custkey>`), and the CDC batch re-keys those same
    * resource ids (same `id`, new studentUniqueId) to the real student —
    * the Ed-Fi key-change case. [[IncrementalGold.batchScopes]] recovers
    * the vacated ghost scopes from the PRE-delta snapshot, so the ghost
    * students' stale gold rows are rebuilt away; the old
    * `affectedScopes` (new-scope-only) would leave them alive and this
    * hash gate would fail. Deletes ride along (orderkey%11==0 of the
    * initial delivery). Oracle states the view over the FINAL state —
    * ghosts never appear. Also the q345 gate for the new
    * [[IncrementalGold.sectionGradeFactScope]] contract. */
  /** q345's fixture as a [[PrunedGate]] (shared with BenchSetup). */
  private[graft] def q345Gate(s: SparkSession, dir: String): PrunedGate = {
    import s.implicits._
    import graft.ops.IncrementalGold
    {
      val lake = Lake(s, dir)
      val base = lake.orders.join(
        lake.customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))

      def gradeRows(df: DataFrame, ghost: Boolean): DataFrame = df.select(
        col("o_orderkey").cast("string").as("id"),
        struct(
          lit("uri://ed-fi.org/GradingPeriodDescriptor#First")
            .as("gradingPeriodDescriptor"),
          lit(1L).as("periodSequence"),
          col("c_nationkey").cast("long").as("schoolId"),
          lit(1995L).as("schoolYear")).as("gradingPeriodReference"),
        struct(
          (if (ghost) concat(lit("ghost-"), col("c_custkey").cast("string"))
           else col("c_custkey").cast("string")).as("studentUniqueId"),
          col("c_nationkey").cast("long").as("schoolId"),
          lit("1995-08-01").as("beginDate"),
          lit("ALG-1").as("localCourseCode"),
          lit(1995L).as("schoolYear"),
          concat(lit("sec-"), (col("o_orderkey") % 3).cast("string"))
            .as("sectionIdentifier"),
          lit("Fall").as("sessionName")).as("studentSectionAssociationReference"),
        element_at(array(lit("A"), lit("B"), lit("C"), lit("D"), lit("F")),
          (col("o_orderkey") % 5 + 1).cast("int")).as("letterGradeEarned"),
        ((col("o_orderkey") % 20) * lit(5.0)).as("numericGradeEarned"),
        concat(lit("uri://ed-fi.org/GradeTypeDescriptor#"),
          element_at(
            array(lit("Grading Period"), lit("Semester"), lit("Final"), lit("Exam")),
            (col("o_orderkey") % 4 + 1).cast("int"))).as("gradeTypeDescriptor"))

      val snapshot = gradeRows(base.filter(col("o_orderkey") % 3 =!= 0), ghost = false)
        .unionByName(gradeRows(base.filter(col("o_orderkey") % 3 === 0), ghost = true))
      val upserts = gradeRows(base.filter(col("o_orderkey") % 3 === 0), ghost = false)
      val delIds = base
        .filter(col("o_orderkey") % 3 =!= 0 && col("o_orderkey") % 11 === 0)
        .select(col("o_orderkey").cast("string").as("id"))

      val gps = lake.nation.select(
        lit("uri://ed-fi.org/GradingPeriodDescriptor#First")
          .as("gradingPeriodDescriptor"),
        lit(1L).as("periodSequence"),
        struct(col("n_nationkey").cast("long").as("schoolId")).as("schoolReference"),
        struct(lit(1995L).as("schoolYear")).as("schoolYearTypeReference"),
        lit("1995-01-01").as("beginDate"))
      val gpd = Seq((7L, "First")).toDF("gradingPeriodDescriptorId", "codeValue")

      PrunedGate(IncrementalGold.sectionGradeFactScope,
        scoped = Seq(ScopedEp("grades", snapshot,
          df => df("studentSectionAssociationReference.studentUniqueId"),
          IncrementalGold.CdcBatch(upserts, delIds))),
        shared = Map("gradingPeriods" -> gps, "gradingPeriodDescriptors" -> gpd),
        orderCols = Seq("StudentKey", "SchoolKey", "GradingPeriodKey",
          "StudentSectionKey", "SectionKey", "NumericGradeEarned",
          "LetterGradeEarned", "GradeType"))
    }
  }

  private val q345 = Q(
    "q345_incremental_section_grade_fact",
    (s, dir) => {
      // round-13 migration (VERDICT r12 item 3): the re-keying batch's
      // vacated GHOST scopes now come from the keymap's id-buckets
      // (q348's proven recovery path), and the refresh is bucket-pruned
      // end to end. Oracle unchanged: hash gate proves pruned ≡ full —
      // ghosts never appear.
      val g = q345Gate(s, dir)
      fullyPrunedRefresh(s, g.scope, g.scoped, g.shared)
        .orderBy(g.orderCols.map(col): _*)
    },
    Some("""
      SELECT CAST(c_custkey AS VARCHAR) AS StudentKey,
             CAST(c_nationkey AS VARCHAR) AS SchoolKey,
             '7-' || CAST(c_nationkey AS VARCHAR) || '-19950101' AS GradingPeriodKey,
             CAST(c_custkey AS VARCHAR) || '-' || CAST(c_nationkey AS VARCHAR)
               || '-ALG-1-1995-sec-' || CAST(o_orderkey % 3 AS VARCHAR)
               || '-Fall-19950801' AS StudentSectionKey,
             CAST(c_nationkey AS VARCHAR) || '-ALG-1-1995-sec-'
               || CAST(o_orderkey % 3 AS VARCHAR) || '-Fall' AS SectionKey,
             CASE WHEN o_orderkey % 20 = 0 THEN 95.0
                  ELSE CAST(o_orderkey % 20 AS DOUBLE) * 5.0 END
               AS NumericGradeEarned,
             CASE o_orderkey % 5 WHEN 0 THEN 'A' WHEN 1 THEN 'B' WHEN 2 THEN 'C'
                  WHEN 3 THEN 'D' ELSE 'F' END AS LetterGradeEarned,
             CASE o_orderkey % 4 WHEN 0 THEN 'Grading Period'
                  WHEN 1 THEN 'Semester' ELSE 'Final' END AS GradeType
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE o_orderkey % 4 <> 3
        AND NOT (o_orderkey % 3 <> 0 AND o_orderkey % 11 = 0)
      ORDER BY StudentKey, SchoolKey, GradingPeriodKey, StudentSectionKey,
               SectionKey, NumericGradeEarned, LetterGradeEarned, GradeType""")
  )

  // ---------------------------------------------------------------- q346
  /** PARTITION-PRUNED incremental refresh (VERDICT r10 item 1b): q340's
    * schoolDim delta served from a [[IncrementalGold.writeGoldPartitioned]]
    * layout — gold hash-partitioned on the scope key, the merge reading
    * ONLY the affected buckets (partition-pruned scan, PlanSpec-pinned)
    * and rewriting ONLY those partitions via dynamic partition overwrite.
    * The query round-trips the WHOLE refreshed lake back through the
    * partitioned layout, so the hash gate proves the pruned path leaves
    * untouched buckets byte-correct while landing the same final state
    * as q340's scan-bound merge. Oracle identical to q340's. */
  private val q346 = Q(
    "q346_incremental_pruned_school_dim",
    (s, dir) => {
      import graft.ops.IncrementalGold
      val lake = Lake(s, dir)
      val cust = lake.customer.select(
        col("c_custkey"), col("c_nationkey"), col("c_name"), col("c_mktsegment"))

      def schoolRows(df: DataFrame, renamed: Boolean): DataFrame = df.select(
        col("c_custkey").cast("string").as("id"),
        col("c_custkey").cast("long").as("schoolId"),
        (if (renamed) concat(col("c_name"), lit(" (renamed)"))
         else col("c_name")).as("nameOfInstitution"),
        lit("uri://ed-fi.org/SchoolTypeDescriptor#Regular")
          .as("schoolTypeDescriptor"),
        struct(col("c_nationkey").cast("long").as("localEducationAgencyId"))
          .as("localEducationAgencyReference"),
        array(struct(
          when(col("c_custkey") % 5 === 0,
            "uri://ed-fi.org/AddressTypeDescriptor#Mailing")
            .otherwise("uri://ed-fi.org/AddressTypeDescriptor#Physical")
            .as("addressTypeDescriptor"),
          lit("uri://ed-fi.org/StateAbbreviationDescriptor#TX")
            .as("stateAbbreviationDescriptor"),
          concat(col("c_custkey").cast("string"), lit(" Main St"))
            .as("streetNumberName"),
          col("c_mktsegment").as("city"),
          lit("Central").as("nameOfCounty"))).as("addresses"))

      val leas = lake.nation.select(
        col("n_nationkey").cast("long").as("localEducationAgencyId"),
        col("n_name").as("nameOfInstitution"),
        struct(lit(null).cast("long").as("educationServiceCenterId"))
          .as("educationServiceCenterReference"))

      val snapshot = schoolRows(cust, renamed = false)
      val upserts = schoolRows(cust.filter(col("c_custkey") % 7 === 3),
        renamed = true)
      val delIds = cust
        .filter(col("c_custkey") % 13 === 5 && col("c_custkey") % 7 =!= 3)
        .select(col("c_custkey").cast("string").as("id"))

      val oldGold = ctxWith(s, Map(
        "schools" -> snapshot, "localEducationAgencies" -> leas))
        .view("schoolDim")
      val tmp = java.nio.file.Files.createTempDirectory("graft-q346").toString
      SilverWriter.deleteOnExit(tmp)
      val goldPath = s"$tmp/gold"
      IncrementalGold.writeGoldPartitioned(
        oldGold, IncrementalGold.schoolDimScope, goldPath, nBuckets = 16)

      val batch = IncrementalGold.CdcBatch(upserts, delIds)
      val newSchools = IncrementalGold.applyCdc(snapshot, batch)
      val affected = IncrementalGold.batchScopes(
        snapshot, batch, df => df("schoolId"))

      IncrementalGold.refreshViewPruned(
        IncrementalGold.schoolDimScope, goldPath, s"$tmp/staging",
        nBuckets = 16,
        newEndpoint = {
          case "schools" => newSchools
          case "localEducationAgencies" => leas
          case other => emptyEndpoint(s, other)
        },
        affected = affected)

      Lake.open(s, goldPath)
        .drop(IncrementalGold.BucketCol)
        .orderBy("SchoolKey")
    },
    Some("""
      SELECT CAST(c_custkey AS VARCHAR) AS SchoolKey,
             CASE WHEN c_custkey % 7 = 3 THEN c_name || ' (renamed)'
                  ELSE c_name END AS SchoolName,
             'Regular' AS SchoolType,
             CAST(c_custkey AS VARCHAR) || ' Main St, ' || c_mktsegment
               || ' TX Central' AS SchoolAddress,
             c_mktsegment AS SchoolCity,
             'Central' AS SchoolCounty,
             'TX' AS SchoolState,
             n_name AS LocalEducationAgencyName,
             CAST(c_nationkey AS VARCHAR) AS LocalEducationAgencyKey,
             '' AS StateEducationAgencyName,
             '' AS StateEducationAgencyKey,
             '' AS EducationServiceCenterName,
             '' AS EducationServiceCenterKey
      FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
      WHERE c_custkey % 5 <> 0
        AND NOT (c_custkey % 13 = 5 AND c_custkey % 7 <> 3)
      ORDER BY SchoolKey""")
  )

  // ---------------------------------------------------------------- q348
  /** FULLY PRUNED incremental refresh (VERDICT r11 item 1b): q346's
    * schoolDim delta with the ENDPOINT side pruned too — the schools
    * snapshot laid out scope-partitioned
    * ([[IncrementalGold.writeEndpointPartitioned]]) with an id→scope
    * keymap sidecar ([[IncrementalGold.writeKeyMap]]), so the whole
    * refresh loop touches only affected buckets: scope recovery reads
    * the delta ids' keymap buckets (not the corpus), the endpoint and
    * keymap layouts advance by rewriting only affected buckets, and the
    * view rebuild reads the refreshed endpoint partition-pruned. q346
    * left the endpoint scans corpus-bound; this gate proves the pruned
    * loop end-to-end — hash-exact against the same full-recompute
    * oracle. */
  private val q348 = Q(
    "q348_incremental_fully_pruned_school_dim",
    (s, dir) => {
      import graft.ops.IncrementalGold
      val lake = Lake(s, dir)
      val cust = lake.customer.select(
        col("c_custkey"), col("c_nationkey"), col("c_name"), col("c_mktsegment"))

      def schoolRows(df: DataFrame, renamed: Boolean): DataFrame = df.select(
        col("c_custkey").cast("string").as("id"),
        col("c_custkey").cast("long").as("schoolId"),
        (if (renamed) concat(col("c_name"), lit(" (renamed)"))
         else col("c_name")).as("nameOfInstitution"),
        lit("uri://ed-fi.org/SchoolTypeDescriptor#Regular")
          .as("schoolTypeDescriptor"),
        struct(col("c_nationkey").cast("long").as("localEducationAgencyId"))
          .as("localEducationAgencyReference"),
        array(struct(
          when(col("c_custkey") % 5 === 0,
            "uri://ed-fi.org/AddressTypeDescriptor#Mailing")
            .otherwise("uri://ed-fi.org/AddressTypeDescriptor#Physical")
            .as("addressTypeDescriptor"),
          lit("uri://ed-fi.org/StateAbbreviationDescriptor#TX")
            .as("stateAbbreviationDescriptor"),
          concat(col("c_custkey").cast("string"), lit(" Main St"))
            .as("streetNumberName"),
          col("c_mktsegment").as("city"),
          lit("Central").as("nameOfCounty"))).as("addresses"))

      val leas = lake.nation.select(
        col("n_nationkey").cast("long").as("localEducationAgencyId"),
        col("n_name").as("nameOfInstitution"),
        struct(lit(null).cast("long").as("educationServiceCenterId"))
          .as("educationServiceCenterReference"))

      val snapshot = schoolRows(cust, renamed = false)
      val upserts = schoolRows(cust.filter(col("c_custkey") % 7 === 3),
        renamed = true)
      val delIds = cust
        .filter(col("c_custkey") % 13 === 5 && col("c_custkey") % 7 =!= 3)
        .select(col("c_custkey").cast("string").as("id"))

      val oldGold = ctxWith(s, Map(
        "schools" -> snapshot, "localEducationAgencies" -> leas))
        .view("schoolDim")
      val tmp = java.nio.file.Files.createTempDirectory("graft-q348").toString
      SilverWriter.deleteOnExit(tmp)
      val nBuckets = 16
      val scopeOf = (df: DataFrame) => df("schoolId")
      IncrementalGold.writeEndpointPartitioned(
        snapshot, scopeOf, s"$tmp/schools", nBuckets)
      IncrementalGold.writeKeyMap(snapshot, scopeOf, s"$tmp/keymap", nBuckets)
      IncrementalGold.writeGoldPartitioned(
        oldGold, IncrementalGold.schoolDimScope, s"$tmp/gold", nBuckets)

      val batch = IncrementalGold.CdcBatch(upserts, delIds)
      val affected = IncrementalGold.batchScopesPruned(
        s, s"$tmp/keymap", nBuckets, batch, scopeOf)

      IncrementalGold.refreshEndpointPartitioned(
        s, s"$tmp/schools", s"$tmp/stage-ep", nBuckets, batch, scopeOf, affected)
      IncrementalGold.refreshKeyMap(
        s, s"$tmp/keymap", s"$tmp/stage-km", nBuckets, batch, scopeOf)
      IncrementalGold.refreshViewPruned(
        IncrementalGold.schoolDimScope, s"$tmp/gold", s"$tmp/stage-gold",
        nBuckets,
        newEndpoint = {
          case "schools" => IncrementalGold.readEndpointPruned(
            s, s"$tmp/schools", nBuckets, affected)
          case "localEducationAgencies" => leas
          case other => emptyEndpoint(s, other)
        },
        affected = affected)

      Lake.open(s, s"$tmp/gold")
        .drop(IncrementalGold.BucketCol)
        .orderBy("SchoolKey")
    },
    Some("""
      SELECT CAST(c_custkey AS VARCHAR) AS SchoolKey,
             CASE WHEN c_custkey % 7 = 3 THEN c_name || ' (renamed)'
                  ELSE c_name END AS SchoolName,
             'Regular' AS SchoolType,
             CAST(c_custkey AS VARCHAR) || ' Main St, ' || c_mktsegment
               || ' TX Central' AS SchoolAddress,
             c_mktsegment AS SchoolCity,
             'Central' AS SchoolCounty,
             'TX' AS SchoolState,
             n_name AS LocalEducationAgencyName,
             CAST(c_nationkey AS VARCHAR) AS LocalEducationAgencyKey,
             '' AS StateEducationAgencyName,
             '' AS StateEducationAgencyKey,
             '' AS EducationServiceCenterName,
             '' AS EducationServiceCenterKey
      FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
      WHERE c_custkey % 5 <> 0
        AND NOT (c_custkey % 13 = 5 AND c_custkey % 7 <> 3)
      ORDER BY SchoolKey""")
  )

  // ------------------------------------------------------------ q349/q350
  /** Shared fixture for the allStudentSchoolDim → studentSchoolDim
    * incremental chain: customers are students at their nation's school
    * (LEA = region + 100, disjoint from school ids so the edOrg
    * school/district join arms can't cross-match), demographics live in
    * studentEducationOrganizationAssociations at SCHOOL level for even
    * custkeys and DISTRICT level for custkey%3==0 — exercising the
    * reference's school-first/district-fallback cascade
    * (all_student_school_dim/main.py:429-483). The CDC batch touches all
    * three scoped endpoints: grade-level upserts on the enrollment spine
    * (%7==3), sex re-statements on the school-level demographics
    * (%22==8), and student DELETES via the `/deletes` id feed (%13==5,
    * scope recovered from the pre-delta snapshot). */
  private final case class StudentChain(
      students: DataFrame, schools: DataFrame, ssa: DataFrame,
      edorg: DataFrame, studentsBatch: graft.ops.IncrementalGold.CdcBatch,
      ssaBatch: graft.ops.IncrementalGold.CdcBatch,
      edorgBatch: graft.ops.IncrementalGold.CdcBatch)

  private def studentChainFixture(s: SparkSession, dir: String): StudentChain = {
    import graft.ops.IncrementalGold.CdcBatch
    val lake = Lake(s, dir)
    val cust = lake.customer.select(
      col("c_custkey"), col("c_nationkey"), col("c_name"))

    val students = cust.select(
      col("c_custkey").cast("string").as("id"),
      col("c_custkey").cast("string").as("studentUniqueId"),
      lit("1988-03-01").as("birthDate"),
      col("c_name").as("firstName"),
      when(col("c_custkey") % 3 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("M"), col("c_custkey").cast("string")))
        .as("middleName"),
      concat(lit("Last"), (col("c_custkey") % 50).cast("string"))
        .as("lastSurname"))

    // LEA id = schoolId%5 + 100: disjoint from the school-id space (so
    // the edOrg school/district join arms can't cross-match) and
    // computable from c_nationkey on the edorg side without a join
    val schools = lake.nation.select(
      col("n_nationkey").cast("long").as("schoolId"),
      struct((col("n_nationkey") % 5 + 100).cast("long")
        .as("localEducationAgencyId")).as("localEducationAgencyReference"))

    val ssaRows = (df: DataFrame, tenth: Boolean) => df.select(
      col("c_custkey").cast("string").as("id"),
      struct(col("c_nationkey").cast("long").as("schoolId")).as("schoolReference"),
      struct(col("c_custkey").cast("string").as("studentUniqueId")).as("studentReference"),
      struct(lit(1995L).as("schoolYear")).as("schoolYearTypeReference"),
      lit("1995-01-05").as("entryDate"),
      lit(s"uri://ed-fi.org/GradeLevelDescriptor#${if (tenth) "Tenth" else "Ninth"} grade")
        .as("entryGradeLevelDescriptor"),
      when(col("c_custkey") % 10 === 0, "1995-01-20")
        .otherwise(lit(null).cast("string")).as("exitWithdrawDate"))
    val ssa = ssaRows(cust, false)

    val indType = "array<struct<indicatorName:string,indicator:string>>"
    val edorgSchool = (df: DataFrame, sexOverride: Option[String]) => df.select(
      concat(lit("es-"), col("c_custkey").cast("string")).as("id"),
      struct(col("c_nationkey").cast("long").as("educationOrganizationId"))
        .as("educationOrganizationReference"),
      struct(col("c_custkey").cast("string").as("studentUniqueId")).as("studentReference"),
      (col("c_custkey") % 4 === 0).as("hispanicLatinoEthnicity"),
      when(col("c_custkey") % 5 === 2,
        "uri://ed-fi.org/LimitedEnglishProficiencyDescriptor#Limited")
        .otherwise(lit(null).cast("string"))
        .as("limitedEnglishProficiencyDescriptor"),
      sexOverride.map(v => lit(s"uri://ed-fi.org/SexDescriptor#$v"))
        .getOrElse(
          when(col("c_custkey") % 4 === 0, "uri://ed-fi.org/SexDescriptor#Female")
            .otherwise(lit("uri://ed-fi.org/SexDescriptor#Male")))
        .as("sexDescriptor"),
      when(col("c_custkey") % 7 === 0,
        array(struct(lit("Digital Device").as("indicatorName"),
          lit("Yes").as("indicator"))))
        .otherwise(lit(null).cast(indType)).as("studentIndicators"))
    val edorgDistrict = (df: DataFrame) => df.select(
      concat(lit("ed-"), col("c_custkey").cast("string")).as("id"),
      struct((col("c_nationkey") % 5 + 100).cast("long")
        .as("educationOrganizationId")).as("educationOrganizationReference"),
      struct(col("c_custkey").cast("string").as("studentUniqueId")).as("studentReference"),
      lit(true).as("hispanicLatinoEthnicity"),
      lit(null).cast("string").as("limitedEnglishProficiencyDescriptor"),
      lit("uri://ed-fi.org/SexDescriptor#NotSelected").as("sexDescriptor"),
      lit(null).cast(indType).as("studentIndicators"))
    val edorg = edorgSchool(cust.filter(col("c_custkey") % 2 === 0), None)
      .unionByName(edorgDistrict(cust.filter(col("c_custkey") % 3 === 0)))

    val none = (df: DataFrame) => df.select(col("id")).limit(0)
    StudentChain(
      students, schools, ssa, edorg,
      studentsBatch = CdcBatch(
        students.limit(0),
        students.filter(col("studentUniqueId").cast("long") % 13 === 5)
          .select(col("id"))),
      ssaBatch = CdcBatch(
        ssaRows(cust.filter(col("c_custkey") % 7 === 3), true),
        none(ssa)),
      edorgBatch = CdcBatch(
        edorgSchool(cust.filter(col("c_custkey") % 22 === 8), Some("Other")),
        none(edorg)))
  }

  /** The post-CDC endpoint resolver + affected-scope set for the chain. */
  private def studentChainRefresh(
      s: SparkSession, fx: StudentChain): (String => DataFrame, DataFrame) = {
    import graft.ops.IncrementalGold
    val newStudents = IncrementalGold.applyCdc(fx.students, fx.studentsBatch)
    val newSsa = IncrementalGold.applyCdc(fx.ssa, fx.ssaBatch)
    val newEdorg = IncrementalGold.applyCdc(fx.edorg, fx.edorgBatch)
    val studentRef = (df: DataFrame) => df("studentReference.studentUniqueId")
    val affected = IncrementalGold
      .batchScopes(fx.students, fx.studentsBatch, df => df("studentUniqueId"))
      .unionByName(IncrementalGold.batchScopes(fx.ssa, fx.ssaBatch, studentRef))
      .unionByName(IncrementalGold.batchScopes(fx.edorg, fx.edorgBatch, studentRef))
      .distinct()
    val resolve: String => DataFrame = {
      case "students" => newStudents
      case "studentSchoolAssociations" => newSsa
      case "studentEducationOrganizationAssociations" => newEdorg
      case "schools" => fx.schools
      case other => emptyEndpoint(s, other)
    }
    (resolve, affected)
  }

  private val studentChainOracleBody = """
      FROM customer
      WHERE c_custkey % 13 <> 5"""

  private val studentChainHistoryCols = """,
             CAST(CASE WHEN c_custkey % 10 = 0
                        AND '19950120' <= strftime(current_date, '%Y%m%d')
                       THEN 0 ELSE 1 END AS INTEGER) AS IsEnrolled,
             CASE WHEN c_custkey % 10 = 0 THEN '1995-01-20' ELSE '' END
               AS ExitWithdrawDate"""

  private def studentChainCols(withHistory: Boolean) = s"""
             CAST(c_custkey AS VARCHAR) || '-' || CAST(c_nationkey AS VARCHAR)
               AS StudentSchoolKey,
             CAST(c_custkey AS VARCHAR) AS StudentKey,
             CAST(c_nationkey AS VARCHAR) AS SchoolKey,
             '1995' AS SchoolYear,
             c_name AS StudentFirstName,
             CASE WHEN c_custkey % 3 = 0 THEN ''
                  ELSE 'M' || CAST(c_custkey AS VARCHAR) END AS StudentMiddleName,
             'Last' || CAST(c_custkey % 50 AS VARCHAR) AS StudentLastName,
             '1988-03-01' AS BirthDate,
             '1995-01-05' AS EnrollmentDateKey,
             CASE WHEN c_custkey % 7 = 3 THEN 'Tenth grade'
                  ELSE 'Ninth grade' END AS GradeLevel,
             CASE WHEN c_custkey % 2 = 0 AND c_custkey % 5 = 2 THEN 'Limited'
                  ELSE 'Not applicable' END AS LimitedEnglishProficiency,
             CAST(CASE WHEN c_custkey % 2 = 0
                       THEN (CASE WHEN c_custkey % 4 = 0 THEN 1 ELSE 0 END)
                       WHEN c_custkey % 3 = 0 THEN 1
                       ELSE 0 END AS INTEGER) AS IsHispanic,
             CASE WHEN c_custkey % 22 = 8 THEN 'Other'
                  WHEN c_custkey % 2 = 0 AND c_custkey % 4 = 0 THEN 'Female'
                  WHEN c_custkey % 2 = 0 THEN 'Male'
                  WHEN c_custkey % 3 = 0 THEN 'NotSelected'
                  ELSE '' END AS Sex,
             'n/a' AS InternetAccessInResidence,
             'n/a' AS InternetAccessTypeInResidence,
             'n/a' AS InternetPerformance,
             CASE WHEN c_custkey % 14 = 0 THEN 'Yes' ELSE 'n/a' END
               AS DigitalDevice,
             'n/a' AS DeviceAccess${if (withHistory) studentChainHistoryCols else ""}"""

  // ---------------------------------------------------------------- q349
  /** INCREMENTAL allStudentSchoolDim (VERDICT r11 item 4): the largest
    * dimension advanced by a three-endpoint CDC batch through
    * [[IncrementalGold.allStudentSchoolDimScope]]. Oracle states the
    * full view over the FINAL state — upserted grades and sexes land,
    * deleted students vanish, the school/district demographic cascade
    * and the indicator pivot survive the slice rebuild hash-exact. */
  private val q349 = Q(
    "q349_incremental_all_student_school_dim",
    (s, dir) => {
      import graft.ops.IncrementalGold
      val fx = studentChainFixture(s, dir)
      val oldGold = ctxWith(s, Map(
        "students" -> fx.students, "schools" -> fx.schools,
        "studentSchoolAssociations" -> fx.ssa,
        "studentEducationOrganizationAssociations" -> fx.edorg))
        .view("allStudentSchoolDim")
      val (resolve, affected) = studentChainRefresh(s, fx)
      IncrementalGold.refreshView(
        IncrementalGold.allStudentSchoolDimScope, oldGold, resolve, affected)
        .orderBy("StudentKey", "SchoolKey")
    },
    Some(s"""
      SELECT CAST(c_custkey AS VARCHAR) || '-' || CAST(c_nationkey AS VARCHAR)
               || '-19950105' AS AllStudentSchoolKey,
             ${studentChainCols(withHistory = true)}
      $studentChainOracleBody
      ORDER BY StudentKey, SchoolKey""")
  )

  // ---------------------------------------------------------------- q350
  /** INCREMENTAL studentSchoolDim — the VIEW-ON-VIEW chain (VERDICT r11
    * item 4: student_school_dim/main.py:29-66 derives from
    * allStudentSchoolDim): same CDC batch, but the refreshed view has no
    * endpoint deps of its own — [[IncrementalGold.rebuildSlice]] must
    * resolve the PARENT view through its memoized local context over the
    * scoped endpoints, proving the delta-scoped rebuild composes through
    * the DAG. Oracle = q349's final state filtered to enrolled, minus
    * the history columns. */
  private val q350 = Q(
    "q350_incremental_student_school_dim_chain",
    (s, dir) => {
      import graft.ops.IncrementalGold
      val fx = studentChainFixture(s, dir)
      val oldGold = ctxWith(s, Map(
        "students" -> fx.students, "schools" -> fx.schools,
        "studentSchoolAssociations" -> fx.ssa,
        "studentEducationOrganizationAssociations" -> fx.edorg))
        .view("studentSchoolDim")
      val (resolve, affected) = studentChainRefresh(s, fx)
      IncrementalGold.refreshView(
        IncrementalGold.studentSchoolDimScope, oldGold, resolve, affected)
        .orderBy("StudentKey", "SchoolKey")
    },
    Some(s"""
      SELECT ${studentChainCols(withHistory = false)}
      $studentChainOracleBody
        AND NOT (c_custkey % 10 = 0
                 AND '19950120' <= strftime(current_date, '%Y%m%d'))
      ORDER BY StudentKey, SchoolKey""")
  )

  val all: Seq[Q] = Seq(q27, q28, q43, q49, q53, q340, q341, q344, q345, q346,
    q348, q349, q350)
}
