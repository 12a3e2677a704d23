package graft.views.ews

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.{Crosstab, DateKeys, DescriptorMap, Descriptors}
import graft.views.{AmtView, ViewContext}

/** AMT ews.StudentEarlyWarningFact — the reference's 645-line flagship
  * (parquet/amt/ews/student_early_warning_fact/main.py:52-638).
  *
  * One row per enrolled student per calendar day with attendance flags at
  * school / homeroom / any-class granularity plus per-day discipline
  * counts. Assembly:
  *   1. spine: studentSchoolAssociations ⋈ calendarDates-events on
  *      schoolId, date-windowed (entry ≤ date ≤ exit-or-'' and ≤ today);
  *      IsInstructionalDay from the CalendarEvent.InstructionalDay
  *      constant (main.py:224-234);
  *   2. school-level crosstab of attendance constants per
  *      (school, student, day) (main.py:283-300);
  *   3. section-level crosstab of attendance code values inner-joined to
  *      enrollment sections; homeroom columns are the same counts gated on
  *      homeroomIndicator (the reference does this with a filtered
  *      self-join, main.py:417-443 — a when() is equivalent and avoids a
  *      shuffle); group-max to (school, year, student, day);
  *   4. discipline incidents ⋈ behaviors, constant crosstab per
  *      (school, student, day) (main.py:494-547);
  *   5. left-join 2-4 onto the spine, null → 0, IsEnrolled = 1.
  *
  * Scale: every crosstab is pre-aggregated to the spine's join key before
  * joining (1:1 joins against the large spine); pivots use fixed category
  * lists (SURVEY §7.4.2). The spine itself is the students × days fan-out —
  * at 100 TB partition by (schoolId, schoolYear): every join here carries
  * schoolId, and the spine key includes the year (see build()).
  *
  * Measured 10× probe (`Measure probe scale`, sf0.1 derived endpoints,
  * local[32]): replicating students 10× grows the spine from 388,500 to
  * 3,885,000 rows at 1.68 s → 1.69 s (factor 1.01 — the plan is
  * shuffle-bound on fixed stage setup, not data volume, at this scale);
  * hottest enrollment key carries 4.3% of rows, skew_ratio 1.07 (uniform
  * fixture — production skew is what the (schoolId, schoolYear) key and
  * AmtPipeline.diagnose exist for).
  *
  * Parity note: the reference keeps rows with missing exitWithdrawDate only
  * by accident (NaN → 'nan' compares greater than any date key); the
  * intended "no exit date = still enrolled" is implemented explicitly.
  */
object StudentEarlyWarningFact extends AmtView {
  val name = "ews_studentEarlyWarningFact"
  val collection = "ews"
  val outputColumns = Seq(
    "StudentKey", "SchoolKey", "DateKey", "IsInstructionalDay", "IsEnrolled",
    "IsPresentSchool", "IsAbsentFromSchoolExcused",
    "IsAbsentFromSchoolUnexcused", "IsTardyToSchool", "IsPresentHomeroom",
    "IsAbsentFromHomeroomExcused", "IsAbsentFromHomeroomUnexcused",
    "IsTardyToHomeroom", "IsPresentAnyClass", "IsAbsentFromAnyClassExcused",
    "IsAbsentFromAnyClassUnexcused", "IsTardyToAnyClass",
    "CountByDayOfStateOffenses", "CountByDayOfConductOffenses")
  val endpointDeps = Seq(
    "calendarDates", "disciplineIncidents",
    "studentDisciplineIncidentBehaviorAssociations",
    "studentSchoolAssociations", "studentSectionAssociations",
    "studentSchoolAttendanceEvents", "studentSectionAttendanceEvents")

  def build(ctx: ViewContext): DataFrame = {
    // ---- 1. enrollment × calendar-day spine
    //
    // Join key: (schoolId, schoolYear) when the enrollment carries
    // schoolYearTypeReference (the Ed-Fi API populates it on every real
    // association), with a bare-schoolId fallback for year-less rows — the
    // reference's own key (main.py:148-156) and therefore bit-identical
    // behavior for data without years. The year in the key is free
    // selectivity against hot-school skew at 100×: a district's biggest
    // school concentrates one shuffle partition under a bare schoolId key,
    // and a multi-year lake multiplies that partition by every calendar
    // year it holds; keying on the year splits it BEFORE AQE skew
    // handling has to. (Enrollments paired with another school year's
    // calendar are a reference accident its date-window filter mostly
    // hides; the year-matched pairing is the intended AMT semantics.)
    val enrollments = ctx.endpoint("studentSchoolAssociations").select(
      col("schoolReference.schoolId").as("schoolId"),
      col("schoolYearTypeReference.schoolYear").as("schoolYear"),
      col("studentReference.studentUniqueId").as("studentUniqueId"),
      DateKeys.dateKey(col("entryDate")).as("entryKey"),
      DateKeys.dateKey(col("exitWithdrawDate")).as("exitKey"))

    val calendar = DescriptorMap.withConstant(
      ctx.endpoint("calendarDates")
        .withColumn("event", explode_outer(col("calendarEvents")))
        .select(
          col("calendarReference.schoolId").as("schoolId"),
          col("calendarReference.schoolYear").as("schoolYear"),
          col("date"),
          col("event.calendarEventDescriptor").as("calendarEventDescriptor")),
      "calendarEventDescriptor")
      .withColumn("IsInstructionalDay",
        coalesce((col("calendarEventDescriptor_constantName")
          === "CalendarEvent.InstructionalDay").cast("int"), lit(0)))
      .select("schoolId", "schoolYear", "date", "IsInstructionalDay")

    val spine = enrollments.filter(col("schoolYear").isNotNull)
      .join(calendar, Seq("schoolId", "schoolYear"), "inner")
      .unionByName(
        enrollments.filter(col("schoolYear").isNull).drop("schoolYear")
          .join(calendar, Seq("schoolId"), "inner"))
      .withColumn("dateKey", DateKeys.dateKey(col("date")))
      .filter(col("entryKey") <= col("dateKey"))
      .filter(col("exitKey") === "" || col("exitKey") >= col("dateKey"))
      .filter(col("dateKey") <= DateKeys.todayKey)

    // ---- 2. school-level attendance (constant crosstab)
    val schoolConstants = Seq(
      "AttendanceEvent.Present", "AttendanceEvent.ExcusedAbsence",
      "AttendanceEvent.UnexcusedAbsence", "AttendanceEvent.Tardy")
    val schoolAttendance = Crosstab.counts(
      DescriptorMap.withConstant(
        ctx.endpoint("studentSchoolAttendanceEvents").select(
          col("schoolReference.schoolId").as("schoolId"),
          col("studentReference.studentUniqueId").as("studentUniqueId"),
          col("eventDate").as("date"),
          col("attendanceEventCategoryDescriptor")),
        "attendanceEventCategoryDescriptor")
        .withColumnRenamed("attendanceEventCategoryDescriptor_constantName", "constant"),
      Seq("schoolId", "studentUniqueId", "date"), "constant", schoolConstants)
      .select(col("schoolId"), col("studentUniqueId"), col("date"),
        col("`AttendanceEvent.Present`").as("IsPresentSchool"),
        col("`AttendanceEvent.ExcusedAbsence`").as("IsAbsentFromSchoolExcused"),
        col("`AttendanceEvent.UnexcusedAbsence`").as("IsAbsentFromSchoolUnexcused"),
        col("`AttendanceEvent.Tardy`").as("IsTardyToSchool"))

    // ---- 3. section-level attendance (code-value crosstab ⋈ enrollment
    //         sections; homeroom = same counts gated on homeroomIndicator)
    val sectionKeys = Seq("localCourseCode", "schoolId", "schoolYear",
      "sectionIdentifier", "sessionName", "studentUniqueId")
    val sectionCodes = Seq("In Attendance", "Excused Absence", "Unexcused Absence", "Tardy")

    val sectionEvents = Crosstab.counts(
      ctx.endpoint("studentSectionAttendanceEvents").select(
        col("sectionReference.localCourseCode").as("localCourseCode"),
        col("sectionReference.schoolId").as("schoolId"),
        col("sectionReference.schoolYear").as("schoolYear"),
        col("sectionReference.sectionIdentifier").as("sectionIdentifier"),
        col("sectionReference.sessionName").as("sessionName"),
        col("studentReference.studentUniqueId").as("studentUniqueId"),
        col("eventDate").as("date"),
        Descriptors.codeValueFromUri(col("attendanceEventCategoryDescriptor")).as("code")),
      sectionKeys :+ "date", "code", sectionCodes)
      .select(sectionKeys.map(col) ++ Seq(col("date"),
        col("`In Attendance`").as("IsPresentAnyClass"),
        col("`Excused Absence`").as("IsAbsentFromAnyClassExcused"),
        col("`Unexcused Absence`").as("IsAbsentFromAnyClassUnexcused"),
        col("Tardy").as("IsTardyToAnyClass")): _*)

    val sections = ctx.endpoint("studentSectionAssociations").select(
      col("sectionReference.localCourseCode").as("localCourseCode"),
      col("sectionReference.schoolId").as("schoolId"),
      col("sectionReference.schoolYear").as("schoolYear"),
      col("sectionReference.sectionIdentifier").as("sectionIdentifier"),
      col("sectionReference.sessionName").as("sessionName"),
      col("studentReference.studentUniqueId").as("studentUniqueId"),
      col("homeroomIndicator"))

    def gated(c: Column): Column =
      when(coalesce(col("homeroomIndicator"), lit(false)), c).otherwise(lit(0L))

    val sectionAttendance = sections
      .join(sectionEvents, sectionKeys, "inner")
      .withColumn("IsPresentHomeroom", gated(col("IsPresentAnyClass")))
      .withColumn("IsAbsentFromHomeroomExcused", gated(col("IsAbsentFromAnyClassExcused")))
      .withColumn("IsAbsentFromHomeroomUnexcused", gated(col("IsAbsentFromAnyClassUnexcused")))
      .withColumn("IsTardyToHomeroom", gated(col("IsTardyToAnyClass")))
      .groupBy("schoolId", "schoolYear", "studentUniqueId", "date")
      .agg(
        max("IsPresentAnyClass").as("IsPresentAnyClass"),
        max("IsAbsentFromAnyClassExcused").as("IsAbsentFromAnyClassExcused"),
        max("IsAbsentFromAnyClassUnexcused").as("IsAbsentFromAnyClassUnexcused"),
        max("IsTardyToAnyClass").as("IsTardyToAnyClass"),
        max("IsPresentHomeroom").as("IsPresentHomeroom"),
        max("IsAbsentFromHomeroomExcused").as("IsAbsentFromHomeroomExcused"),
        max("IsAbsentFromHomeroomUnexcused").as("IsAbsentFromHomeroomUnexcused"),
        max("IsTardyToHomeroom").as("IsTardyToHomeroom"))

    // ---- 4. discipline counts per (school, student, day)
    val discipline = Crosstab.counts(
      DescriptorMap.withConstant(
        ctx.endpoint("disciplineIncidents").select(
          col("schoolReference.schoolId").as("schoolId"),
          col("incidentIdentifier"), col("incidentDate").as("date"))
          .join(
            ctx.endpoint("studentDisciplineIncidentBehaviorAssociations").select(
              col("disciplineIncidentReference.schoolId").as("schoolId"),
              col("disciplineIncidentReference.incidentIdentifier").as("incidentIdentifier"),
              col("studentReference.studentUniqueId").as("studentUniqueId"),
              col("behaviorDescriptor")),
            Seq("schoolId", "incidentIdentifier"), "inner"),
        "behaviorDescriptor")
        .withColumnRenamed("behaviorDescriptor_constantName", "constant"),
      Seq("schoolId", "studentUniqueId", "date"), "constant",
      Seq("Behavior.StateOffense", "Behavior.SchoolCodeOfConductOffense"))
      .select(col("schoolId"), col("studentUniqueId"), col("date"),
        col("`Behavior.StateOffense`").as("CountByDayOfStateOffenses"),
        col("`Behavior.SchoolCodeOfConductOffense`").as("CountByDayOfConductOffenses"))

    // ---- 5. assemble
    val intFlags = Seq(
      "IsPresentSchool", "IsAbsentFromSchoolExcused",
      "IsAbsentFromSchoolUnexcused", "IsTardyToSchool", "IsPresentHomeroom",
      "IsAbsentFromHomeroomExcused", "IsAbsentFromHomeroomUnexcused",
      "IsTardyToHomeroom", "IsPresentAnyClass", "IsAbsentFromAnyClassExcused",
      "IsAbsentFromAnyClassUnexcused", "IsTardyToAnyClass",
      "CountByDayOfStateOffenses", "CountByDayOfConductOffenses")

    val assembled = spine
      .join(schoolAttendance, Seq("schoolId", "studentUniqueId", "date"), "left")
      .join(sectionAttendance, Seq("schoolId", "schoolYear", "studentUniqueId", "date"), "left")
      .join(discipline, Seq("schoolId", "studentUniqueId", "date"), "left")

    intFlags.foldLeft(assembled)((d, c) =>
      d.withColumn(c, coalesce(col(c), lit(0L)).cast("int")))
      .withColumn("IsEnrolled", lit(1))
      .select(
        Seq(col("studentUniqueId").as("StudentKey"),
          col("schoolId").cast("string").as("SchoolKey"),
          col("dateKey").as("DateKey"),
          col("IsInstructionalDay"), col("IsEnrolled")) ++
          intFlags.map(col): _*)
      .select(outputColumns.map(col): _*)
  }
}
