package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions.col

import graft.runner.AmtPipeline

/** Golden-output tests for AMT views on hand-written silver fixtures
  * (FIXTURES.md shapes). Each view also gets the reference's structural
  * edge cases: empty-array file and missing endpoint directory
  * (SURVEY §7.4.1). */
class AmtViewsSpec extends SparkTestBase {

  private def silverWith(files: (String, String)*): Path = {
    val root = Files.createTempDirectory("silver")
    files.foreach { case (endpoint, json) =>
      val dir = root.resolve("2022").resolve(endpoint)
      Files.createDirectories(dir)
      Files.writeString(dir.resolve(s"${endpoint}_1.json"), json)
    }
    root
  }

  private val gradingPeriodsJson = """[
    {"schoolReference": {"schoolId": 255901001},
     "schoolYearTypeReference": {"schoolYear": 2022},
     "gradingPeriodDescriptor": "uri://ed-fi.org/GradingPeriodDescriptor#First Six Weeks",
     "beginDate": "2021-08-23", "endDate": "2021-10-01",
     "totalInstructionalDays": 29, "periodSequence": 1},
    {"schoolReference": {"schoolId": 255901001},
     "schoolYearTypeReference": {"schoolYear": 2022},
     "gradingPeriodDescriptor": "uri://ed-fi.org/GradingPeriodDescriptor#Second Six Weeks",
     "beginDate": "2021-10-04", "endDate": "2021-11-12",
     "totalInstructionalDays": 29, "periodSequence": 2}
  ]"""

  private val gradingPeriodDescriptorsJson = """[
    {"gradingPeriodDescriptorId": 123, "codeValue": "First Six Weeks",
     "description": "First Six Weeks", "namespace": "uri://ed-fi.org/GradingPeriodDescriptor",
     "shortDescription": "First Six Weeks"},
    {"gradingPeriodDescriptorId": 124, "codeValue": "Second Six Weeks",
     "description": "Second Six Weeks", "namespace": "uri://ed-fi.org/GradingPeriodDescriptor",
     "shortDescription": "Second Six Weeks"},
    {"gradingPeriodDescriptorId": 125, "codeValue": "Unmatched",
     "description": "Unmatched", "namespace": "uri://ed-fi.org/GradingPeriodDescriptor",
     "shortDescription": "Unmatched"}
  ]"""

  test("gradingPeriodDim: join, surrogate key, date keys (golden)") {
    val silver = silverWith(
      "gradingPeriods" -> gradingPeriodsJson,
      "gradingPeriodDescriptors" -> gradingPeriodDescriptorsJson)
    val p = new AmtPipeline(spark, silver.toString, "2022")
    val rows = p.view("gradingPeriodDim").orderBy("PeriodSequence").collect()
    assert(rows.length == 2) // inner join drops the unmatched descriptor
    val r = rows.head
    assert(r.getAs[String]("GradingPeriodKey") == "123-255901001-20210823")
    assert(r.getAs[String]("GradingPeriodBeginDateKey") == "20210823")
    assert(r.getAs[String]("GradingPeriodEndDateKey") == "20211001")
    assert(r.getAs[String]("GradingPeriodDescription") == "First Six Weeks")
    assert(r.getAs[Long]("TotalInstructionalDays") == 29L)
    assert(r.getAs[String]("SchoolKey") == "255901001")
    assert(r.getAs[String]("SchoolYear") == "2022")
  }

  test("gradingPeriodDim: empty-array and missing-endpoint inputs → empty frame, full schema") {
    val emptyFile = silverWith(
      "gradingPeriods" -> "[]",
      "gradingPeriodDescriptors" -> gradingPeriodDescriptorsJson)
    val p1 = new AmtPipeline(spark, emptyFile.toString, "2022")
    val df1 = p1.view("gradingPeriodDim")
    assert(df1.columns.toSeq == graft.views.base.GradingPeriodDim.outputColumns)
    assert(df1.count() == 0)

    val missingDir = silverWith("gradingPeriodDescriptors" -> gradingPeriodDescriptorsJson)
    val p2 = new AmtPipeline(spark, missingDir.toString, "2022")
    assert(p2.view("gradingPeriodDim").count() == 0)
  }

  test("dateDim: string date parts, zero padding, Unknown school year (golden)") {
    val silver = silverWith("calendarDates" -> """[
      {"date": "2021-08-23",
       "calendarReference": {"schoolId": 255901001, "schoolYear": 2022, "calendarCode": "IEP"},
       "calendarEvents": [{"calendarEventDescriptor": "uri://ed-fi.org/CalendarEventDescriptor#Instructional day"}]},
      {"date": "2021-08-23",
       "calendarReference": {"schoolId": 255901002, "schoolYear": 2022, "calendarCode": "IEP"},
       "calendarEvents": []},
      {"date": "2022-01-05", "calendarReference": {"schoolId": 1}, "calendarEvents": []}
    ]""")
    val p = new AmtPipeline(spark, silver.toString, "2022")
    val rows = p.view("dateDim").orderBy("DateKey").collect()
    assert(rows.length == 2) // same (date, schoolYear) pair deduplicated
    val aug = rows.head
    assert(aug.getAs[String]("DateKey") == "20210823")
    assert(aug.getAs[String]("Day") == "23" && aug.getAs[String]("Month") == "08")
    assert(aug.getAs[String]("MonthName") == "August")
    assert(aug.getAs[String]("CalendarQuarter") == "3")
    assert(aug.getAs[String]("CalendarQuarterName") == "Third")
    assert(aug.getAs[String]("Year") == "2021")
    assert(aug.getAs[String]("SchoolYear") == "2022")
    val jan = rows(1)
    assert(jan.getAs[String]("SchoolYear") == "Unknown")
    assert(jan.getAs[String]("CalendarQuarterName") == "First")
  }

  test("mostRecentGradingPeriod: group max over the gradingPeriodDim view") {
    val silver = silverWith(
      "gradingPeriods" -> gradingPeriodsJson,
      "gradingPeriodDescriptors" -> gradingPeriodDescriptorsJson)
    val p = new AmtPipeline(spark, silver.toString, "2022")
    val rows = p.view("mostRecentGradingPeriod").collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("SchoolKey") == "255901001")
    assert(rows.head.getAs[String]("GradingPeriodBeginDateKey") == "20211004")
  }

  test("schoolDim: physical-address filter, org chain, '' defaults (golden)") {
    val silver = silverWith(
      "schools" -> """[
        {"schoolId": 255901001, "nameOfInstitution": "Grand Bend High School",
         "schoolTypeDescriptor": "uri://ed-fi.org/SchoolTypeDescriptor#Regular",
         "localEducationAgencyReference": {"localEducationAgencyId": 255901},
         "addresses": [
           {"addressTypeDescriptor": "uri://ed-fi.org/AddressTypeDescriptor#Physical",
            "stateAbbreviationDescriptor": "uri://ed-fi.org/StateAbbreviationDescriptor#TX",
            "streetNumberName": "456 Oak Street", "city": "Grand Bend", "nameOfCounty": "Williston"},
           {"addressTypeDescriptor": "uri://ed-fi.org/AddressTypeDescriptor#Mailing",
            "stateAbbreviationDescriptor": "uri://ed-fi.org/StateAbbreviationDescriptor#TX",
            "streetNumberName": "PO Box 9", "city": "Grand Bend", "nameOfCounty": "Williston"}]},
        {"schoolId": 255901002, "nameOfInstitution": "Orphan School",
         "schoolTypeDescriptor": "uri://ed-fi.org/SchoolTypeDescriptor#Regular",
         "addresses": [
           {"addressTypeDescriptor": "uri://ed-fi.org/AddressTypeDescriptor#Physical",
            "stateAbbreviationDescriptor": "uri://ed-fi.org/StateAbbreviationDescriptor#TX",
            "streetNumberName": "1 Elm", "city": "Elsewhere", "nameOfCounty": "Nowhere"}]}
      ]""",
      "localEducationAgencies" -> """[
        {"localEducationAgencyId": 255901, "nameOfInstitution": "Grand Bend ISD",
         "educationServiceCenterReference": {"educationServiceCenterId": 255950}}]""",
      "educationServiceCenters" -> """[
        {"educationServiceCenterId": 255950, "nameOfInstitution": "Region 99",
         "stateEducationAgencyReference": {"stateEducationAgencyId": 48}}]""",
      "stateEducationAgencies" -> """[
        {"stateEducationAgencyId": 48, "nameOfInstitution": "Texas Education Agency"}]""")
    val p = new AmtPipeline(spark, silver.toString, "2022")
    val rows = p.view("schoolDim").orderBy("SchoolKey").collect()
    assert(rows.length == 2) // mailing address filtered out
    val r = rows.head
    assert(r.getAs[String]("SchoolType") == "Regular")
    assert(r.getAs[String]("SchoolAddress") == "456 Oak Street, Grand Bend TX Williston")
    assert(r.getAs[String]("SchoolState") == "TX")
    assert(r.getAs[String]("LocalEducationAgencyName") == "Grand Bend ISD")
    assert(r.getAs[String]("EducationServiceCenterName") == "Region 99")
    assert(r.getAs[String]("StateEducationAgencyName") == "Texas Education Agency")
    assert(r.getAs[String]("StateEducationAgencyKey") == "48")
    val orphan = rows(1) // no LEA reference: whole org chain defaults to ''
    assert(orphan.getAs[String]("LocalEducationAgencyKey") == "")
    assert(orphan.getAs[String]("StateEducationAgencyName") == "")
  }

  test("ews_studentSectionGradeFact: letter-grade fallback, keys, type filter (golden)") {
    val silver = silverWith(
      "grades" -> """[
        {"gradingPeriodReference": {
           "gradingPeriodDescriptor": "uri://ed-fi.org/GradingPeriodDescriptor#First Six Weeks",
           "periodSequence": 1, "schoolId": 255901001, "schoolYear": 2022},
         "studentSectionAssociationReference": {
           "studentUniqueId": "604821", "schoolId": 255901001, "beginDate": "2021-08-23",
           "localCourseCode": "ALG-1", "schoolYear": 2022,
           "sectionIdentifier": "ALG1-01", "sessionName": "2021-2022 Fall Semester"},
         "gradeTypeDescriptor": "uri://ed-fi.org/GradeTypeDescriptor#Grading Period",
         "numericGradeEarned": 88, "letterGradeEarned": "B"},
        {"gradingPeriodReference": {
           "gradingPeriodDescriptor": "uri://ed-fi.org/GradingPeriodDescriptor#First Six Weeks",
           "periodSequence": 1, "schoolId": 255901001, "schoolYear": 2022},
         "studentSectionAssociationReference": {
           "studentUniqueId": "604822", "schoolId": 255901001, "beginDate": "2021-08-23",
           "localCourseCode": "ALG-1", "schoolYear": 2022,
           "sectionIdentifier": "ALG1-01", "sessionName": "2021-2022 Fall Semester"},
         "gradeTypeDescriptor": "uri://ed-fi.org/GradeTypeDescriptor#Grading Period",
         "numericGradeEarned": 0, "letterGradeEarned": "C"},
        {"gradingPeriodReference": {
           "gradingPeriodDescriptor": "uri://ed-fi.org/GradingPeriodDescriptor#First Six Weeks",
           "periodSequence": 1, "schoolId": 255901001, "schoolYear": 2022},
         "studentSectionAssociationReference": {
           "studentUniqueId": "604823", "schoolId": 255901001, "beginDate": "2021-08-23",
           "localCourseCode": "ALG-1", "schoolYear": 2022,
           "sectionIdentifier": "ALG1-01", "sessionName": "2021-2022 Fall Semester"},
         "gradeTypeDescriptor": "uri://ed-fi.org/GradeTypeDescriptor#Exam",
         "numericGradeEarned": 70}
      ]""",
      "gradingPeriods" -> gradingPeriodsJson,
      "gradingPeriodDescriptors" -> gradingPeriodDescriptorsJson)
    val p = new AmtPipeline(spark, silver.toString, "2022")
    val rows = p.view("ews_studentSectionGradeFact").orderBy("StudentKey").collect()
    assert(rows.length == 2) // 'Exam' grade type filtered out
    val b = rows.head
    assert(b.getAs[Double]("NumericGradeEarned") == 88.0)
    assert(b.getAs[String]("GradingPeriodKey") == "123-255901001-20210823")
    assert(b.getAs[String]("StudentSectionKey") ==
      "604821-255901001-ALG-1-2022-ALG1-01-2021-2022 Fall Semester-20210823")
    assert(b.getAs[String]("SectionKey") ==
      "255901001-ALG-1-2022-ALG1-01-2021-2022 Fall Semester")
    assert(b.getAs[String]("GradeType") == "Grading Period")
    val c = rows(1) // numeric 0 replaced by the letter-grade translation
    assert(c.getAs[Double]("NumericGradeEarned") == 75.0)
    assert(c.getAs[String]("LetterGradeEarned") == "C")
  }

  test("staffSectionDim: active-assignment filter, Multiracial collapse (golden)") {
    val silver = silverWith(
      "staffSectionAssociations" -> """[
        {"staffReference": {"staffUniqueId": "207220"},
         "sectionReference": {"localCourseCode": "ALG-1", "schoolId": 255901001, "schoolYear": 2022,
           "sectionIdentifier": "ALG1-01", "sessionName": "Fall"},
         "beginDate": "2021-08-23", "endDate": "2099-05-27"},
        {"staffReference": {"staffUniqueId": "207221"},
         "sectionReference": {"localCourseCode": "ALG-1", "schoolId": 255901001, "schoolYear": 2022,
           "sectionIdentifier": "ALG1-01", "sessionName": "Fall"},
         "beginDate": "2021-08-23", "endDate": "2021-12-01"},
        {"staffReference": {"staffUniqueId": "207222"},
         "sectionReference": {"localCourseCode": "BIO-1", "schoolId": 255901001, "schoolYear": 2022,
           "sectionIdentifier": "BIO1-01", "sessionName": "Fall"},
         "beginDate": "2021-08-23"}
      ]""",
      "staffs" -> """[
        {"id": "st-1", "staffUniqueId": "207220", "firstName": "Jane", "lastSurname": "Smith",
         "sexDescriptor": "uri://ed-fi.org/SexDescriptor#Female",
         "hispanicLatinoEthnicity": false, "highlyQualifiedTeacher": true,
         "races": [{"raceDescriptor": "uri://ed-fi.org/RaceDescriptor#White"},
                    {"raceDescriptor": "uri://ed-fi.org/RaceDescriptor#Asian"}],
         "electronicMails": [{"electronicMailAddress": "jane@school.edu",
           "electronicMailTypeDescriptor": "uri://ed-fi.org/ElectronicMailTypeDescriptor#Work"}]},
        {"id": "st-2", "staffUniqueId": "207221", "firstName": "Jo", "lastSurname": "Past",
         "races": [{"raceDescriptor": "uri://ed-fi.org/RaceDescriptor#White"}]}
      ]""")
    val p = new AmtPipeline(spark, silver.toString, "2022")
    val rows = p.view("staffSectionDim").collect()
    // 207221 ends in the past, 207222 has no endDate ('' fails the > today
    // compare, reference main.py:74-77), both dropped
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("UserKey") == "207220")
    assert(r.getAs[String]("StaffSectionKey") == "207220-255901001-ALG-1-2022-ALG1-01-Fall")
    assert(r.getAs[String]("Race") == "Multiracial")
    assert(r.getAs[String]("Sex") == "Female")
    assert(r.getAs[Int]("HispanicLatinoEthnicity") == 0)
    assert(r.getAs[Int]("HighlyQualifiedTeacher") == 1)
    assert(r.getAs[String]("ElectronicMailAddress") == "jane@school.edu")
  }

  test("studentSectionDim: href chain joins + ordered teacher list (golden)") {
    val silver = silverWith(
      "studentSectionAssociations" -> """[
        {"sectionReference": {"localCourseCode": "ALG-1", "schoolId": 255901001, "schoolYear": 2022,
           "sectionIdentifier": "ALG1-01", "sessionName": "Fall",
           "link": {"rel": "Section", "href": "/ed-fi/sections/sec-1"}},
         "studentReference": {"studentUniqueId": "604821",
           "link": {"rel": "Student", "href": "/ed-fi/students/stu-1"}},
         "beginDate": "2021-08-23", "endDate": "2022-05-27", "homeroomIndicator": true}
      ]""",
      "sections" -> """[
        {"id": "sec-1", "sectionIdentifier": "ALG1-01",
         "courseOfferingReference": {"localCourseCode": "ALG-1", "schoolId": 255901001,
           "schoolYear": 2022, "sessionName": "Fall",
           "link": {"rel": "CourseOffering", "href": "/ed-fi/courseOfferings/co-1"}}}
      ]""",
      "courseOfferings" -> """[
        {"id": "co-1", "courseReference": {"courseCode": "ALG-1",
          "link": {"rel": "Course", "href": "/ed-fi/courses/crs-1"}}}
      ]""",
      "courses" -> """[
        {"id": "crs-1", "courseTitle": "Algebra I",
         "academicSubjectDescriptor": "uri://ed-fi.org/AcademicSubjectDescriptor#Mathematics"}
      ]""",
      "academicSubjectDescriptors" -> """[
        {"academicSubjectDescriptorId": 10, "codeValue": "Mathematics",
         "description": "Mathematics", "namespace": "uri://ed-fi.org/AcademicSubjectDescriptor",
         "shortDescription": "Mathematics"}
      ]""",
      "staffSectionAssociations" -> """[
        {"staffReference": {"staffUniqueId": "207220",
           "link": {"rel": "Staff", "href": "/ed-fi/staffs/st-1"}},
         "sectionReference": {"localCourseCode": "ALG-1", "schoolId": 255901001, "schoolYear": 2022,
           "sectionIdentifier": "ALG1-01", "sessionName": "Fall",
           "link": {"rel": "Section", "href": "/ed-fi/sections/sec-1"}}},
        {"staffReference": {"staffUniqueId": "207221",
           "link": {"rel": "Staff", "href": "/ed-fi/staffs/st-2"}},
         "sectionReference": {"localCourseCode": "ALG-1", "schoolId": 255901001, "schoolYear": 2022,
           "sectionIdentifier": "ALG1-01", "sessionName": "Fall",
           "link": {"rel": "Section", "href": "/ed-fi/sections/sec-1"}}}
      ]""",
      "staffs" -> """[
        {"id": "st-1", "staffUniqueId": "207220", "firstName": "Jane", "lastSurname": "Smith"},
        {"id": "st-2", "staffUniqueId": "207221", "firstName": "Al", "lastSurname": "Jones"}
      ]""")
    val p = new AmtPipeline(spark, silver.toString, "2022")
    val rows = p.view("studentSectionDim").collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("StudentSectionKey") ==
      "604821-255901001-ALG-1-2022-ALG1-01-Fall-20210823")
    assert(r.getAs[String]("Subject") == "Mathematics")
    assert(r.getAs[String]("CourseTitle") == "Algebra I")
    assert(r.getAs[String]("TeacherName") == "Al Jones, Jane Smith") // name-sorted
    assert(r.getAs[String]("StudentSchoolKey") == "604821-255901001")
  }

  test("chrab fact: spine window, attendance crosstab flags (golden)") {
    val silver = silverWith(
      "studentSchoolAssociations" -> """[
        {"schoolReference": {"schoolId": 1}, "studentReference": {"studentUniqueId": "s1"},
         "entryDate": "2021-08-23", "exitWithdrawDate": "2022-05-27"}
      ]""",
      "calendarDates" -> """[
        {"date": "2021-09-13", "calendarReference": {"schoolId": 1, "schoolYear": 2022, "calendarCode": "C"},
         "calendarEvents": [{"calendarEventDescriptor": "uri://ed-fi.org/CalendarEventDescriptor#Instructional day"}]},
        {"date": "2021-09-14", "calendarReference": {"schoolId": 1, "schoolYear": 2022, "calendarCode": "C"},
         "calendarEvents": [{"calendarEventDescriptor": "uri://ed-fi.org/CalendarEventDescriptor#Instructional day"}]},
        {"date": "2021-09-15", "calendarReference": {"schoolId": 1, "schoolYear": 2022, "calendarCode": "C"},
         "calendarEvents": [{"calendarEventDescriptor": "uri://ed-fi.org/CalendarEventDescriptor#Holiday"}]},
        {"date": "2021-08-20", "calendarReference": {"schoolId": 1, "schoolYear": 2022, "calendarCode": "C"},
         "calendarEvents": [{"calendarEventDescriptor": "uri://ed-fi.org/CalendarEventDescriptor#Instructional day"}]}
      ]""",
      "studentSchoolAttendanceEvents" -> """[
        {"schoolReference": {"schoolId": 1}, "studentReference": {"studentUniqueId": "s1"},
         "eventDate": "2021-09-13",
         "attendanceEventCategoryDescriptor": "uri://ed-fi.org/AttendanceEventCategoryDescriptor#Excused Absence"}
      ]""",
      "studentSectionAttendanceEvents" -> """[
        {"schoolReference": {"schoolId": 1},
         "sectionReference": {"localCourseCode": "ALG-1", "schoolId": 1, "schoolYear": 2022,
           "sectionIdentifier": "A", "sessionName": "Fall"},
         "studentReference": {"studentUniqueId": "s1"}, "eventDate": "2021-09-14",
         "attendanceEventCategoryDescriptor": "uri://ed-fi.org/AttendanceEventCategoryDescriptor#In Attendance"}
      ]""",
      "studentSectionAssociations" -> "[]")
    val p = new AmtPipeline(spark, silver.toString, "2022")
    val rows = p.view("chrab_chronicAbsenteeismAttendanceFact")
      .orderBy("DateKey").collect()
    // spine: instructional days inside the enrollment window = 0913, 0914
    // (0915 is a holiday, 0820 predates entry)
    assert(rows.map(_.getAs[String]("DateKey")).toSeq == Seq("20210913", "20210914"))
    val d13 = rows.head
    assert(d13.getAs[String]("StudentSchoolKey") == "s1-1")
    assert(d13.getAs[Int]("ReportedAsAbsentFromSchool") == 1) // excused → Absence constant
    assert(d13.getAs[Int]("ReportedAsPresentAtSchool") == 0)
    assert(d13.getAs[Int]("ReportedAsAbsentFromAnySection") == 0)
    val d14 = rows(1)
    assert(d14.getAs[Int]("ReportedAsPresentAtHomeRoom") == 1)
    assert(d14.getAs[Int]("ReportedAsIsPresentInAllSections") == 1)
    assert(d14.getAs[Int]("ReportedAsAbsentFromSchool") == 0)
  }

  test("ews early warning fact: spine + 3 crosstab joins + homeroom gating (golden)") {
    val silver = silverWith(
      "studentSchoolAssociations" -> """[
        {"schoolReference": {"schoolId": 1}, "studentReference": {"studentUniqueId": "s1"},
         "entryDate": "2021-08-23"}
      ]""",
      "calendarDates" -> """[
        {"date": "2021-09-13", "calendarReference": {"schoolId": 1, "schoolYear": 2022, "calendarCode": "C"},
         "calendarEvents": [{"calendarEventDescriptor": "uri://ed-fi.org/CalendarEventDescriptor#Instructional day"}]},
        {"date": "2021-09-14", "calendarReference": {"schoolId": 1, "schoolYear": 2022, "calendarCode": "C"},
         "calendarEvents": [{"calendarEventDescriptor": "uri://ed-fi.org/CalendarEventDescriptor#Holiday"}]}
      ]""",
      "studentSchoolAttendanceEvents" -> """[
        {"schoolReference": {"schoolId": 1}, "studentReference": {"studentUniqueId": "s1"},
         "eventDate": "2021-09-13",
         "attendanceEventCategoryDescriptor": "uri://ed-fi.org/AttendanceEventCategoryDescriptor#Excused Absence"}
      ]""",
      "studentSectionAttendanceEvents" -> """[
        {"schoolReference": {"schoolId": 1},
         "sectionReference": {"localCourseCode": "HR", "schoolId": 1, "schoolYear": 2022,
           "sectionIdentifier": "HR-1", "sessionName": "Fall"},
         "studentReference": {"studentUniqueId": "s1"}, "eventDate": "2021-09-13",
         "attendanceEventCategoryDescriptor": "uri://ed-fi.org/AttendanceEventCategoryDescriptor#Tardy"},
        {"schoolReference": {"schoolId": 1},
         "sectionReference": {"localCourseCode": "ALG-1", "schoolId": 1, "schoolYear": 2022,
           "sectionIdentifier": "A", "sessionName": "Fall"},
         "studentReference": {"studentUniqueId": "s1"}, "eventDate": "2021-09-13",
         "attendanceEventCategoryDescriptor": "uri://ed-fi.org/AttendanceEventCategoryDescriptor#In Attendance"}
      ]""",
      "studentSectionAssociations" -> """[
        {"sectionReference": {"localCourseCode": "HR", "schoolId": 1, "schoolYear": 2022,
           "sectionIdentifier": "HR-1", "sessionName": "Fall"},
         "studentReference": {"studentUniqueId": "s1"},
         "beginDate": "2021-08-23", "homeroomIndicator": true},
        {"sectionReference": {"localCourseCode": "ALG-1", "schoolId": 1, "schoolYear": 2022,
           "sectionIdentifier": "A", "sessionName": "Fall"},
         "studentReference": {"studentUniqueId": "s1"},
         "beginDate": "2021-08-23", "homeroomIndicator": false}
      ]""",
      "disciplineIncidents" -> """[
        {"schoolReference": {"schoolId": 1}, "incidentIdentifier": "INC-1", "incidentDate": "2021-09-13"}
      ]""",
      "studentDisciplineIncidentBehaviorAssociations" -> """[
        {"disciplineIncidentReference": {"incidentIdentifier": "INC-1", "schoolId": 1},
         "studentReference": {"studentUniqueId": "s1"},
         "behaviorDescriptor": "uri://ed-fi.org/BehaviorDescriptor#State Offense"}
      ]""")
    val p = new AmtPipeline(spark, silver.toString, "2022")
    val rows = p.view("ews_studentEarlyWarningFact").orderBy("DateKey").collect()
    assert(rows.length == 2)
    val d13 = rows.head
    assert(d13.getAs[String]("DateKey") == "20210913")
    assert(d13.getAs[Int]("IsInstructionalDay") == 1)
    assert(d13.getAs[Int]("IsEnrolled") == 1)
    assert(d13.getAs[Int]("IsAbsentFromSchoolExcused") == 1)
    assert(d13.getAs[Int]("IsPresentSchool") == 0)
    assert(d13.getAs[Int]("IsTardyToHomeroom") == 1) // homeroom section tardy
    assert(d13.getAs[Int]("IsTardyToAnyClass") == 1)
    assert(d13.getAs[Int]("IsPresentAnyClass") == 1) // non-homeroom section present
    assert(d13.getAs[Int]("IsPresentHomeroom") == 0) // gated off
    assert(d13.getAs[Int]("CountByDayOfStateOffenses") == 1)
    assert(d13.getAs[Int]("CountByDayOfConductOffenses") == 0)
    val d14 = rows(1) // holiday: spine row exists, nothing reported
    assert(d14.getAs[Int]("IsInstructionalDay") == 0)
    assert(d14.getAs[Int]("IsPresentSchool") == 0)
  }

  test("allStudentSchoolDim: district fallback, indicator pivot, defaults (golden)") {
    val silver = silverWith(
      "studentSchoolAssociations" -> """[
        {"schoolReference": {"schoolId": 100}, "schoolYearTypeReference": {"schoolYear": 2022},
         "studentReference": {"studentUniqueId": "s1"}, "entryDate": "2021-08-23",
         "entryGradeLevelDescriptor": "uri://ed-fi.org/GradeLevelDescriptor#Ninth grade"},
        {"schoolReference": {"schoolId": 100}, "schoolYearTypeReference": {"schoolYear": 2022},
         "studentReference": {"studentUniqueId": "s2"}, "entryDate": "2021-08-23",
         "entryGradeLevelDescriptor": "uri://ed-fi.org/GradeLevelDescriptor#Ninth grade",
         "exitWithdrawDate": "2021-12-01"}
      ]""",
      "students" -> """[
        {"studentUniqueId": "s1", "firstName": "Ana", "lastSurname": "Lopez", "birthDate": "2007-01-01"},
        {"studentUniqueId": "s2", "firstName": "Bo", "lastSurname": "Chen"}
      ]""",
      "schools" -> """[
        {"schoolId": 100, "nameOfInstitution": "X",
         "localEducationAgencyReference": {"localEducationAgencyId": 9000}}
      ]""",
      "studentEducationOrganizationAssociations" -> """[
        {"id": "e1", "educationOrganizationReference": {"educationOrganizationId": 100},
         "studentReference": {"studentUniqueId": "s1"},
         "sexDescriptor": "uri://ed-fi.org/SexDescriptor#Female",
         "studentIndicators": [
           {"indicatorName": "Internet Access In Residence", "indicator": "Yes"}]},
        {"id": "e2", "educationOrganizationReference": {"educationOrganizationId": 9000},
         "studentReference": {"studentUniqueId": "s1"},
         "hispanicLatinoEthnicity": true,
         "limitedEnglishProficiencyDescriptor": "uri://ed-fi.org/LimitedEnglishProficiencyDescriptor#Limited",
         "sexDescriptor": "uri://ed-fi.org/SexDescriptor#NotSeen"}
      ]""")
    val p = new AmtPipeline(spark, silver.toString, "2022")
    val rows = p.view("allStudentSchoolDim").orderBy("StudentKey").collect()
    assert(rows.length == 2)
    val s1 = rows.head
    assert(s1.getAs[String]("AllStudentSchoolKey") == "s1-100-20210823")
    assert(s1.getAs[String]("Sex") == "Female") // school-level wins over district
    assert(s1.getAs[Int]("IsHispanic") == 1) // district-level fallback
    assert(s1.getAs[String]("LimitedEnglishProficiency") == "Limited") // district fallback
    assert(s1.getAs[String]("InternetAccessInResidence") == "Yes") // pivoted indicator
    assert(s1.getAs[String]("InternetPerformance") == "n/a") // absent indicator default
    assert(s1.getAs[Int]("IsEnrolled") == 1) // no exit date = enrolled
    assert(s1.getAs[String]("EnrollmentDateKey") == "2021-08-23") // raw ISO preserved
    val s2 = rows(1)
    assert(s2.getAs[Int]("IsEnrolled") == 0) // exited in the past
    assert(s2.getAs[String]("LimitedEnglishProficiency") == "Not applicable")
    assert(s2.getAs[String]("Sex") == "")

    // derived view: only enrolled rows, history columns dropped
    val enrolled = p.view("studentSchoolDim").collect()
    assert(enrolled.length == 1)
    assert(enrolled.head.getAs[String]("StudentKey") == "s1")
    assert(!enrolled.head.schema.fieldNames.contains("IsEnrolled"))
  }

  test("demographicsDim: cross-join cohort family + descriptor union (golden)") {
    val silver = silverWith(
      "schoolYearTypes" -> """[{"schoolYear": 2022, "currentSchoolYear": true, "schoolYearDescription": "2021-2022"}]""",
      "cohortYearTypeDescriptors" -> """[
        {"cohortYearTypeDescriptorId": 1, "codeValue": "First grade", "shortDescription": "First grade"}]""",
      "disabilityDescriptors" -> """[
        {"disabilityDescriptorId": 2, "codeValue": "Autism", "shortDescription": "Autism"}]""",
      "raceDescriptors" -> """[
        {"raceDescriptorId": 3, "codeValue": "Asian", "shortDescription": "Asian"}]""")
    val p = new AmtPipeline(spark, silver.toString, "2022")
    val rows = p.view("demographicsDim").orderBy("DemographicKey").collect()
    assert(rows.map(_.getAs[String]("DemographicKey")).toSeq == Seq(
      "CohortYear:2022-First grade", "Disability:Autism", "Race:Asian"))
    assert(rows.head.getAs[String]("DemographicParentKey") == "CohortYear")
    assert(rows.head.getAs[String]("DemographicLabel") == "2022-First grade")
  }

  test("academicTimePeriodDim: session explode + 4-way join keys (golden)") {
    val silver = silverWith(
      "sessions" -> """[
        {"id": "se-1", "sessionName": "Fall",
         "termDescriptor": "uri://ed-fi.org/TermDescriptor#Fall Semester",
         "gradingPeriods": [{"gradingPeriodReference": {
            "schoolId": 100, "schoolYear": 2022,
            "gradingPeriodDescriptor": "uri://ed-fi.org/GradingPeriodDescriptor#First Six Weeks",
            "periodSequence": 1,
            "link": {"rel": "GradingPeriod", "href": "/ed-fi/gradingPeriods/gp-1"}}}]}
      ]""",
      "gradingPeriods" -> """[
        {"id": "gp-1", "schoolReference": {"schoolId": 100},
         "schoolYearTypeReference": {"schoolYear": 2022},
         "gradingPeriodDescriptor": "uri://ed-fi.org/GradingPeriodDescriptor#First Six Weeks",
         "beginDate": "2021-08-23", "endDate": "2021-10-01",
         "totalInstructionalDays": 29, "periodSequence": 1}
      ]""",
      "gradingPeriodDescriptors" -> gradingPeriodDescriptorsJson,
      "termDescriptors" -> """[
        {"termDescriptorId": 9, "codeValue": "Fall Semester", "description": "Fall Semester"}]""",
      "schoolYearTypes" -> """[
        {"schoolYear": 2022, "currentSchoolYear": true, "schoolYearDescription": "2021-2022"}]""")
    val p = new AmtPipeline(spark, silver.toString, "2022")
    val rows = p.view("academicTimePeriodDim").collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("AcademicTimePeriodKey") == "100-2022-9-123-20210823")
    assert(r.getAs[String]("SessionKey") == "100-2022-Fall")
    assert(r.getAs[String]("GradingPeriodKey") == "123-100-20210823")
    assert(r.getAs[Int]("IsCurrentSchoolYear") == 1)
    assert(r.getAs[String]("TermName") == "Fall Semester")
    assert(r.getAs[String]("SchoolYearName") == "2021-2022")
  }

  test("classPeriodDim + feederSchoolDim (golden)") {
    val silver = silverWith(
      "sections" -> """[
        {"id": "sec-1", "sectionIdentifier": "ALG1-01",
         "courseOfferingReference": {"localCourseCode": "ALG-1", "schoolId": 100,
           "schoolYear": 2022, "sessionName": "Fall"},
         "classPeriods": [{"classPeriodReference": {"classPeriodName": "Period 1"}}]}
      ]""",
      "feederSchoolAssociations" -> """[
        {"feederSchoolReference": {"schoolId": 99}, "schoolReference": {"schoolId": 100}},
        {"feederSchoolReference": {"schoolId": 98}, "schoolReference": {"schoolId": 100},
         "endDate": "2020-01-01"}
      ]""",
      "schools" -> """[
        {"schoolId": 99, "nameOfInstitution": "Feeder Elementary"},
        {"schoolId": 98, "nameOfInstitution": "Old Feeder"}
      ]""")
    val p = new AmtPipeline(spark, silver.toString, "2022")
    val cp = p.view("classPeriodDim").collect()
    assert(cp.length == 1)
    assert(cp.head.getAs[String]("ClassPeriodKey") == "Period 1-ALG-1-100-2022-ALG1-01-Fall")
    assert(cp.head.getAs[String]("SectionKey") == "100-ALG-1-2022-ALG1-01-Fall")

    val fs = p.view("equity_feederSchoolDim").collect()
    assert(fs.length == 1) // expired feeder relation filtered
    assert(fs.head.getAs[String]("feederSchoolUniqueKey") == "100-99")
    assert(fs.head.getAs[String]("feederSchoolName") == "Feeder Elementary")
  }

  test("localEducationAgencyDim, rls_userDim, epp_eppDim (golden)") {
    val silver = silverWith(
      "localEducationAgencies" -> """[
        {"id": "lea-1", "localEducationAgencyId": 9000, "nameOfInstitution": "Grand Bend ISD",
         "localEducationAgencyCategoryDescriptor": "uri://ed-fi.org/LocalEducationAgencyCategoryDescriptor#Independent",
         "charterStatusDescriptor": "uri://ed-fi.org/CharterStatusDescriptor#Not a Charter",
         "educationServiceCenterReference": {"educationServiceCenterId": 255950,
           "link": {"rel": "EducationServiceCenter", "href": "/ed-fi/educationServiceCenters/esc-1"}},
         "stateEducationAgencyReference": {"stateEducationAgencyId": 48,
           "link": {"rel": "StateEducationAgency", "href": "/ed-fi/stateEducationAgencies/sea-1"}}},
        {"id": "lea-2", "localEducationAgencyId": 9001, "nameOfInstitution": "Orphan ISD",
         "localEducationAgencyCategoryDescriptor": "uri://ed-fi.org/LocalEducationAgencyCategoryDescriptor#Independent"}
      ]""",
      "stateEducationAgencies" -> """[
        {"id": "sea-1", "stateEducationAgencyId": 48, "nameOfInstitution": "Texas Education Agency"}]""",
      "educationServiceCenters" -> """[
        {"id": "esc-1", "educationServiceCenterId": 255950, "nameOfInstitution": "Region 99",
         "stateEducationAgencyReference": {"stateEducationAgencyId": 48}}]""",
      "staffs" -> """[
        {"id": "st-1", "staffUniqueId": "207220", "firstName": "Jane", "lastSurname": "Smith",
         "electronicMails": [
           {"electronicMailAddress": "jane@school.edu",
            "electronicMailTypeDescriptor": "uri://ed-fi.org/ElectronicMailTypeDescriptor#Work"},
           {"electronicMailAddress": "jane@home.net",
            "electronicMailTypeDescriptor": "uri://ed-fi.org/ElectronicMailTypeDescriptor#Home/Personal"}]}
      ]""",
      "schools" -> """[
        {"schoolId": 77, "nameOfInstitution": "Teachers College",
         "educationOrganizationCategories": [{"educationOrganizationCategoryDescriptor":
           "uri://ed-fi.org/EducationOrganizationCategoryDescriptor#Educator Preparation Provider"}]},
        {"schoolId": 100, "nameOfInstitution": "Regular High",
         "educationOrganizationCategories": [{"educationOrganizationCategoryDescriptor":
           "uri://ed-fi.org/EducationOrganizationCategoryDescriptor#School"}]}
      ]""")
    val p = new AmtPipeline(spark, silver.toString, "2022")

    val leas = p.view("localEducationAgencyDim").orderBy("LocalEducationAgencyKey").collect()
    assert(leas.length == 2)
    assert(leas.head.getAs[String]("LocalEducationAgencyType") == "Independent")
    assert(leas.head.getAs[String]("LocalEducationAgencyStateEducationAgencyName") == "Texas Education Agency")
    assert(leas.head.getAs[String]("LocalEducationAgencyServiceCenterKey") == "255950")
    assert(leas(1).getAs[String]("LocalEducationAgencyStateEducationAgencyName") == "")

    val users = p.view("rls_userDim").collect()
    assert(users.length == 1) // personal mail filtered out
    assert(users.head.getAs[String]("UserEmail") == "jane@school.edu")

    val epps = p.view("epp_eppDim").collect()
    assert(epps.length == 1)
    assert(epps.head.getAs[String]("EducationOrganizationKey") == "77")
  }

  test("studentProgramDim + studentDisciplineActionDim (golden)") {
    val silver = silverWith(
      "studentProgramAssociations" -> """[
        {"studentReference": {"studentUniqueId": "s1"}, "beginDate": "2021-09-01",
         "programReference": {"programName": "Gifted",
           "programTypeDescriptor": "uri://ed-fi.org/ProgramTypeDescriptor#Gifted and Talented",
           "educationOrganizationId": 9000,
           "link": {"rel": "Program", "href": "/ed-fi/programs/pr-1"}},
         "educationOrganizationReference": {"educationOrganizationId": 100}}
      ]""",
      "programTypeDescriptors" -> """[
        {"programTypeDescriptorId": 5, "codeValue": "Gifted and Talented"}]""",
      "programs" -> """[
        {"id": "pr-1", "programName": "Gifted",
         "programTypeDescriptor": "uri://ed-fi.org/ProgramTypeDescriptor#Gifted and Talented",
         "educationOrganizationReference": {"educationOrganizationId": 9000}}]""",
      "studentSchoolAssociations" -> """[
        {"schoolReference": {"schoolId": 100}, "studentReference": {"studentUniqueId": "s1"},
         "entryDate": "2021-08-23"}
      ]""",
      "disciplineActions" -> """[
        {"disciplineActionIdentifier": "DA-1", "disciplineDate": "2021-11-04",
         "studentReference": {"studentUniqueId": "s1"},
         "disciplines": [{"disciplineDescriptor": "uri://ed-fi.org/DisciplineDescriptor#In School Suspension"}],
         "staffs": [{"staffReference": {"staffUniqueId": "207220"}}]}
      ]""",
      "disciplineDescriptors" -> """[
        {"disciplineDescriptorId": 7, "codeValue": "In School Suspension",
         "description": "In School Suspension"}]""")
    val p = new AmtPipeline(spark, silver.toString, "2022")

    val programs = p.view("studentProgramDim").collect()
    assert(programs.length == 1)
    assert(programs.head.getAs[String]("StudentSchoolProgramKey") ==
      "s1-100-Gifted-5-100-9000-20210901")
    assert(programs.head.getAs[String]("EducationOrganizationId") == "9000")
    assert(programs.head.getAs[String]("EducationOrganizationKey") == "100")

    val actions = p.view("equity_studentDisciplineActionDim").collect()
    assert(actions.length == 1)
    assert(actions.head.getAs[String]("StudentDisciplineActionKey") ==
      "DA-1-20211104-s1-100")
    assert(actions.head.getAs[String]("DisciplineActionDescription") == "In School Suspension")
    assert(actions.head.getAs[String]("UserKey") == "207220")
  }

  test("studentHistoryDim: 6-view DAG integration (golden)") {
    val silver = silverWith(
      "studentSchoolAssociations" -> """[
        {"schoolReference": {"schoolId": 100}, "schoolYearTypeReference": {"schoolYear": 2022},
         "studentReference": {"studentUniqueId": "s1"}, "entryDate": "2021-08-23"}
      ]""",
      "students" -> """[
        {"studentUniqueId": "s1", "firstName": "Ana", "lastSurname": "Lopez"}]""",
      "schools" -> """[
        {"schoolId": 100, "nameOfInstitution": "Grand Bend High",
         "schoolTypeDescriptor": "uri://ed-fi.org/SchoolTypeDescriptor#Regular",
         "addresses": [{"addressTypeDescriptor": "uri://ed-fi.org/AddressTypeDescriptor#Physical",
           "stateAbbreviationDescriptor": "uri://ed-fi.org/StateAbbreviationDescriptor#TX",
           "streetNumberName": "1 Main", "city": "GB", "nameOfCounty": "W"}]}]""",
      "studentEducationOrganizationAssociations" -> "[]",
      "calendarDates" -> """[
        {"date": "2021-09-13", "calendarReference": {"schoolId": 100, "schoolYear": 2022, "calendarCode": "C"},
         "calendarEvents": [{"calendarEventDescriptor": "uri://ed-fi.org/CalendarEventDescriptor#Instructional day"}]},
        {"date": "2021-09-14", "calendarReference": {"schoolId": 100, "schoolYear": 2022, "calendarCode": "C"},
         "calendarEvents": [{"calendarEventDescriptor": "uri://ed-fi.org/CalendarEventDescriptor#Instructional day"}]}
      ]""",
      "studentSchoolAttendanceEvents" -> "[]",
      "studentSectionAttendanceEvents" -> """[
        {"schoolReference": {"schoolId": 100},
         "sectionReference": {"localCourseCode": "ALG-1", "schoolId": 100, "schoolYear": 2022,
           "sectionIdentifier": "A", "sessionName": "Fall"},
         "studentReference": {"studentUniqueId": "s1"}, "eventDate": "2021-09-13",
         "attendanceEventCategoryDescriptor": "uri://ed-fi.org/AttendanceEventCategoryDescriptor#Unexcused Absence"}
      ]""",
      "studentSectionAssociations" -> """[
        {"sectionReference": {"localCourseCode": "ALG-1", "schoolId": 100, "schoolYear": 2022,
           "sectionIdentifier": "A", "sessionName": "Fall",
           "link": {"rel": "Section", "href": "/ed-fi/sections/sec-1"}},
         "studentReference": {"studentUniqueId": "s1"},
         "beginDate": "2021-08-23", "homeroomIndicator": true}
      ]""",
      "sections" -> """[
        {"id": "sec-1", "sectionIdentifier": "A",
         "courseOfferingReference": {"localCourseCode": "ALG-1", "schoolId": 100,
           "schoolYear": 2022, "sessionName": "Fall",
           "link": {"rel": "CourseOffering", "href": "/ed-fi/courseOfferings/co-1"}}}]""",
      "courseOfferings" -> """[
        {"id": "co-1", "courseReference": {"courseCode": "ALG-1",
          "link": {"rel": "Course", "href": "/ed-fi/courses/crs-1"}}}]""",
      "courses" -> """[
        {"id": "crs-1", "courseTitle": "Algebra I",
         "academicSubjectDescriptor": "uri://ed-fi.org/AcademicSubjectDescriptor#Mathematics"}]""",
      "academicSubjectDescriptors" -> """[
        {"academicSubjectDescriptorId": 10, "codeValue": "Mathematics", "description": "Mathematics"}]""",
      "staffSectionAssociations" -> "[]",
      "staffs" -> "[]",
      "grades" -> """[
        {"gradingPeriodReference": {
           "gradingPeriodDescriptor": "uri://ed-fi.org/GradingPeriodDescriptor#First Six Weeks",
           "periodSequence": 1, "schoolId": 100, "schoolYear": 2022},
         "studentSectionAssociationReference": {
           "studentUniqueId": "s1", "schoolId": 100, "beginDate": "2021-08-23",
           "localCourseCode": "ALG-1", "schoolYear": 2022,
           "sectionIdentifier": "A", "sessionName": "Fall"},
         "gradeTypeDescriptor": "uri://ed-fi.org/GradeTypeDescriptor#Grading Period",
         "numericGradeEarned": 88}
      ]""",
      "disciplineActions" -> """[
        {"disciplineActionIdentifier": "DA-1", "disciplineDate": "2021-11-04",
         "studentReference": {"studentUniqueId": "s1"},
         "disciplines": [{"disciplineDescriptor": "uri://ed-fi.org/DisciplineDescriptor#In School Suspension"}],
         "staffs": []}]""",
      "disciplineDescriptors" -> """[
        {"disciplineDescriptorId": 7, "codeValue": "In School Suspension",
         "description": "In School Suspension"}]""")
    val p = new AmtPipeline(spark, silver.toString, "2022")
    val rows = p.view("equity_studentHistoryDim").collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("StudentSchoolKey") == "s1-100")
    assert(r.getAs[String]("CurrentSchoolKey") == "100")
    assert(r.getAs[Double]("AttendanceRate") == 50.0) // absent 1 of 2 days
    assert(r.getAs[Long]("ReferralsAndSuspensions") == 1L)
    assert(r.getAs[String]("GradeSummary") == "Algebra I: 88.0")
    assert(r.getAs[String]("EnrollmentHistory") == "Grand Bend High")
  }

  test("sectionDim + rls_userAuthorization (golden)") {
    val silver = silverWith(
      "sections" -> """[
        {"id": "sec-1", "sectionIdentifier": "A", "sectionName": "Alg A",
         "educationalEnvironmentDescriptor": "uri://ed-fi.org/EducationalEnvironmentDescriptor#Classroom",
         "courseOfferingReference": {"localCourseCode": "ALG-1", "schoolId": 100,
           "schoolYear": 2022, "sessionName": "Fall",
           "link": {"rel": "CourseOffering", "href": "/ed-fi/courseOfferings/co-1"}}}]""",
      "courseOfferings" -> """[
        {"id": "co-1",
         "courseReference": {"courseCode": "ALG-1", "link": {"rel": "Course", "href": "/c/crs-1"}},
         "sessionReference": {"sessionName": "Fall", "link": {"rel": "Session", "href": "/s/se-1"}},
         "schoolReference": {"schoolId": 100, "link": {"rel": "School", "href": "/sch/sch-1"}}}]""",
      "courses" -> """[
        {"id": "crs-1", "courseTitle": "Algebra I",
         "academicSubjectDescriptor": "uri://ed-fi.org/AcademicSubjectDescriptor#Mathematics"}]""",
      "sessions" -> """[
        {"id": "se-1", "sessionName": "Fall",
         "termDescriptor": "uri://ed-fi.org/TermDescriptor#Fall Semester"}]""",
      "schools" -> """[
        {"schoolId": 100, "nameOfInstitution": "GBH",
         "localEducationAgencyReference": {"localEducationAgencyId": 9000}}]""",
      "academicSubjectDescriptors" -> """[
        {"academicSubjectDescriptorId": 10, "codeValue": "Mathematics",
         "description": "Math", "namespace": "uri://ed-fi.org/AcademicSubjectDescriptor"}]""",
      "termDescriptors" -> """[
        {"termDescriptorId": 9, "codeValue": "Fall Semester",
         "description": "Fall Sem", "namespace": "uri://ed-fi.org/TermDescriptor"}]""",
      "educationalEnvironmentDescriptors" -> """[
        {"educationalEnvironmentDescriptorId": 3, "codeValue": "Classroom",
         "description": "Classroom", "namespace": "uri://ed-fi.org/EducationalEnvironmentDescriptor"}]""",
      "staffEducationOrganizationAssignmentAssociations" -> """[
        {"staffReference": {"staffUniqueId": "207220", "link": {"rel": "Staff", "href": "/st/st-1"}},
         "educationOrganizationReference": {"educationOrganizationId": 9000},
         "staffClassificationDescriptor": "uri://ed-fi.org/StaffClassificationDescriptor#Superintendent"},
        {"staffReference": {"staffUniqueId": "207221", "link": {"rel": "Staff", "href": "/st/st-2"}},
         "educationOrganizationReference": {"educationOrganizationId": 100},
         "staffClassificationDescriptor": "uri://ed-fi.org/StaffClassificationDescriptor#Teacher"},
        {"staffReference": {"staffUniqueId": "207222", "link": {"rel": "Staff", "href": "/st/st-3"}},
         "educationOrganizationReference": {"educationOrganizationId": 100},
         "staffClassificationDescriptor": "uri://ed-fi.org/StaffClassificationDescriptor#Custodian"}]""",
      "staffSectionAssociations" -> """[
        {"staffReference": {"staffUniqueId": "207221", "link": {"rel": "Staff", "href": "/st/st-2"}},
         "sectionReference": {"localCourseCode": "ALG-1", "schoolId": 100, "schoolYear": 2022,
           "sectionIdentifier": "A", "sessionName": "Fall",
           "link": {"rel": "Section", "href": "/ed-fi/sections/sec-1"}},
         "endDate": "2099-05-27"}]""")
    val p = new AmtPipeline(spark, silver.toString, "2022")

    val secs = p.view("sectionDim").collect()
    assert(secs.length == 1)
    assert(secs.head.getAs[String]("SectionKey") == "100-ALG-1-2022-A-Fall")
    assert(secs.head.getAs[String]("Description") == "Math-(ALG-1)-Algebra I-Fall Sem")
    assert(secs.head.getAs[String]("EducationalEnvironmentDescriptor") == "Classroom")
    assert(secs.head.getAs[String]("LocalEducationAgencyKey") == "9000")
    assert(secs.head.getAs[String]("SessionKey") == "100-2022-Fall")

    val auth = p.view("rls_userAuthorization").orderBy("UserKey").collect()
    assert(auth.length == 2) // Custodian (no auth scope) dropped
    val superintendent = auth.head
    assert(superintendent.getAs[String]("UserScope") == "AuthorizationScope.District")
    assert(superintendent.getAs[String]("SectionPermission") == "ALL")
    assert(superintendent.getAs[String]("SchoolPermission") == "ALL")
    assert(superintendent.getAs[String]("DistrictId") == "9000")
    val teacher = auth(1)
    assert(teacher.getAs[String]("UserScope") == "AuthorizationScope.Section")
    assert(teacher.getAs[String]("SectionPermission") == "sec-1")
    assert(teacher.getAs[String]("SectionKeyPermission") == "100-ALG-1-2022-A-Fall")
    assert(teacher.getAs[String]("SchoolPermission") == "100")
    assert(teacher.getAs[String]("DistrictId") == "")
  }

  test("demographics bridges: explode families, derived fan-out, active periods (golden)") {
    val silver = silverWith(
      "studentSchoolAssociations" -> """[
        {"schoolReference": {"schoolId": 100}, "studentReference": {"studentUniqueId": "s1"},
         "entryDate": "2021-08-23"}]""",
      "schools" -> """[
        {"schoolId": 100, "nameOfInstitution": "GBH",
         "localEducationAgencyReference": {"localEducationAgencyId": 9000}}]""",
      "studentEducationOrganizationAssociations" -> """[
        {"id": "e1", "educationOrganizationReference": {"educationOrganizationId": 100},
         "studentReference": {"studentUniqueId": "s1"},
         "races": [{"raceDescriptor": "uri://ed-fi.org/RaceDescriptor#Asian"}],
         "languages": [{"languageDescriptor": "uri://ed-fi.org/LanguageDescriptor#Spanish",
           "uses": [{"languageUseDescriptor": "uri://ed-fi.org/LanguageUseDescriptor#Home language"}]}],
         "cohortYears": [{"cohortYearTypeDescriptor": "uri://ed-fi.org/CohortYearTypeDescriptor#First grade",
           "schoolYearTypeReference": {"schoolYear": 2022}}],
         "studentCharacteristics": [
           {"studentCharacteristicDescriptor": "uri://ed-fi.org/StudentCharacteristicDescriptor#Foster Care",
            "periods": [{"beginDate": "2021-08-23", "endDate": "2020-01-01"}]},
           {"studentCharacteristicDescriptor": "uri://ed-fi.org/StudentCharacteristicDescriptor#Homeless",
            "periods": [{"beginDate": "2021-08-23"}]}]},
        {"id": "e2", "educationOrganizationReference": {"educationOrganizationId": 9000},
         "studentReference": {"studentUniqueId": "s1"},
         "races": [{"raceDescriptor": "uri://ed-fi.org/RaceDescriptor#Asian"}]}
      ]""")
    val p = new AmtPipeline(spark, silver.toString, "2022")
    val keys = p.view("studentSchoolDemographicsBridge")
      .collect().map(_.getAs[String]("DemographicKey")).toSet
    assert(keys == Set(
      "CohortYear:2022-First grade", "Race:Asian", "Language:Spanish",
      "LanguageUse:Home language", "StudentCharacteristic:Homeless"))
    // expired Foster Care period excluded; school-level rows only (e1)

    val leaKeys = p.view("studentLocalEducationAgencyDemographicsBridge").collect()
    assert(leaKeys.length == 1) // only e2 matches the LEA org id
    assert(leaKeys.head.getAs[String]("StudentLocalEducationAgencyKey") == "s1-9000")
    assert(leaKeys.head.getAs[String]("DemographicKey") == "Race:Asian")
  }

  test("asmt facts: array fan-out + two-level recordPath (golden)") {
    val silver = silverWith(
      "assessments" -> """[
        {"assessmentIdentifier": "ACT-1", "namespace": "uri://act.org",
         "assessmentCategoryDescriptor": "uri://ed-fi.org/AssessmentCategoryDescriptor#College entrance exam",
         "assessmentTitle": "ACT", "assessmentVersion": 2,
         "assessedGradeLevels": [{"gradeLevelDescriptor": "uri://ed-fi.org/GradeLevelDescriptor#Eleventh grade"}],
         "scores": [{"assessmentReportingMethodDescriptor": "uri://ed-fi.org/AssessmentReportingMethodDescriptor#Scale score",
           "maximumScore": "36", "minimumScore": "1",
           "resultDatatypeTypeDescriptor": "uri://ed-fi.org/ResultDatatypeTypeDescriptor#Integer"}],
         "academicSubjects": [{"academicSubjectDescriptor": "uri://ed-fi.org/AcademicSubjectDescriptor#Mathematics"}]}
      ]""",
      "objectiveAssessments" -> """[
        {"assessmentReference": {"assessmentIdentifier": "ACT-1", "namespace": "uri://act.org"},
         "identificationCode": "MATH", "description": "Math section",
         "percentOfAssessment": 25,
         "scores": [], "learningStandards": []}
      ]""",
      "assessmentCategoryDescriptors" -> """[
        {"assessmentCategoryDescriptorId": 1, "codeValue": "College entrance exam",
         "description": "College entrance exam"}]""",
      "gradeLevelDescriptors" -> """[
        {"gradeLevelDescriptorId": 11, "codeValue": "Eleventh grade", "description": "11th"}]""",
      "assessmentReportingMethodDescriptors" -> """[
        {"assessmentReportingMethodDescriptorId": 20, "codeValue": "Scale score",
         "description": "Scale score"}]""",
      "academicSubjectDescriptors" -> """[
        {"academicSubjectDescriptorId": 10, "codeValue": "Mathematics", "description": "Math"}]""",
      "resultDatatypeTypeDescriptors" -> """[
        {"resultDatatypeTypeDescriptorId": 30, "codeValue": "Integer", "description": "Integer"}]""",
      "performanceLevelDescriptors" -> """[
        {"performanceLevelDescriptorId": 40, "codeValue": "Proficient", "description": "Proficient"}]""",
      "studentAssessments" -> """[
        {"id": "sa-1", "studentAssessmentIdentifier": "SA-1",
         "administrationDate": "2022-03-01",
         "assessmentReference": {"assessmentIdentifier": "ACT-1", "namespace": "uri://act.org"},
         "studentReference": {"studentUniqueId": "s1"},
         "whenAssessedGradeLevelDescriptor": "uri://ed-fi.org/GradeLevelDescriptor#Eleventh grade",
         "scoreResults": [{"assessmentReportingMethodDescriptor": "uri://ed-fi.org/AssessmentReportingMethodDescriptor#Scale score",
           "result": "28", "resultDatatypeTypeDescriptor": "uri://ed-fi.org/ResultDatatypeTypeDescriptor#Integer"}],
         "performanceLevels": [],
         "studentObjectiveAssessments": [
           {"objectiveAssessmentReference": {"identificationCode": "MATH"},
            "scoreResults": [{"assessmentReportingMethodDescriptor": "uri://ed-fi.org/AssessmentReportingMethodDescriptor#Scale score",
              "result": "30", "resultDatatypeTypeDescriptor": "uri://ed-fi.org/ResultDatatypeTypeDescriptor#Integer"}],
            "performanceLevels": [{"assessmentReportingMethodDescriptor": "uri://ed-fi.org/AssessmentReportingMethodDescriptor#Scale score",
              "performanceLevelDescriptor": "uri://ed-fi.org/PerformanceLevelDescriptor#Proficient",
              "performanceLevelMet": true}]}]}
      ]""",
      "studentSchoolAssociations" -> """[
        {"schoolReference": {"schoolId": 100}, "studentReference": {"studentUniqueId": "s1"},
         "entryDate": "2021-08-23"}]""")
    val p = new AmtPipeline(spark, silver.toString, "2022")

    val af = p.view("asmt_assessmentFact").collect()
    assert(af.length == 1)
    assert(af.head.getAs[String]("AssessmentKey") == "ACT-1-uri://act.org")
    assert(af.head.getAs[String]("Category") == "College entrance exam")
    assert(af.head.getAs[String]("MinScore") == "1")
    assert(af.head.getAs[String]("ObjectiveAssessmentKey") == "ACT-1-MATH-uri://act.org")
    assert(af.head.getAs[String]("PercentOfAssessment") == "25.0")

    val saf = p.view("asmt_studentAssessmentFact").collect()
    assert(saf.length == 1)
    val r = saf.head
    assert(r.getAs[String]("StudentAssessmentKey") == "ACT-1-uri://act.org-SA-1-s1")
    assert(r.getAs[String]("StudentScore") == "30") // objective-level score wins
    assert(r.getAs[String]("StudentAssessmentScore") == "28") // assessment-level kept
    assert(r.getAs[String]("PerformanceResult") == "Proficient")
    assert(r.getAs[String]("AdministrationDateKey") == "20220301")
    assert(r.getAs[String]("StudentObjectiveAssessmentKey") ==
      "s1-MATH-ACT-1-SA-1-uri://act.org")
    assert(r.getAs[String]("SchoolKey") == "100")
  }

  test("foodServiceProgramDim: service explode + descriptor ids in key (golden)") {
    val silver = silverWith(
      "studentSchoolFoodServiceProgramAssociations" -> """[
        {"studentReference": {"studentUniqueId": "s1"},
         "programReference": {"programName": "Lunch",
           "programTypeDescriptor": "uri://ed-fi.org/ProgramTypeDescriptor#Food Service",
           "educationOrganizationId": 9000},
         "educationOrganizationReference": {"educationOrganizationId": 100},
         "beginDate": "2021-09-01",
         "schoolFoodServiceProgramServices": [
           {"schoolFoodServiceProgramServiceDescriptor": "uri://ed-fi.org/SchoolFoodServiceProgramServiceDescriptor#Free Lunch"}]}
      ]""",
      "studentSchoolAssociations" -> """[
        {"schoolReference": {"schoolId": 100}, "studentReference": {"studentUniqueId": "s1"},
         "entryDate": "2021-08-23"}]""",
      "programTypeDescriptors" -> """[
        {"programTypeDescriptorId": 6, "codeValue": "Food Service"}]""",
      "schoolFoodServiceProgramServiceDescriptors" -> """[
        {"schoolFoodServiceProgramServiceDescriptorId": 12, "codeValue": "Free Lunch"}]""")
    val p = new AmtPipeline(spark, silver.toString, "2022")
    val rows = p.view("equity_studentSchoolFoodServiceProgramDim").collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("StudentSchoolFoodServiceProgramKey") ==
      "s1-100-Lunch-6-100-9000-20210901-12")
    assert(rows.head.getAs[String]("SchoolFoodServiceProgramServiceDescriptor") == "Free Lunch")
  }

  test("epp_financialAidFact + rls_userStudentDataAuthorization (golden)") {
    val silver = silverWith(
      "candidates" -> """[
        {"candidateIdentifier": "C-1", "firstName": "Ana", "lastSurname": "Lopez",
         "personReference": {"personId": "P-1", "link": {"rel": "Person", "href": "/people/per-1"}}}]""",
      "students" -> """[
        {"id": "stu-1", "studentUniqueId": "s1", "firstName": "Ana", "lastSurname": "Lopez",
         "personReference": {"personId": "P-1", "link": {"rel": "Person", "href": "/people/per-1"}}}]""",
      "financialAids" -> """[
        {"beginDate": "2022-01-10", "aidConditionDescription": "Merit",
         "aidTypeDescriptor": "uri://ed-fi.org/AidTypeDescriptor#Scholarship",
         "aidAmount": 1200.50, "pellGrantRecipient": true,
         "studentReference": {"studentUniqueId": "s1",
           "link": {"rel": "Student", "href": "/students/stu-1"}}}]""",
      "aidTypeDescriptors" -> """[
        {"aidTypeDescriptorId": 4, "codeValue": "Scholarship", "description": "Scholarship"}]""",
      "staffEducationOrganizationAssignmentAssociations" -> """[
        {"staffReference": {"staffUniqueId": "207220", "link": {"rel": "Staff", "href": "/st/st-1"}},
         "educationOrganizationReference": {"educationOrganizationId": 9000},
         "staffClassificationDescriptor": "uri://ed-fi.org/StaffClassificationDescriptor#Superintendent"},
        {"staffReference": {"staffUniqueId": "207221", "link": {"rel": "Staff", "href": "/st/st-2"}},
         "educationOrganizationReference": {"educationOrganizationId": 100},
         "staffClassificationDescriptor": "uri://ed-fi.org/StaffClassificationDescriptor#Principal"}]""",
      "studentSchoolAssociations" -> """[
        {"schoolReference": {"schoolId": 100}, "studentReference": {"studentUniqueId": "s1"},
         "entryDate": "2021-08-23"},
        {"schoolReference": {"schoolId": 200}, "studentReference": {"studentUniqueId": "s2"},
         "entryDate": "2021-08-23"}]""",
      "schools" -> """[
        {"schoolId": 100, "nameOfInstitution": "A",
         "localEducationAgencyReference": {"localEducationAgencyId": 9000}},
        {"schoolId": 200, "nameOfInstitution": "B",
         "localEducationAgencyReference": {"localEducationAgencyId": 9999}}]""",
      "studentSectionAssociations" -> "[]",
      "staffSectionAssociations" -> "[]")
    val p = new AmtPipeline(spark, silver.toString, "2022")

    val aid = p.view("epp_financialAidFact").collect()
    assert(aid.length == 1)
    assert(aid.head.getAs[String]("CandidateAidKey") == "C-1-4-20220110")
    assert(aid.head.getAs[Double]("AidAmount") == 1200.50)
    assert(aid.head.getAs[Int]("PellGrantRecipient") == 1)
    assert(aid.head.getAs[String]("AidType") == "Scholarship")

    val auth = p.view("rls_userStudentDataAuthorization")
      .orderBy("UserKey", "StudentKey").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    // district staff (LEA 9000) sees s1 (school 100 in that LEA), not s2;
    // school staff at 100 sees s1
    assert(auth == Seq(("207220", "s1"), ("207221", "s1")))
  }

  test("studentLocalEducationAgencyDim: LEA-level attributes + enrollment semi-join (golden)") {
    val silver = silverWith(
      "students" -> """[
        {"studentUniqueId": "s1", "firstName": "Ana", "lastSurname": "Lopez"}]""",
      "studentSchoolAssociations" -> """[
        {"schoolReference": {"schoolId": 100}, "studentReference": {"studentUniqueId": "s1"},
         "entryDate": "2021-08-23"}]""",
      "localEducationAgencies" -> """[
        {"id": "lea-1", "localEducationAgencyId": 9000, "nameOfInstitution": "GB ISD"}]""",
      "studentEducationOrganizationAssociations" -> """[
        {"id": "e1", "educationOrganizationReference": {"educationOrganizationId": 9000},
         "studentReference": {"studentUniqueId": "s1"},
         "hispanicLatinoEthnicity": true,
         "sexDescriptor": "uri://ed-fi.org/SexDescriptor#Female",
         "studentIndicators": [{"indicatorName": "Digital Device", "indicator": "Laptop"}]},
        {"id": "e2", "educationOrganizationReference": {"educationOrganizationId": 100},
         "studentReference": {"studentUniqueId": "s1"},
         "sexDescriptor": "uri://ed-fi.org/SexDescriptor#Other"}
      ]""")
    val p = new AmtPipeline(spark, silver.toString, "2022")
    val rows = p.view("studentLocalEducationAgencyDim").collect()
    assert(rows.length == 1) // only the LEA-level association (e1) qualifies
    val r = rows.head
    assert(r.getAs[String]("StudentLocalEducationAgencyKey") == "s1-9000")
    assert(r.getAs[Int]("IsHispanic") == 1)
    assert(r.getAs[String]("Sex") == "Female")
    assert(r.getAs[String]("DigitalDevice") == "Laptop")
    assert(r.getAs[String]("InternetPerformance") == "n/a")
  }

  test("contactPersonDim: typed addresses/phones/emails, primary-email rule (golden)") {
    val silver = silverWith(
      "studentParentAssociations" -> """[
        {"parentReference": {"parentUniqueId": "p1"},
         "studentReference": {"studentUniqueId": "s1"},
         "primaryContactStatus": true, "livesWith": true,
         "emergencyContactStatus": false, "contactPriority": 1,
         "contactRestrictions": "None",
         "relationDescriptor": "uri://ed-fi.org/RelationDescriptor#Mother"},
        {"parentReference": {"parentUniqueId": "p2"},
         "studentReference": {"studentUniqueId": "s1"},
         "primaryContactStatus": false,
         "emergencyContactStatus": true,
         "relationDescriptor": "uri://ed-fi.org/RelationDescriptor#Uncle"},
        {"parentReference": {"parentUniqueId": "ghost"},
         "studentReference": {"studentUniqueId": "s1"},
         "primaryContactStatus": false, "emergencyContactStatus": false}
      ]""",
      "parents" -> """[
        {"id": "par-1", "parentUniqueId": "p1", "firstName": "Maria", "lastSurname": "Lopez",
         "addresses": [
           {"addressTypeDescriptor": "uri://ed-fi.org/AddressTypeDescriptor#Home",
            "streetNumberName": "123 Main St", "apartmentRoomSuiteNumber": "4B",
            "city": "Grand Bend",
            "stateAbbreviationDescriptor": "uri://ed-fi.org/StateAbbreviationDescriptor#TX",
            "postalCode": "78834",
            "periods": [{"beginDate": "2020-01-01"}]},
           {"addressTypeDescriptor": "uri://ed-fi.org/AddressTypeDescriptor#Work",
            "streetNumberName": "9 Office Park", "city": "Grand Bend",
            "stateAbbreviationDescriptor": "uri://ed-fi.org/StateAbbreviationDescriptor#TX",
            "postalCode": "78835"}],
         "telephones": [
           {"telephoneNumber": "555-0100",
            "telephoneNumberTypeDescriptor": "uri://ed-fi.org/TelephoneNumberTypeDescriptor#Home"},
           {"telephoneNumber": "555-0101",
            "telephoneNumberTypeDescriptor": "uri://ed-fi.org/TelephoneNumberTypeDescriptor#Mobile"}],
         "electronicMails": [
           {"electronicMailAddress": "maria@work.example",
            "electronicMailTypeDescriptor": "uri://ed-fi.org/ElectronicMailTypeDescriptor#Work",
            "primaryEmailAddressIndicator": true},
           {"electronicMailAddress": "maria@home.example",
            "electronicMailTypeDescriptor": "uri://ed-fi.org/ElectronicMailTypeDescriptor#Home/Personal",
            "primaryEmailAddressIndicator": true}]},
        {"id": "par-2", "parentUniqueId": "p2", "firstName": "Ed", "lastSurname": "Jones"}
      ]""")
    val p = new AmtPipeline(spark, silver.toString, "2022")
    val rows = p.view("contactPersonDim").orderBy("UniqueKey").collect()
    // ghost parent dropped by the inner join; p1 and p2 each one row
    assert(rows.length == 2)
    val r1 = rows.head
    assert(r1.getAs[String]("UniqueKey") == "p1-s1")
    assert(r1.getAs[String]("ContactPersonKey") == "p1")
    assert(r1.getAs[String]("RelationshipToStudent") == "Mother")
    // street, apt, city state zip — apt only when non-empty
    assert(r1.getAs[String]("ContactHomeAddress") == "123 Main St, 4B, Grand Bend TX 78834")
    assert(r1.getAs[String]("ContactWorkAddress") == "9 Office Park, Grand Bend TX 78835")
    assert(r1.getAs[String]("ContactPhysicalAddress") == "")
    assert(r1.getAs[String]("PostalCode") == "78834")
    assert(r1.getAs[String]("HomePhoneNumber") == "555-0100")
    assert(r1.getAs[String]("MobilePhoneNumber") == "555-0101")
    assert(r1.getAs[String]("WorkPhoneNumber") == "")
    assert(r1.getAs[String]("WorkEmailAddress") == "maria@work.example")
    assert(r1.getAs[String]("PersonalEmailAddress") == "maria@home.example")
    // reference main.py:455-462: the personal-indicator apply overwrites the
    // work one, so flagged-personal → 'Personal'
    assert(r1.getAs[String]("PrimaryEmailAddress") == "Personal")
    assert(r1.getAs[Int]("IsPrimaryContact") == 1)
    assert(r1.getAs[Int]("StudentLivesWith") == 1)
    assert(r1.getAs[Int]("IsEmergencyContact") == 0)
    assert(r1.getAs[Int]("ContactPriority") == 1)
    assert(r1.getAs[String]("ContactRestrictions") == "None")
    val r2 = rows(1)
    assert(r2.getAs[String]("UniqueKey") == "p2-s1")
    // no addresses at all: home address and postal stay null (not ''-filled)
    assert(r2.getAs[String]("ContactHomeAddress") == null)
    assert(r2.getAs[String]("PostalCode") == null)
    assert(r2.getAs[String]("ContactMailingAddress") == "")
    assert(r2.getAs[String]("PrimaryEmailAddress") == "Not specified")
    assert(r2.getAs[Int]("StudentLivesWith") == 0) // livesWith null → false
    assert(r2.getAs[Int]("ContactPriority") == 0)  // contactPriority null → 0
  }

  test("contactPersonDim: empty associations → empty frame, full schema") {
    val p = new AmtPipeline(spark, silverWith("parents" -> "[]").toString, "2022")
    val df = p.view("contactPersonDim")
    assert(df.columns.toSeq == graft.views.base.ContactPersonDim.outputColumns)
    assert(df.count() == 0)
  }

  test("equity_studentProgramCohortDim: program fan-out, descriptor descriptions, enrollment filter (golden)") {
    val silver = silverWith(
      "studentCohortAssociations" -> """[
        {"cohortReference": {"cohortIdentifier": "ACAD", "educationOrganizationId": 9000,
          "link": {"rel": "Cohort", "href": "/ed-fi/cohorts/co-1"}},
         "studentReference": {"studentUniqueId": "s1"},
         "beginDate": "2021-09-01"},
        {"cohortReference": {"cohortIdentifier": "ACAD", "educationOrganizationId": 9000,
          "link": {"rel": "Cohort", "href": "/ed-fi/cohorts/co-1"}},
         "studentReference": {"studentUniqueId": "s2"},
         "beginDate": "2021-09-01"}
      ]""",
      "cohorts" -> """[
        {"id": "co-1", "cohortIdentifier": "ACAD", "cohortDescription": "Academic support",
         "cohortTypeDescriptor": "uri://ed-fi.org/CohortTypeDescriptor#Academic Intervention",
         "educationOrganizationReference": {"educationOrganizationId": 9000},
         "programs": [
           {"programReference": {"educationOrganizationId": 9000, "programName": "Tutoring",
             "programTypeDescriptor": "uri://ed-fi.org/ProgramTypeDescriptor#Remedial Education"}},
           {"programReference": {"educationOrganizationId": 9000, "programName": "Mentoring",
             "programTypeDescriptor": "uri://ed-fi.org/ProgramTypeDescriptor#Remedial Education"}}]},
        {"id": "co-2", "cohortIdentifier": "EMPTY", "cohortDescription": "No programs",
         "cohortTypeDescriptor": "uri://ed-fi.org/CohortTypeDescriptor#Academic Intervention",
         "educationOrganizationReference": {"educationOrganizationId": 9000}}
      ]""",
      "studentSchoolAssociations" -> """[
        {"schoolReference": {"schoolId": 100}, "studentReference": {"studentUniqueId": "s1"},
         "entryDate": "2021-08-23",
         "entryGradeLevelDescriptor": "uri://ed-fi.org/GradeLevelDescriptor#Ninth grade"},
        {"schoolReference": {"schoolId": 100}, "studentReference": {"studentUniqueId": "s2"},
         "entryDate": "2021-08-23", "exitWithdrawDate": "2021-12-01",
         "entryGradeLevelDescriptor": "uri://ed-fi.org/GradeLevelDescriptor#Ninth grade"}
      ]""",
      "cohortTypeDescriptors" -> """[
        {"cohortTypeDescriptorId": 10, "codeValue": "Academic Intervention",
         "description": "Academic Intervention Cohort",
         "namespace": "uri://ed-fi.org/CohortTypeDescriptor", "shortDescription": "AI"}]""",
      "programTypeDescriptors" -> """[
        {"programTypeDescriptorId": 77, "codeValue": "Remedial Education",
         "description": "Remedial Education",
         "namespace": "uri://ed-fi.org/ProgramTypeDescriptor", "shortDescription": "RE"}]""",
      "gradeLevelDescriptors" -> """[
        {"gradeLevelDescriptorId": 9, "codeValue": "Ninth grade",
         "description": "9th Grade",
         "namespace": "uri://ed-fi.org/GradeLevelDescriptor", "shortDescription": "9"}]""")
    val p = new AmtPipeline(spark, silver.toString, "2022")
    val rows = p.view("equity_studentProgramCohortDim")
      .orderBy("StudentProgramCohortKey").collect()
    // s1 × 2 programs; s2 dropped (withdrew 2021-12-01 < today); co-2 has no
    // programs so contributes nothing
    assert(rows.length == 2)
    val r = rows.head
    assert(r.getAs[String]("StudentProgramCohortKey") ==
      "s1-100-Mentoring-77-9000-9000-20210901-ACAD")
    assert(r.getAs[String]("StudentSchoolProgramKey") ==
      "s1-100-Mentoring-77-9000-9000-20210901")
    assert(r.getAs[String]("StudentSchoolKey") == "s1-100")
    assert(r.getAs[String]("CohortTypeDescriptor") == "Academic Intervention Cohort")
    assert(r.getAs[String]("EntryGradeLevelDescriptor") == "9th Grade")
    assert(r.getAs[String]("CohortDescription") == "Academic support")
    assert(rows(1).getAs[String]("ProgramName") == "Tutoring")
  }

  test("epp_candidateDim: program join, descriptor URIs, credential group-min (golden)") {
    val silver = silverWith(
      "candidates" -> """[
        {"candidateIdentifier": "c1", "firstName": "Eva", "lastSurname": "Reyes",
         "sexDescriptor": "uri://ed-fi.org/SexDescriptor#Female",
         "hispanicLatinoEthnicity": true, "economicDisadvantaged": false,
         "races": [{"raceDescriptor": "uri://ed-fi.org/RaceDescriptor#Asian"}],
         "personReference": {"personId": "per-1"}},
        {"candidateIdentifier": "c2", "firstName": "Sam", "lastSurname": "Nolan",
         "sexDescriptor": "uri://ed-fi.org/SexDescriptor#Male",
         "personReference": {"personId": "per-2"}}
      ]""",
      "candidateEducatorPreparationProgramAssociations" -> """[
        {"candidateReference": {"candidateIdentifier": "c1"},
         "educatorPreparationProgramReference":
           {"programName": "Teacher Prep", "educationOrganizationId": 6000053},
         "beginDate": "2021-08-01",
         "reasonExitedDescriptor": "uri://ed-fi.org/ReasonExitedDescriptor#Completed",
         "cohortYears": [{"cohortYearTypeDescriptor": "uri://ed-fi.org/CohortYearTypeDescriptor#First year",
                          "schoolYearTypeReference": {"schoolYear": 2022}}]}
      ]""",
      "students" -> """[
        {"studentUniqueId": "stu-9", "personReference": {"personId": "per-1"}}]""",
      "people" -> """[{"id": "pp-1", "personId": "per-1"}]""",
      "credentials" -> """[
        {"credentialIdentifier": "cr-1", "issuanceDate": "2023-06-02",
         "_ext": {"tpdm": {"personReference": {"personId": "per-1"}}}},
        {"credentialIdentifier": "cr-2", "issuanceDate": "2022-06-02",
         "_ext": {"tpdm": {"personReference": {"personId": "per-1"}}}},
        {"credentialIdentifier": "cr-3", "issuanceDate": "2021-01-01"}
      ]""",
      "raceDescriptors" -> """[
        {"raceDescriptorId": 31, "codeValue": "Asian",
         "description": "Asian", "namespace": "uri://ed-fi.org/RaceDescriptor",
         "shortDescription": "Asian"}]""",
      "sexDescriptors" -> """[
        {"sexDescriptorId": 21, "codeValue": "Female",
         "description": "Female", "namespace": "uri://ed-fi.org/SexDescriptor",
         "shortDescription": "Female"}]""")
    val p = new AmtPipeline(spark, silver.toString, "2022")
    val rows = p.view("epp_candidateDim").collect()
    // c2 has no program association (inner join drops); c1's two credentials
    // collapse in the group-min
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("CandidateKey") == "c1")
    assert(r.getAs[String]("SexDescriptorKey") == "21")
    assert(r.getAs[String]("SexDescriptor") == "Female")
    assert(r.getAs[String]("RaceDescriptorKey") == "31")
    assert(r.getAs[String]("RaceDescriptor") == "Asian")
    assert(r.getAs[Int]("HispanicLatinoEthnicity") == 1)
    assert(r.getAs[Int]("EconomicDisadvantaged") == 0)
    assert(r.getAs[String]("Cohort") == "2022")
    assert(r.getAs[Int]("ProgramComplete") == 1)
    assert(r.getAs[String]("StudentKey") == "stu-9")
    assert(r.getAs[String]("ProgramName") == "Teacher Prep")
    assert(r.getAs[String]("EducationOrganizationKey") == "6000053")
    assert(r.getAs[String]("CohortYearTermDescription") == "")
  }

  test("epp_candidateSurveyDim: matrix-element fan-out through the survey join chain (golden)") {
    val silver = silverWith(
      "candidates" -> """[
        {"candidateIdentifier": "c1",
         "personReference": {"personId": "per-1",
           "link": {"rel": "Person", "href": "/ed-fi/people/pp-1"}}}]""",
      "surveys" -> """[
        {"id": "sv-1", "surveyIdentifier": "EPP-EXIT", "surveyTitle": "Exit Survey"}]""",
      "surveyQuestions" -> """[
        {"id": "sq-1", "questionCode": "Q1", "questionText": "Rate the program",
         "surveySectionReference": {"surveyIdentifier": "EPP-EXIT",
           "surveySectionTitle": "Overall"}}]""",
      "surveyResponses" -> """[
        {"id": "sr-1", "responseDate": "2022-05-10",
         "surveyResponseIdentifier": "RESP-7",
         "surveyReference": {"surveyIdentifier": "EPP-EXIT"}}]""",
      "surveyQuestionResponses" -> """[
        {"id": "sqr-1",
         "surveyQuestionReference": {"questionCode": "Q1", "surveyIdentifier": "EPP-EXIT",
           "link": {"rel": "SurveyQuestion", "href": "/ed-fi/surveyQuestions/sq-1"}},
         "surveyResponseReference":
           {"link": {"rel": "SurveyResponse", "href": "/ed-fi/surveyResponses/sr-1"}},
         "surveyQuestionMatrixElementResponses": [
           {"numericResponse": 4},
           {"textResponse": "Great mentors"}]}
      ]""",
      "surveyResponsePersonTargetAssociations" -> """[
        {"surveyResponseReference":
           {"link": {"rel": "SurveyResponse", "href": "/ed-fi/surveyResponses/sr-1"}},
         "personReference": {"personId": "per-1",
           "link": {"rel": "Person", "href": "/ed-fi/people/pp-1"}}}
      ]""")
    val p = new AmtPipeline(spark, silver.toString, "2022")
    val rows = p.view("epp_candidateSurveyDim").orderBy("NumericResponse").collect()
    assert(rows.length == 2) // one per matrix element
    val numeric = rows(1)
    assert(numeric.getAs[String]("CandidateSurveyKey") == "EPP-EXIT-Q1-RESP-7-per-1")
    assert(numeric.getAs[String]("CandidateKey") == "c1")
    assert(numeric.getAs[String]("SurveyTitle") == "Exit Survey")
    assert(numeric.getAs[String]("SurveySectionTitle") == "Overall")
    assert(numeric.getAs[String]("ResponseDateKey") == "20220510")
    assert(numeric.getAs[String]("NumericResponse") == "4")
    assert(numeric.getAs[String]("TextResponse") == "")
    assert(rows.head.getAs[String]("TextResponse") == "Great mentors")
  }

  test("epp_evaluationElementRatingDim: results fan-out, term lookup, dedup (golden)") {
    val silver = silverWith(
      "candidates" -> """[
        {"candidateIdentifier": "c1", "personReference": {"personId": "per-1"}}]""",
      "evaluationObjectives" -> """[
        {"id": "eo-1", "evaluationObjectiveTitle": "Instructional Practice"}]""",
      "evaluationElementRatings" -> """[
        {"id": "er-1",
         "evaluationObjectiveRatingReference": {"personId": "per-1",
           "evaluationDate": "2022-04-01T09:30:00Z",
           "evaluationObjectiveTitle": "Instructional Practice"},
         "evaluationElementReference": {
           "performanceEvaluationTitle": "Spring Review",
           "evaluationElementTitle": "Lesson Planning",
           "termDescriptor": "uri://ed-fi.org/TermDescriptor#Spring Semester",
           "schoolYear": 2022, "evaluationTitle": "Formative"},
         "results": [
           {"ratingResultTitle": "Pedagogy", "rating": 3.5},
           {"ratingResultTitle": "Pedagogy", "rating": 3.5},
           {"ratingResultTitle": "Content", "rating": 4.0}]}
      ]""",
      "termDescriptors" -> """[
        {"termDescriptorId": 45, "codeValue": "Spring Semester",
         "description": "Spring Semester", "namespace": "uri://ed-fi.org/TermDescriptor",
         "shortDescription": "Spring"}]""")
    val p = new AmtPipeline(spark, silver.toString, "2022")
    val rows = p.view("epp_evaluationElementRatingDim").orderBy("RatingResultTitle").collect()
    assert(rows.length == 2) // duplicate Pedagogy row deduped
    val r = rows.last
    assert(r.getAs[String]("CandidateKey") == "c1")
    assert(r.getAs[String]("EvaluationDate") == "2022-04-01")
    assert(r.getAs[String]("EvaluationDateKey") == "20220401")
    assert(r.getAs[String]("PerformanceEvaluationTitle") == "Spring Review")
    assert(r.getAs[String]("EvaluationObjectiveTitle") == "Instructional Practice")
    assert(r.getAs[String]("EvaluationElementTitle") == "Lesson Planning")
    assert(r.getAs[String]("RatingResultTitle") == "Pedagogy")
    assert(r.getAs[String]("TermDescriptorKey") == "45")
    assert(r.getAs[String]("SchoolYear") == "2022")
    assert(r.getAs[Double]("Rating") == 3.5)
  }

  test("ews_studentEarlyWarningFact: hot-school skew fixture stays correct (AQE skew join)") {
    // school 100 is hot (300 students), school 200 tiny (3) — the spine join
    // on schoolId hashes all hot-school rows into one partition; AQE
    // skew-split (asserted on) is the runtime mitigation at scale, and the
    // result must be identical either way.
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    val hot = (1 to 300).map { i =>
      s"""{"schoolReference": {"schoolId": 100},
          "studentReference": {"studentUniqueId": "h$i"},
          "entryDate": "2021-08-01"}"""
    }
    val tiny = (1 to 3).map { i =>
      s"""{"schoolReference": {"schoolId": 200},
          "studentReference": {"studentUniqueId": "t$i"},
          "entryDate": "2021-08-01"}"""
    }
    val days = (1 to 20).map { d =>
      val date = f"2021-09-$d%02d"
      s"""{"date": "$date",
          "calendarReference": {"schoolId": 100, "schoolYear": 2022},
          "calendarEvents": [{"calendarEventDescriptor":
            "uri://ed-fi.org/CalendarEventDescriptor#Instructional day"}]},
         {"date": "$date",
          "calendarReference": {"schoolId": 200, "schoolYear": 2022},
          "calendarEvents": [{"calendarEventDescriptor":
            "uri://ed-fi.org/CalendarEventDescriptor#Instructional day"}]}"""
    }
    val silver = silverWith(
      "studentSchoolAssociations" -> s"[${(hot ++ tiny).mkString(",")}]",
      "calendarDates" -> s"[${days.mkString(",")}]",
      "studentSchoolAttendanceEvents" -> """[
        {"schoolReference": {"schoolId": 100},
         "studentReference": {"studentUniqueId": "h7"},
         "eventDate": "2021-09-03",
         "attendanceEventCategoryDescriptor":
           "uri://ed-fi.org/AttendanceEventCategoryDescriptor#Tardy"}]""")
    val p = new AmtPipeline(spark, silver.toString, "2022")
    val fact = p.view("ews_studentEarlyWarningFact").cache()
    assert(fact.count() == (300 + 3) * 20)
    val bySchool = fact.groupBy("SchoolKey").count().collect()
      .map(r => r.getAs[String]("SchoolKey") -> r.getAs[Long]("count")).toMap
    assert(bySchool == Map("100" -> 6000L, "200" -> 60L))
    val tardy = fact.filter(col("IsTardyToSchool") > 0).collect()
    assert(tardy.length == 1 &&
      tardy.head.getAs[String]("StudentKey") == "h7" &&
      tardy.head.getAs[String]("DateKey") == "20210903")
    fact.unpersist()
  }

  test("csv debug sink (S8) and gold truncate-on-rewrite (S11)") {
    val silver = silverWith(
      "gradingPeriods" -> gradingPeriodsJson,
      "gradingPeriodDescriptors" -> gradingPeriodDescriptorsJson)
    val p = new AmtPipeline(spark, silver.toString, "2022")
    val df = p.view("gradingPeriodDim")
    // S8: csv debug dump round-trips the row count
    val csvDir = Files.createTempDirectory("csvdump")
    df.write.mode("overwrite").option("header", "true").csv(s"$csvDir/gp")
    assert(spark.read.option("header", "true").csv(s"$csvDir/gp").count() == df.count())
    // S11: overwrite truncates — double write leaves exactly one copy
    val gold = Files.createTempDirectory("goldtrunc")
    df.write.mode("overwrite").parquet(s"$gold/gp.parquet")
    df.write.mode("overwrite").parquet(s"$gold/gp.parquet")
    assert(spark.read.parquet(s"$gold/gp.parquet").count() == df.count())
  }

  test("hot silver endpoints are cached once across consuming views") {
    val silver = silverWith(
      "studentSchoolAssociations" -> """[
        {"schoolReference": {"schoolId": 100}, "studentReference": {"studentUniqueId": "s1"},
         "entryDate": "2021-08-23"}]""",
      "students" -> """[{"studentUniqueId": "s1", "firstName": "A", "lastSurname": "B"}]""")
    val p = new AmtPipeline(spark, silver.toString, "2022")
    // two views that both consume studentSchoolAssociations
    p.view("ews_studentEarlyWarningFact").count()
    p.view("chrab_chronicAbsenteeismAttendanceFact").count()
    val cached = spark.sparkContext.getPersistentRDDs.values
      .exists(_.name != null)
    assert(cached) // the shared endpoint frame is in the block manager
  }

  test("writeAll produces one gold parquet per view") {
    val silver = silverWith(
      "gradingPeriods" -> gradingPeriodsJson,
      "gradingPeriodDescriptors" -> gradingPeriodDescriptorsJson)
    val gold = Files.createTempDirectory("gold")
    new AmtPipeline(spark, silver.toString, "2022").writeAll(gold.toString)
    val written = spark.read.parquet(s"$gold/2022/gradingPeriodDim.parquet")
    assert(written.count() == 2)
  }

  test("refresh loop: rebuild, no-op on unchanged silver, rebuild on drift") {
    import graft.runner.AmtLoop
    val silver = silverWith(
      "gradingPeriods" -> gradingPeriodsJson,
      "gradingPeriodDescriptors" -> gradingPeriodDescriptorsJson)
    val gold = Files.createTempDirectory("gold").toString
    val sleeps = scala.collection.mutable.ListBuffer.empty[Long]
    // two consecutive loop iterations over unchanged silver: the first
    // builds all 41 views, the second must be a NO-OP (fingerprint hit —
    // the incremental story the reference's unconditional hourly rebuild
    // lacks, dagster_config/schedules/schedule.py:8-10)
    val counts = AmtLoop.loop(spark, silver.toString, gold, Seq("2022"),
      intervalMillis = 3600_000L, maxIterations = 2, sleep = sleeps.append(_))
    assert(counts == Seq(1, 0), "second iteration must skip the unchanged year")
    assert(sleeps.toList == List(3600_000L)) // slept between, not after
    assert(spark.read.parquet(s"$gold/2022/gradingPeriodDim.parquet").count() == 2)
    // a new silver file (a delta batch landing) must trigger a rebuild,
    // and a rebuild after gold deletion must also repair the output
    Files.writeString(
      silver.resolve("2022").resolve("gradingPeriods").resolve("gradingPeriods_2.json"),
      "[]")
    assert(AmtLoop.runOnce(spark, silver.toString, gold, "2022"))
    assert(!AmtLoop.runOnce(spark, silver.toString, gold, "2022"))
    // missing silver year: no endpoint fingerprints, builds once (empty
    // frames), then no-ops
    assert(AmtLoop.endpointFingerprints(silver.toString, "1999") == Map.empty)
    assert(AmtLoop.runOnce(spark, silver.toString, gold, "1999"))
    assert(!AmtLoop.runOnce(spark, silver.toString, gold, "1999"))
  }

  test("file-arrival sensor: one dropped silver file provokes exactly one refresh") {
    import graft.runner.AmtLoop
    val silver = silverWith(
      "gradingPeriods" -> gradingPeriodsJson,
      "gradingPeriodDescriptors" -> gradingPeriodDescriptorsJson)
    val gold = Files.createTempDirectory("gold-sensor").toString
    assert(AmtLoop.runOnce(spark, silver.toString, gold, "2022")) // baseline
    @volatile var result: Seq[Int] = null
    val t = new Thread(() => {
      result = AmtLoop.sensor(spark, silver.toString, gold, Seq("2022"),
        maxEvents = 1, idleTimeoutMillis = 60000L, settleMillis = 200L)
    })
    t.start()
    Thread.sleep(1000) // watch registration is a tiny directory walk
    // the delta batch lands — the sensor must wake, refresh ONCE, and end
    Files.writeString(
      silver.resolve("2022").resolve("gradingPeriods")
        .resolve("gradingPeriods_2.json"), "[]")
    t.join(120000)
    assert(!t.isAlive, "sensor did not wake on the file drop")
    assert(result == Seq(1), s"expected exactly one refresh, got $result")
    // the refresh consumed the drift: a poll-style runOnce now no-ops
    assert(!AmtLoop.runOnce(spark, silver.toString, gold, "2022"))
  }

  test("qualityReport: view key audited not-null and unique; extra checks compose") {
    import graft.ops.Audit
    val silver = silverWith(
      "gradingPeriods" -> gradingPeriodsJson,
      "gradingPeriodDescriptors" -> gradingPeriodDescriptorsJson)
    val p = new AmtPipeline(spark, silver.toString, "2022")
    val report = p.qualityReport("gradingPeriodDim").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(report("not_null:GradingPeriodKey") == (0L, 2L))
    assert(report("unique:GradingPeriodKey") == (0L, 2L))
    val withExtra = p.qualityReport("gradingPeriodDim",
      extraChecks = Seq(Audit.Satisfies("has_school",
        col("SchoolKey").isNotNull))).collect()
    assert(withExtra.length == 3)
    intercept[IllegalArgumentException](p.qualityReport("nope"))
  }

  test("selective rebuild: a one-endpoint delta rewrites only the views it reaches") {
    import graft.runner.AmtLoop
    // dependency math first: a gradingPeriods drift must reach its direct
    // consumer and the view-on-view dependents, never e.g. schoolDim
    val affected = AmtLoop.affectedViews(Set("gradingPeriods")).toSet
    assert(affected.contains("gradingPeriodDim"))
    assert(affected.contains("mostRecentGradingPeriod"), "view-on-view dependent")
    assert(!affected.contains("schoolDim"))
    // end-to-end: full build, then a gradingPeriods delta — affected gold
    // files get NEW mtimes, unaffected ones must not be rewritten
    val silver = silverWith(
      "gradingPeriods" -> gradingPeriodsJson,
      "gradingPeriodDescriptors" -> gradingPeriodDescriptorsJson)
    val gold = Files.createTempDirectory("gold-sel").toString
    assert(AmtLoop.runOnce(spark, silver.toString, gold, "2022"))
    import scala.jdk.CollectionConverters._
    def mtime(view: String): Long =
      Files.walk(java.nio.file.Paths.get(s"$gold/2022/$view.parquet"))
        .iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.getLastModifiedTime(_).toMillis).max
    val schoolBefore = mtime("schoolDim")
    val gpBefore = mtime("gradingPeriodDim")
    Thread.sleep(1100) // mtime granularity
    Files.writeString(
      silver.resolve("2022").resolve("gradingPeriods")
        .resolve("gradingPeriods_2.json"), "[]")
    assert(AmtLoop.runOnce(spark, silver.toString, gold, "2022"))
    assert(mtime("gradingPeriodDim") > gpBefore, "affected view rewritten")
    assert(mtime("schoolDim") == schoolBefore, "unaffected view untouched")
    // a drifted endpoint that NO view consumes records state but does not
    // rebuild (returns false) — and stays a no-op afterwards
    val stray = silver.resolve("2022").resolve("strayUnconsumedEndpoint")
    Files.createDirectories(stray)
    Files.writeString(stray.resolve("stray_1.json"), "[]")
    assert(!AmtLoop.runOnce(spark, silver.toString, gold, "2022"))
    assert(!AmtLoop.runOnce(spark, silver.toString, gold, "2022"))
    // endpoint REMOVAL is a change too
    val gpDir = silver.resolve("2022").resolve("gradingPeriods")
    Files.walk(gpDir).iterator().asScala.toSeq.reverse
      .foreach(Files.deleteIfExists(_))
    assert(AmtLoop.runOnce(spark, silver.toString, gold, "2022"))
  }

  test("refresh loop lock: a held lock skips the year; a stale lock is taken over") {
    import graft.runner.AmtLoop
    val silver = silverWith(
      "gradingPeriods" -> gradingPeriodsJson,
      "gradingPeriodDescriptors" -> gradingPeriodDescriptorsJson)
    val gold = Files.createTempDirectory("gold-lock").toString
    val lock = java.nio.file.Paths.get(gold, "_state", "2022.lock")
    Files.createDirectories(lock.getParent)
    // a FRESH lock (another runner mid-build): this runner must skip
    Files.createFile(lock)
    assert(!AmtLoop.runOnce(spark, silver.toString, gold, "2022"))
    assert(Files.exists(lock), "held lock must not be stolen")
    // a STALE lock (crashed holder): taken over, build proceeds, lock freed
    Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 7 * 3600 * 1000L))
    assert(AmtLoop.runOnce(spark, silver.toString, gold, "2022"))
    assert(!Files.exists(lock), "lock must be released after the build")
    assert(spark.read.parquet(s"$gold/2022/gradingPeriodDim.parquet").count() == 2)
  }

  test("diagnose: one-call key-skew report for a view's hot key") {
    val silver = silverWith(
      "gradingPeriods" -> gradingPeriodsJson,
      "gradingPeriodDescriptors" -> gradingPeriodDescriptorsJson)
    val p = new AmtPipeline(spark, silver.toString, "2022")
    // default key = leading output column (GradingPeriodKey: unique here)
    val byKey = p.diagnose("gradingPeriodDim").collect()
    assert(byKey.length == 2 && byKey.forall(_.getAs[Long]("n") == 1L))
    // explicit key: both periods share one school → share 1.0
    val bySchool = p.diagnose("gradingPeriodDim", Some("SchoolKey")).collect()
    assert(bySchool.length == 1)
    assert(bySchool.head.getAs[String]("key") == "255901001")
    assert(bySchool.head.getAs[Double]("share") == 1.0)
    intercept[IllegalArgumentException](p.diagnose("nope"))
  }

  test("batchScopes: re-keying upserts vacate their old scope (incremental ≡ full)") {
    // ADVICE r10 (IncrementalGold.scala:102): an upsert that RE-KEYS a
    // resource (same id, new studentUniqueId — Ed-Fi key changes do this)
    // abandons its old scope; the new-scope-only affectedScopes leaves
    // the vacated scope's stale gold rows alive, batchScopes rebuilds
    // them away. q345 is the oracle-hash twin of this law.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import graft.ops.IncrementalGold
    import graft.views.ViewContext
    import testImplicits._

    def grades(rows: Seq[(String, String)]): DataFrame =
      rows.toDF("id", "student").select(
        col("id"),
        struct(
          lit("uri://ed-fi.org/GradingPeriodDescriptor#First")
            .as("gradingPeriodDescriptor"),
          lit(1L).as("periodSequence"),
          lit(10L).as("schoolId"),
          lit(2022L).as("schoolYear")).as("gradingPeriodReference"),
        struct(
          col("student").as("studentUniqueId"),
          lit(10L).as("schoolId"),
          lit("2021-08-23").as("beginDate"),
          lit("ALG-1").as("localCourseCode"),
          lit(2022L).as("schoolYear"),
          lit("ALG1-01").as("sectionIdentifier"),
          lit("Fall").as("sessionName")).as("studentSectionAssociationReference"),
        lit("B").as("letterGradeEarned"),
        lit(88.0).as("numericGradeEarned"),
        lit("uri://ed-fi.org/GradeTypeDescriptor#Grading Period")
          .as("gradeTypeDescriptor"))
    val gps = Seq(1).toDF("x").select(
      lit("uri://ed-fi.org/GradingPeriodDescriptor#First")
        .as("gradingPeriodDescriptor"),
      lit(1L).as("periodSequence"),
      struct(lit(10L).as("schoolId")).as("schoolReference"),
      struct(lit(2022L).as("schoolYear")).as("schoolYearTypeReference"),
      lit("2021-08-23").as("beginDate"))
    val gpd = Seq((7L, "First")).toDF("gradingPeriodDescriptorId", "codeValue")

    val snapshot = grades(Seq(("g1", "A"), ("g2", "C")))
    val batch = IncrementalGold.CdcBatch(
      grades(Seq(("g1", "B"))), // re-key g1: student A → B
      snapshot.limit(0).select(col("id")))
    val newGrades = IncrementalGold.applyCdc(snapshot, batch)
    def ctxOf(g: DataFrame) = ViewContext(spark,
      endpoint = {
        case "grades" => g
        case "gradingPeriods" => gps
        case "gradingPeriodDescriptors" => gpd
        case other => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          graft.core.EndpointCatalog.schema(other))
      },
      view = n => fail(s"unexpected view dep: $n"))
    val oldGold = graft.views.ews.StudentSectionGradeFact.build(ctxOf(snapshot))
    def students(df: DataFrame): Set[String] =
      df.select("StudentKey").collect().map(_.getString(0)).toSet
    val scopeOf = (df: DataFrame) =>
      df("studentSectionAssociationReference.studentUniqueId")
    def refresh(affected: DataFrame): DataFrame =
      IncrementalGold.refreshView(
        IncrementalGold.sectionGradeFactScope, oldGold,
        n => ctxOf(newGrades).endpoint(n), affected)

    assert(students(graft.views.ews.StudentSectionGradeFact
      .build(ctxOf(newGrades))) == Set("B", "C"))
    // the documented failure mode: new-scope-only misses the vacated A
    val stale = refresh(
      IncrementalGold.affectedScopes(Seq((batch.upserts, scopeOf)), spark))
    assert(students(stale) == Set("A", "B", "C"),
      "expected the stale vacated-scope row to survive under affectedScopes")
    // the contract API recovers the vacated scope from the pre-delta
    // snapshot: incremental ≡ full recompute
    val fixed = refresh(IncrementalGold.batchScopes(snapshot, batch, scopeOf))
    assert(students(fixed) == Set("B", "C"))
  }

  test("scope contracts: incremental ≡ full on the equity/attendance spine (r13 contracts)") {
    // VERDICT r12 item 3: the five round-13 Scope contracts
    // (disciplineActionDim, studentLeaDim, foodServiceProgramDim,
    // programCohortDim, studentHistoryDim — the deepest view-on-view
    // node). For each, one mixed CDC wave (a grade upsert, an enrollment
    // DELETE, a discipline-action RE-KEY, a food-service re-date, a
    // cohort delete) must make refreshView(scope, oldGold, post, affected)
    // row-identical to a full recompute over the post-CDC state, with the
    // affected set built from batchScopes (vacated scopes recovered).
    import scala.collection.mutable
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import graft.ops.IncrementalGold
    import graft.ops.IncrementalGold.CdcBatch
    import graft.views.ViewContext
    import testImplicits._

    val studs = Seq("s1", "s2", "s3", "s4", "s5", "s6").toDF("s")
    def ref(c: org.apache.spark.sql.Column) =
      struct(c.as("studentUniqueId")).as("studentReference")

    val students = studs.select(
      concat(lit("stu-"), col("s")).as("id"), col("s").as("studentUniqueId"),
      lit("1988-03-01").as("birthDate"), concat(lit("F"), col("s")).as("firstName"),
      lit(null).cast("string").as("middleName"), lit("Last").as("lastSurname"))
    val ssa = studs.select(
      concat(lit("ssa-"), col("s")).as("id"),
      struct(lit(100L).as("schoolId")).as("schoolReference"),
      ref(col("s")),
      struct(lit(2022L).as("schoolYear")).as("schoolYearTypeReference"),
      lit("2021-08-23").as("entryDate"),
      lit("uri://ed-fi.org/GradeLevelDescriptor#Ninth grade")
        .as("entryGradeLevelDescriptor"),
      lit(null).cast("string").as("exitWithdrawDate"))
    val edorg = studs.select(
      concat(lit("eo-"), col("s")).as("id"),
      struct(lit(9000L).as("educationOrganizationId"))
        .as("educationOrganizationReference"),
      ref(col("s")),
      lit(true).as("hispanicLatinoEthnicity"),
      lit(null).cast("string").as("limitedEnglishProficiencyDescriptor"),
      lit("uri://ed-fi.org/SexDescriptor#Female").as("sexDescriptor"),
      lit(null).cast("array<struct<indicatorName:string,indicator:string>>")
        .as("studentIndicators"))
    val schools = Seq((100L, "GB High")).toDF("schoolId", "nameOfInstitution")
      .select(col("schoolId"), col("nameOfInstitution"),
        lit("uri://ed-fi.org/SchoolTypeDescriptor#Regular").as("schoolTypeDescriptor"),
        struct(lit(9000L).as("localEducationAgencyId"))
          .as("localEducationAgencyReference"),
        array(struct(
          lit("uri://ed-fi.org/AddressTypeDescriptor#Physical").as("addressTypeDescriptor"),
          lit("uri://ed-fi.org/StateAbbreviationDescriptor#TX").as("stateAbbreviationDescriptor"),
          lit("1 Main").as("streetNumberName"), lit("GB").as("city"),
          lit("W").as("nameOfCounty"))).as("addresses"))
    val leas = Seq((9000L, "GB ISD")).toDF("localEducationAgencyId", "nameOfInstitution")
      .withColumn("educationServiceCenterReference",
        struct(lit(null).cast("long").as("educationServiceCenterId")))
    val cal = Seq("2021-09-13", "2021-09-14").toDF("date").select(
      struct(lit(100L).as("schoolId"), lit(2022L).as("schoolYear"))
        .as("calendarReference"),
      col("date"),
      array(struct(lit("uri://ed-fi.org/CalendarEventDescriptor#Instructional day")
        .as("calendarEventDescriptor"))).as("calendarEvents"))
    val schoolAtt = studs.filter(col("s").isin("s1", "s2")).select(
      concat(lit("sa-"), col("s")).as("id"),
      struct(lit(100L).as("schoolId")).as("schoolReference"), ref(col("s")),
      lit("2021-09-13").as("eventDate"),
      lit("uri://ed-fi.org/AttendanceEventCategoryDescriptor#Unexcused Absence")
        .as("attendanceEventCategoryDescriptor"))
    val secRef = struct(
      lit("ALG-1").as("localCourseCode"), lit(100L).as("schoolId"),
      lit(2022L).as("schoolYear"), lit("A").as("sectionIdentifier"),
      lit("Fall").as("sessionName"),
      struct(lit("Section").as("rel"), lit("/ed-fi/sections/sec-1").as("href"))
        .as("link")).as("sectionReference")
    val sectionAtt = studs.filter(col("s") === "s1").select(
      concat(lit("se-"), col("s")).as("id"),
      struct(lit(100L).as("schoolId")).as("schoolReference"), secRef, ref(col("s")),
      lit("2021-09-13").as("eventDate"),
      lit("uri://ed-fi.org/AttendanceEventCategoryDescriptor#Unexcused Absence")
        .as("attendanceEventCategoryDescriptor"))
    val sectionAssoc = studs.select(
      concat(lit("ssec-"), col("s")).as("id"), secRef, ref(col("s")),
      lit("2021-08-23").as("beginDate"), lit(null).cast("string").as("endDate"),
      lit(true).as("homeroomIndicator"))
    val sections = Seq(("sec-1", "A")).toDF("id", "sectionIdentifier")
      .withColumn("courseOfferingReference", struct(
        lit("ALG-1").as("localCourseCode"), lit(100L).as("schoolId"),
        lit(2022L).as("schoolYear"), lit("Fall").as("sessionName"),
        struct(lit("CourseOffering").as("rel"),
          lit("/ed-fi/courseOfferings/co-1").as("href")).as("link")))
    val courseOfferings = Seq("co-1").toDF("id")
      .withColumn("courseReference", struct(lit("ALG-1").as("courseCode"),
        struct(lit("Course").as("rel"), lit("/ed-fi/courses/crs-1").as("href"))
          .as("link")))
    val courses = Seq(("crs-1", "Algebra I")).toDF("id", "courseTitle")
      .withColumn("academicSubjectDescriptor",
        lit("uri://ed-fi.org/AcademicSubjectDescriptor#Mathematics"))
    val subjects = Seq(("Mathematics", "Mathematics"))
      .toDF("codeValue", "description")
    val grades = studs.select(
      concat(lit("g-"), col("s")).as("id"),
      struct(
        lit("uri://ed-fi.org/GradingPeriodDescriptor#First").as("gradingPeriodDescriptor"),
        lit(1L).as("periodSequence"), lit(100L).as("schoolId"),
        lit(2022L).as("schoolYear")).as("gradingPeriodReference"),
      struct(
        col("s").as("studentUniqueId"), lit(100L).as("schoolId"),
        lit("2021-08-23").as("beginDate"), lit("ALG-1").as("localCourseCode"),
        lit(2022L).as("schoolYear"), lit("A").as("sectionIdentifier"),
        lit("Fall").as("sessionName")).as("studentSectionAssociationReference"),
      lit("B").as("letterGradeEarned"), lit(88.0).as("numericGradeEarned"),
      lit("uri://ed-fi.org/GradeTypeDescriptor#Grading Period")
        .as("gradeTypeDescriptor"))
    val da = studs.filter(col("s") === "s4").select(
      lit("DA-1").as("id"), lit("DA-1").as("disciplineActionIdentifier"),
      lit("2021-11-04").as("disciplineDate"), ref(col("s")),
      array(struct(lit("uri://ed-fi.org/DisciplineDescriptor#In School Suspension")
        .as("disciplineDescriptor"))).as("disciplines"),
      lit(null).cast(
        "array<struct<staffReference:struct<staffUniqueId:string>>>").as("staffs"))
    val daDesc = Seq(("In School Suspension", "In School Suspension"))
      .toDF("codeValue", "description")
    val fs = studs.filter(col("s").isin("s1", "s2")).select(
      concat(lit("fs-"), col("s")).as("id"), ref(col("s")),
      struct(lit("Lunch").as("programName"),
        lit("uri://ed-fi.org/ProgramTypeDescriptor#Food Service")
          .as("programTypeDescriptor"),
        lit(9000L).as("educationOrganizationId")).as("programReference"),
      struct(lit(100L).as("educationOrganizationId"))
        .as("educationOrganizationReference"),
      lit("2021-09-01").as("beginDate"),
      array(struct(
        lit("uri://ed-fi.org/SchoolFoodServiceProgramServiceDescriptor#Free Lunch")
          .as("schoolFoodServiceProgramServiceDescriptor")))
        .as("schoolFoodServiceProgramServices"))
    val progTypes = Seq((6L, "Food Service"), (77L, "Remedial Education"))
      .toDF("programTypeDescriptorId", "codeValue")
    val fsDesc = Seq((12L, "Free Lunch"))
      .toDF("schoolFoodServiceProgramServiceDescriptorId", "codeValue")
    val cohortAssoc = studs.filter(col("s").isin("s1", "s6")).select(
      concat(lit("ca-"), col("s")).as("id"),
      struct(lit("ACAD").as("cohortIdentifier"),
        lit(9000L).as("educationOrganizationId"),
        struct(lit("Cohort").as("rel"), lit("/ed-fi/cohorts/co-h1").as("href"))
          .as("link")).as("cohortReference"),
      ref(col("s")), lit("2021-09-01").as("beginDate"))
    val cohorts = Seq("co-h1").toDF("id").select(col("id"),
      lit("ACAD").as("cohortIdentifier"),
      lit("Academic support").as("cohortDescription"),
      lit("uri://ed-fi.org/CohortTypeDescriptor#Academic Intervention")
        .as("cohortTypeDescriptor"),
      struct(lit(9000L).as("educationOrganizationId"))
        .as("educationOrganizationReference"),
      array(struct(struct(lit(9000L).as("educationOrganizationId"),
        lit("Tutoring").as("programName"),
        lit("uri://ed-fi.org/ProgramTypeDescriptor#Remedial Education")
          .as("programTypeDescriptor")).as("programReference"))).as("programs"))
    val cohortTypes = Seq(("Academic Intervention", "Academic Intervention Cohort"))
      .toDF("codeValue", "description")
    val gradeLevels = Seq(("Ninth grade", "9th Grade"))
      .toDF("codeValue", "description")

    val base: Map[String, DataFrame] = Map(
      "students" -> students, "studentSchoolAssociations" -> ssa,
      "studentEducationOrganizationAssociations" -> edorg,
      "schools" -> schools, "localEducationAgencies" -> leas,
      "calendarDates" -> cal,
      "studentSchoolAttendanceEvents" -> schoolAtt,
      "studentSectionAttendanceEvents" -> sectionAtt,
      "studentSectionAssociations" -> sectionAssoc,
      "sections" -> sections, "courseOfferings" -> courseOfferings,
      "courses" -> courses, "academicSubjectDescriptors" -> subjects,
      "grades" -> grades, "disciplineActions" -> da,
      "disciplineDescriptors" -> daDesc,
      "studentSchoolFoodServiceProgramAssociations" -> fs,
      "programTypeDescriptors" -> progTypes,
      "schoolFoodServiceProgramServiceDescriptors" -> fsDesc,
      "studentCohortAssociations" -> cohortAssoc, "cohorts" -> cohorts,
      "cohortTypeDescriptors" -> cohortTypes,
      "gradeLevelDescriptors" -> gradeLevels)

    val noIds = Seq.empty[String].toDF("id")
    // one CDC wave across five endpoints: upsert, delete, re-key,
    // re-date, delete — every contract sees at least one change
    val batches: Map[String, CdcBatch] = Map(
      "grades" -> CdcBatch(
        grades.filter(col("id") === "g-s2")
          .withColumn("numericGradeEarned", lit(95.0)), noIds),
      "studentSchoolAssociations" -> CdcBatch(
        ssa.limit(0), Seq("ssa-s3").toDF("id")),
      "disciplineActions" -> CdcBatch(
        da.withColumn("studentReference",
          struct(lit("s5").as("studentUniqueId"))), noIds),
      "studentSchoolFoodServiceProgramAssociations" -> CdcBatch(
        fs.filter(col("id") === "fs-s2")
          .withColumn("beginDate", lit("2021-10-01")), noIds),
      "studentCohortAssociations" -> CdcBatch(
        cohortAssoc.limit(0), Seq("ca-s6").toDF("id")))

    def pre(n: String): DataFrame = base.getOrElse(n,
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        graft.core.EndpointCatalog.schema(n)))
    def post(n: String): DataFrame = batches.get(n)
      .map(b => IncrementalGold.applyCdc(pre(n), b)).getOrElse(pre(n))
    def ctxOver(resolve: String => DataFrame): ViewContext = {
      val memo = mutable.Map.empty[String, DataFrame]
      lazy val c: ViewContext = ViewContext(spark, endpoint = resolve,
        view = n => memo.getOrElseUpdate(n,
          graft.runner.AmtRegistry.byName(n).build(c)))
      c
    }

    Seq(
      IncrementalGold.disciplineActionDimScope,
      IncrementalGold.studentLeaDimScope,
      IncrementalGold.foodServiceProgramDimScope,
      IncrementalGold.programCohortDimScope,
      IncrementalGold.studentHistoryDimScope
    ).foreach { scope =>
      val oldGold = scope.view.build(ctxOver(pre))
      val affected = scope.scopedEndpoints.toSeq.flatMap { case (n, scopeOf) =>
        batches.get(n).map(b => IncrementalGold.batchScopes(pre(n), b, scopeOf))
      }.reduce(_ unionByName _).distinct()
      val got = IncrementalGold.refreshView(scope, oldGold, post, affected)
        .collect().map(_.toSeq).toSet
      val want = scope.view.build(ctxOver(post)).collect().map(_.toSeq).toSet
      assert(got == want,
        s"${scope.view.name}: incremental refresh diverged from full recompute")
      val before = oldGold.collect().map(_.toSeq).toSet
      assert(got != before,
        s"${scope.view.name}: fixture batch did not exercise the view")
    }
  }
}
