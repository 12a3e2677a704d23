package lakebench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.time.{DayOfWeek, LocalDate}

import scala.collection.mutable

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode

import Main.Mapper

/** Seeded Ed-Fi silver tree for one school year that fills every endpoint
  * the 41 AMT views read, with referential integrity and Ed-Fi fan-out:
  * SEA → ESC → LEAs → schools → course offerings → sections → staff and
  * student section associations; students → enrollments → attendance,
  * grades, assessments, discipline, programs, cohorts, contacts; the
  * descriptor endpoints; the EPP (candidates, surveys, evaluations, aid);
  * and the RLS staff assignments.
  *
  * Sized by `students`. High-volume endpoints are split across
  * [[SilverGen.SplitFiles]] files, so a delta delivery can replace one
  * file. Everything derives from `seed` through one sequential RNG, so the
  * same (seed, students) writes byte-identical files.
  *
  * Dates sit in school year 2022 (Aug 2021 – May 2022), all in the past,
  * except the open staff-section assignments, which end in 2099: views that
  * compare against today's date then give the same rows on any day. */
final class SilverGen(seed: Long, val students: Int) {
  import SilverGen._

  val schoolYear = 2022
  private val rng = new scala.util.Random(seed)

  /** endpoint → files → rows. Mutated in place by [[deliver]]. */
  val files: mutable.LinkedHashMap[String, Vector[Vector[ObjectNode]]] =
    mutable.LinkedHashMap.empty

  private def desc(kind: String, code: String): String =
    s"uri://ed-fi.org/${kind}Descriptor#$code"
  private def link(kind: String, id: String): ObjectNode =
    obj("rel" -> kind.capitalize.stripSuffix("s"), "href" -> s"/ed-fi/$kind/$id")
  private def pick(xs: Seq[String]): String = xs(rng.nextInt(xs.size))
  private def chance(p: Double): Boolean = rng.nextDouble() < p
  private def maybe(p: Double)(o: => ObjectNode): JsonNode = if (chance(p)) arr(o) else arr()
  private def put(endpoint: String, rows: Seq[ObjectNode]): Unit = {
    val v = rows.toVector
    val n = if (Split(endpoint)) SplitFiles else 1
    val size = math.max(1, (v.size + n - 1) / n)
    files(endpoint) = (0 until n).map(i => v.slice(i * size, (i + 1) * size)).toVector
  }

  // ------------------------------------------------------------ descriptors
  Descriptors.foreach { case (endpoint, codes) =>
    val kind = endpoint.stripSuffix("s").capitalize
    val idField = endpoint.stripSuffix("s") + "Id"
    put(endpoint, codes.zipWithIndex.map { case (code, i) =>
      obj(idField -> (DescriptorIdBase(endpoint) + i), "codeValue" -> code,
        "description" -> s"$code ($kind)", "namespace" -> s"uri://ed-fi.org/$kind",
        "shortDescription" -> code)
    })
  }
  put("schoolYearTypes", Seq(2021, 2022, 2023).map(y => obj(
    "schoolYear" -> y, "currentSchoolYear" -> (y == schoolYear),
    "schoolYearDescription" -> s"${y - 1}-$y")))

  // ------------------------------------------------------- education orgs
  private val seaId = 25L
  private val escId = 25950L
  private val leaIds = Seq(255901L, 255902L)
  put("stateEducationAgencies", Seq(obj(
    "id" -> "sea25", "stateEducationAgencyId" -> seaId,
    "nameOfInstitution" -> "State Department of Education")))
  put("educationServiceCenters", Seq(obj(
    "id" -> "esc25950", "educationServiceCenterId" -> escId,
    "nameOfInstitution" -> "Region 25 Education Service Center",
    "stateEducationAgencyReference" -> obj("stateEducationAgencyId" -> seaId))))
  put("localEducationAgencies", leaIds.zipWithIndex.map { case (lea, i) => obj(
    "id" -> s"lea$lea", "localEducationAgencyId" -> lea,
    "nameOfInstitution" -> s"District ${i + 1} ISD",
    "localEducationAgencyCategoryDescriptor" ->
      desc("LocalEducationAgencyCategory", "Independent"),
    "charterStatusDescriptor" -> desc("CharterStatus", "Not a Charter School"),
    "educationServiceCenterReference" -> obj(
      "educationServiceCenterId" -> escId, "link" -> link("educationServiceCenters", "esc25950")),
    "stateEducationAgencyReference" -> obj(
      "stateEducationAgencyId" -> seaId, "link" -> link("stateEducationAgencies", "sea25")))
  })

  val schoolCount: Int = math.max(4, students / 150)
  val schoolIds: Vector[Long] = (0 until schoolCount).map(i => 255901001L + i).toVector
  private def leaOf(school: Long): Long = leaIds(((school - 255901001L) % leaIds.size).toInt)
  private val eppId = 255901900L
  put("schools", (schoolIds.map { s =>
    (s, s"${pick(Seq("Lincoln", "Grand Bend", "Riverside", "Oak Ridge", "Cedar", "Hillcrest"))} High School ${s % 1000}", "School")
  } :+ ((eppId, "Region 25 Teacher Preparation", "Educator Preparation Provider"))).map {
    case (s, name, category) => obj(
      "schoolId" -> s, "nameOfInstitution" -> name,
      "schoolTypeDescriptor" -> desc("SchoolType", "Regular"),
      "localEducationAgencyReference" -> obj("localEducationAgencyId" -> leaOf(s)),
      "addresses" -> arr(
        obj("addressTypeDescriptor" -> desc("AddressType", "Physical"),
          "stateAbbreviationDescriptor" -> desc("StateAbbreviation", "TX"),
          "streetNumberName" -> s"${100 + s % 900} Main Street", "city" -> "Grand Bend",
          "nameOfCounty" -> "Williston", "postalCode" -> "78834"),
        obj("addressTypeDescriptor" -> desc("AddressType", "Mailing"),
          "stateAbbreviationDescriptor" -> desc("StateAbbreviation", "TX"),
          "streetNumberName" -> s"PO Box ${s % 1000}", "city" -> "Grand Bend",
          "nameOfCounty" -> "Williston", "postalCode" -> "78834")),
      "gradeLevels" -> arr(GradeLevels.map(g =>
        obj("gradeLevelDescriptor" -> desc("GradeLevel", g))): _*),
      "educationOrganizationCategories" -> arr(obj(
        "educationOrganizationCategoryDescriptor" -> desc("EducationOrganizationCategory", category))))
  })
  put("feederSchoolAssociations", schoolIds.sliding(2).collect {
    case Seq(a, b) => obj("feederSchoolReference" -> obj("schoolId" -> a),
      "schoolReference" -> obj("schoolId" -> b), "beginDate" -> "2015-08-01")
  }.toSeq)

  // ------------------------------------------------------------- calendar
  private val firstDay = LocalDate.of(2021, 8, 16)
  private val lastDay = LocalDate.of(2022, 5, 27)
  val schoolDays: Vector[LocalDate] = Iterator.iterate(firstDay)(_.plusDays(1))
    .takeWhile(!_.isAfter(lastDay))
    .filter(d => d.getDayOfWeek != DayOfWeek.SATURDAY && d.getDayOfWeek != DayOfWeek.SUNDAY)
    .toVector
  private def holiday(i: Int): Boolean = i % 23 == 11
  private val instructional: Vector[LocalDate] =
    schoolDays.zipWithIndex.collect { case (d, i) if !holiday(i) => d }
  put("calendarDates", for (s <- schoolIds; (d, i) <- schoolDays.zipWithIndex) yield obj(
    "date" -> d.toString,
    "calendarReference" -> obj("schoolId" -> s, "schoolYear" -> schoolYear,
      "calendarCode" -> s"$s-IN"),
    "calendarEvents" -> arr(obj("calendarEventDescriptor" ->
      desc("CalendarEvent", if (holiday(i)) "Holiday" else "Instructional day")))))

  private val quarters = Seq(
    (1, "First Quarter", "2021-08-16", "2021-10-15", "Fall Semester"),
    (2, "Second Quarter", "2021-10-18", "2021-12-17", "Fall Semester"),
    (3, "Third Quarter", "2022-01-04", "2022-03-11", "Spring Semester"),
    (4, "Fourth Quarter", "2022-03-14", "2022-05-27", "Spring Semester"))
  put("gradingPeriods", for (s <- schoolIds; (seq, code, b, e, _) <- quarters) yield obj(
    "id" -> s"gp$s$seq", "schoolReference" -> obj("schoolId" -> s),
    "schoolYearTypeReference" -> obj("schoolYear" -> schoolYear),
    "gradingPeriodDescriptor" -> desc("GradingPeriod", code),
    "beginDate" -> b, "endDate" -> e, "totalInstructionalDays" -> 44,
    "periodSequence" -> seq))
  private val terms = Seq("Fall Semester" -> ("F", "2021-08-16", "2021-12-17"),
    "Spring Semester" -> ("S", "2022-01-04", "2022-05-27"))
  private def sessionName(term: String) = s"2021-2022 $term"
  put("sessions", for (s <- schoolIds; (term, (t, b, e)) <- terms) yield obj(
    "id" -> s"ses$s$t", "sessionName" -> sessionName(term), "beginDate" -> b, "endDate" -> e,
    "termDescriptor" -> desc("Term", term),
    "schoolReference" -> obj("schoolId" -> s),
    "schoolYearTypeReference" -> obj("schoolYear" -> schoolYear),
    "gradingPeriods" -> arr(quarters.filter(_._5 == term).map { case (seq, code, _, _, _) =>
      obj("gradingPeriodReference" -> obj("schoolId" -> s, "schoolYear" -> schoolYear,
        "gradingPeriodDescriptor" -> desc("GradingPeriod", code), "periodSequence" -> seq,
        "link" -> link("gradingPeriods", s"gp$s$seq")))
    }: _*)))

  // -------------------------------------------------- courses and sections
  private val courses = Seq(
    ("ALG-1", "Algebra I", "Mathematics"), ("GEOM-1", "Geometry", "Mathematics"),
    ("ENG-1", "English I", "English Language Arts"), ("ENG-2", "English II", "English Language Arts"),
    ("BIO-1", "Biology", "Science"), ("CHEM-1", "Chemistry", "Science"),
    ("HIST-1", "World History", "Social Studies"), ("GOV-1", "Government", "Social Studies"))
  put("courses", courses.map { case (code, title, subject) => obj(
    "id" -> s"crs$code", "courseCode" -> code, "courseTitle" -> title,
    "academicSubjectDescriptor" -> desc("AcademicSubject", subject),
    "educationOrganizationReference" -> obj("educationOrganizationId" -> leaIds.head))
  })
  final case class Section(id: String, school: Long, code: String, term: String,
      ident: String, teacher: Int)
  /** One section per (school, course, term); teacher t of the school teaches course t. */
  val sections: Vector[Section] = for {
    s <- schoolIds; ((code, _, _), c) <- courses.zipWithIndex.toVector; (term, (t, _, _)) <- terms
  } yield Section(s"sec$s$code$t", s, code, term, s"$s-$code-$t-01", c)
  put("courseOfferings", sections.map(x => obj(
    "id" -> s"co${x.id}",
    "courseReference" -> obj("courseCode" -> x.code, "link" -> link("courses", s"crs${x.code}")),
    "sessionReference" -> obj("sessionName" -> sessionName(x.term),
      "link" -> link("sessions", s"ses${x.school}${terms.toMap.apply(x.term)._1}")),
    "schoolReference" -> obj("schoolId" -> x.school, "link" -> link("schools", s"sch${x.school}")))))
  put("sections", sections.map(x => obj(
    "id" -> x.id,
    "courseOfferingReference" -> obj("localCourseCode" -> x.code, "schoolId" -> x.school,
      "schoolYear" -> schoolYear, "sessionName" -> sessionName(x.term),
      "link" -> link("courseOfferings", s"co${x.id}")),
    "sectionIdentifier" -> x.ident, "sectionName" -> s"${x.code} ${x.term}",
    "educationalEnvironmentDescriptor" -> desc("EducationalEnvironment", "Classroom"),
    "classPeriods" -> arr(obj("classPeriodReference" ->
      obj("classPeriodName" -> s"Period ${x.teacher + 1}"))))))
  private def sectionRef(x: Section): ObjectNode = obj(
    "localCourseCode" -> x.code, "schoolId" -> x.school, "schoolYear" -> schoolYear,
    "sectionIdentifier" -> x.ident, "sessionName" -> sessionName(x.term),
    "link" -> link("sections", x.id))

  // ---------------------------------------------------------------- staff
  final case class Staff(id: String, uid: String, school: Long, role: String, slot: Int)
  val staff: Vector[Staff] =
    schoolIds.flatMap(s => courses.indices.map(t => Staff(s"stf$s$t", s"T$s$t", s, "Teacher", t)) :+
      Staff(s"stf${s}p", s"P$s", s, "Principal", -1)) ++
      leaIds.map(l => Staff(s"stf${l}s", s"S$l", l, "Superintendent", -1))
  put("staffs", staff.map { x =>
    val first = pick(FirstNames); val last = pick(LastNames)
    obj("id" -> x.id, "staffUniqueId" -> x.uid, "personalTitlePrefix" -> pick(Seq("Mr", "Ms", "Dr")),
      "firstName" -> first, "middleName" -> pick(FirstNames), "lastSurname" -> last,
      "birthDate" -> f"19${60 + rng.nextInt(35)}%02d-0${1 + rng.nextInt(9)}-1${rng.nextInt(9)}",
      "sexDescriptor" -> desc("Sex", pick(Seq("Female", "Male"))),
      "hispanicLatinoEthnicity" -> chance(0.3),
      "highestCompletedLevelOfEducationDescriptor" ->
        desc("LevelOfEducation", pick(Seq("Bachelor's", "Master's", "Doctorate"))),
      "yearsOfPriorProfessionalExperience" -> rng.nextInt(30).toDouble,
      "yearsOfPriorTeachingExperience" -> rng.nextInt(25).toDouble,
      "highlyQualifiedTeacher" -> chance(0.8), "loginId" -> s"${x.uid.toLowerCase}@grandbend.edu",
      "races" -> arr((if (chance(0.1)) Vector("White", "Asian") else Vector(pick(Races)))
        .map(r => obj("raceDescriptor" -> desc("Race", r))): _*),
      "electronicMails" -> arr(obj("electronicMailAddress" -> s"${last.toLowerCase}.${x.uid}@grandbend.edu",
        "electronicMailTypeDescriptor" -> desc("ElectronicMailType", "Work"))))
  })
  private def staffRef(x: Staff): ObjectNode =
    obj("staffUniqueId" -> x.uid, "link" -> link("staffs", x.id))
  private val teacherOf: Map[(Long, Int), Staff] =
    staff.filter(_.role == "Teacher").map(x => (x.school, x.slot) -> x).toMap
  put("staffSectionAssociations", sections.map { x =>
    val t = teacherOf((x.school, x.teacher))
    obj("id" -> s"ssec${x.id}", "staffReference" -> staffRef(t), "sectionReference" -> sectionRef(x),
      "beginDate" -> terms.toMap.apply(x.term)._2,
      // open spring assignments: dated far out so "active today" holds on any day
      "endDate" -> (if (x.term == "Fall Semester") "2021-12-17" else "2099-06-30"),
      "classroomPositionDescriptor" -> desc("ClassroomPosition", "Teacher of Record"))
  })
  put("staffEducationOrganizationAssignmentAssociations", staff.map(x => obj(
    "staffReference" -> staffRef(x),
    "educationOrganizationReference" -> obj("educationOrganizationId" -> x.school,
      "link" -> link("educationOrganizations", s"eo${x.school}")),
    "staffClassificationDescriptor" -> desc("StaffClassification", x.role),
    "beginDate" -> "2015-08-01")))

  // ------------------------------------------------------------- students
  final case class Student(id: String, uid: String, school: Long, grade: String,
      prior: Option[Long], withdrawn: Boolean, sections: Vector[Section])
  val studentsV: Vector[Student] = (0 until students).toVector.map { i =>
    val s = schoolIds(i % schoolCount)
    val mine = sections.filter(_.school == s)
    // three fall and three spring courses
    val fall = rng.shuffle(mine.filter(_.term == "Fall Semester")).take(3).sortBy(_.id)
    val spring = rng.shuffle(mine.filter(_.term == "Spring Semester")).take(3).sortBy(_.id)
    val prior = if (chance(0.05)) Some(schoolIds((i + 1) % schoolCount)) else None
    Student(f"stu$i%06d", s"${604800 + i}", s, pick(GradeLevels), prior, chance(0.03), fall ++ spring)
  }
  /** Candidates double as former students: candidate k shares a person with student k. */
  val candidateCount: Int = math.max(12, students / 40)
  put("students", studentsV.zipWithIndex.map { case (x, i) =>
    val base = obj("id" -> x.id, "studentUniqueId" -> x.uid, "firstName" -> pick(FirstNames),
      "lastSurname" -> pick(LastNames), "middleName" -> pick(FirstNames),
      "birthDate" -> f"200${5 + rng.nextInt(3)}-${1 + rng.nextInt(12)}%02d-${1 + rng.nextInt(28)}%02d")
    if (i < candidateCount / 2)
      set(base, "personReference", obj("personId" -> s"PER$i", "link" -> link("people", s"ppl$i")))
    else base
  })
  private val transferDay = "2021-11-22"
  private val withdrawDay = "2022-03-04"
  put("studentSchoolAssociations", studentsV.flatMap { x =>
    def ssa(id: String, school: Long, entry: String, exit: Option[String]) = {
      val o = obj("id" -> id, "schoolReference" -> obj("schoolId" -> school),
        "schoolYearTypeReference" -> obj("schoolYear" -> schoolYear),
        "calendarReference" -> obj("calendarCode" -> s"$school-IN"),
        "studentReference" -> obj("studentUniqueId" -> x.uid),
        "entryDate" -> entry, "entryGradeLevelDescriptor" -> desc("GradeLevel", x.grade))
      exit.fold(o)(e => set(o, "exitWithdrawDate", e))
    }
    x.prior.map(p => ssa(s"ssa${x.id}p", p, "2021-08-16", Some("2021-11-19"))).toVector :+
      ssa(s"ssa${x.id}", x.school, if (x.prior.isDefined) transferDay else "2021-08-16",
        if (x.withdrawn) Some(withdrawDay) else None)
  })
  put("studentEducationOrganizationAssociations", studentsV.flatMap { x =>
    Seq(x.school, leaOf(x.school)).map { eo =>
      obj("id" -> s"seoa${x.id}$eo",
        "educationOrganizationReference" -> obj("educationOrganizationId" -> eo),
        "studentReference" -> obj("studentUniqueId" -> x.uid),
        "limitedEnglishProficiencyDescriptor" ->
          desc("LimitedEnglishProficiency", pick(Seq("Limited", "NotLimited", "NotLimited", "NotLimited"))),
        "hispanicLatinoEthnicity" -> chance(0.4),
        "sexDescriptor" -> desc("Sex", pick(Seq("Female", "Male"))),
        "races" -> arr(obj("raceDescriptor" -> desc("Race", pick(Races)))),
        "studentCharacteristics" -> maybe(0.5)(obj(
          "studentCharacteristicDescriptor" -> desc("StudentCharacteristic", pick(Characteristics)),
          "periods" -> arr(obj("beginDate" -> "2021-08-16")))),
        "cohortYears" -> arr(obj("cohortYearTypeDescriptor" -> desc("CohortYearType", "Ninth grade"),
          "schoolYearTypeReference" -> obj("schoolYear" -> 2021))),
        "languages" -> arr(obj("languageDescriptor" -> desc("Language", pick(Languages)),
          "uses" -> arr(obj("languageUseDescriptor" -> desc("LanguageUse", "Home language"))))),
        "disabilities" -> maybe(0.12)(obj(
          "disabilityDescriptor" -> desc("Disability", pick(Disabilities)),
          "designations" -> arr(obj("disabilityDesignationDescriptor" ->
            desc("DisabilityDesignation", pick(Seq("IDEA", "Section 504"))))))),
        "tribalAffiliations" -> maybe(0.03)(obj(
          "tribalAffiliationDescriptor" -> desc("TribalAffiliation", "Navajo Nation"))),
        "studentIndicators" -> arr(IndicatorNames.map(n => obj("indicatorName" -> n,
          "indicator" -> pick(Seq("Yes", "No", "Yes")), "indicatorGroup" -> "Digital Equity")): _*))
    }
  })
  private def studentSectionBegin(x: Section) = terms.toMap.apply(x.term)._2
  put("studentSectionAssociations", studentsV.flatMap { x =>
    x.sections.map { sec =>
      val o = obj("sectionReference" -> sectionRef(sec),
        "studentReference" -> obj("studentUniqueId" -> x.uid, "link" -> link("students", x.id)),
        "beginDate" -> studentSectionBegin(sec),
        // homeroom: the student's first section of each term
        "homeroomIndicator" -> (sec == x.sections.head || sec == x.sections(3)))
      if (sec.term == "Fall Semester") set(o, "endDate", "2021-12-17") else o
    }
  })

  // ----------------------------------------------------------- attendance
  private val schoolCategories = Seq("Excused Absence", "Unexcused Absence", "Tardy", "In Attendance")
  private val attendance: Vector[(Student, LocalDate, String)] = studentsV.flatMap { x =>
    instructional.flatMap { d =>
      val r = rng.nextDouble()
      val cat = if (r < 0.04) Some("Excused Absence") else if (r < 0.08) Some("Unexcused Absence")
        else if (r < 0.11) Some("Tardy") else if (r < 0.13) Some("In Attendance") else None
      cat.map(c => (x, d, c))
    }
  }
  put("studentSchoolAttendanceEvents", attendance.map { case (x, d, c) => obj(
    "id" -> s"ssae${x.id}$d", "schoolReference" -> obj("schoolId" -> x.school),
    "studentReference" -> obj("studentUniqueId" -> x.uid),
    "sessionReference" -> obj("schoolYear" -> schoolYear), "eventDate" -> d.toString,
    "attendanceEventCategoryDescriptor" -> desc("AttendanceEventCategory", c))
  })
  put("studentSectionAttendanceEvents", attendance.map { case (x, d, c) =>
    val home = if (d.isBefore(LocalDate.of(2022, 1, 1))) x.sections.head else x.sections(3)
    obj("schoolReference" -> obj("schoolId" -> x.school), "sectionReference" -> sectionRef(home),
      "studentReference" -> obj("studentUniqueId" -> x.uid), "eventDate" -> d.toString,
      "attendanceEventCategoryDescriptor" -> desc("AttendanceEventCategory", c),
      "educationalEnvironmentDescriptor" -> desc("EducationalEnvironment", "Classroom"))
  })

  // --------------------------------------------------------------- grades
  put("grades", studentsV.flatMap { x =>
    x.sections.flatMap { sec =>
      quarters.filter(_._5 == sec.term).map { case (seq, code, _, _, _) =>
        val score = 50 + rng.nextInt(50)
        obj("gradingPeriodReference" -> obj("gradingPeriodDescriptor" -> desc("GradingPeriod", code),
            "periodSequence" -> seq, "schoolId" -> x.school, "schoolYear" -> schoolYear),
          "studentSectionAssociationReference" -> obj("studentUniqueId" -> x.uid,
            "schoolId" -> x.school, "beginDate" -> studentSectionBegin(sec),
            "localCourseCode" -> sec.code, "schoolYear" -> schoolYear,
            "sectionIdentifier" -> sec.ident, "sessionName" -> sessionName(sec.term)),
          "gradeTypeDescriptor" -> desc("GradeType", "Grading Period"),
          "numericGradeEarned" -> score.toDouble, "letterGradeEarned" -> letter(score))
      }
    }
  })

  // ----------------------------------------------------------- assessments
  private val assessments = Seq(
    ("ELA-BM", "English Language Arts", "Benchmark test", "2021-10-05"),
    ("MATH-BM", "Mathematics", "Benchmark test", "2021-10-06"),
    ("ELA-STATE", "English Language Arts", "State summative assessment", "2022-04-12"),
    ("MATH-STATE", "Mathematics", "State summative assessment", "2022-04-13"))
  private val asmtNs = "uri://ed-fi.org/Assessment"
  private def scoreSpec = arr(obj(
    "assessmentReportingMethodDescriptor" -> desc("AssessmentReportingMethod", "Scale score"),
    "maximumScore" -> "100", "minimumScore" -> "0",
    "resultDatatypeTypeDescriptor" -> desc("ResultDatatypeType", "Integer")))
  put("assessments", assessments.map { case (id, subject, category, _) => obj(
    "assessmentIdentifier" -> id, "namespace" -> asmtNs,
    "assessmentCategoryDescriptor" -> desc("AssessmentCategory", category),
    "assessmentTitle" -> s"$subject $category", "assessmentVersion" -> 2022,
    "assessedGradeLevels" -> arr(obj("gradeLevelDescriptor" -> desc("GradeLevel", "Ninth grade")),
      obj("gradeLevelDescriptor" -> desc("GradeLevel", "Tenth grade"))),
    "scores" -> scoreSpec,
    "academicSubjects" -> arr(obj("academicSubjectDescriptor" -> desc("AcademicSubject", subject))))
  })
  private val objectives = Seq("A", "B", "A.1")
  put("objectiveAssessments", for ((id, _, _, _) <- assessments; code <- objectives) yield {
    val o = obj("assessmentReference" -> obj("assessmentIdentifier" -> id, "namespace" -> asmtNs),
      "identificationCode" -> s"$id-$code", "description" -> s"Objective $code of $id",
      "percentOfAssessment" -> (if (code == "A.1") 0.25 else 0.5), "scores" -> scoreSpec,
      "learningStandards" -> arr(obj("learningStandardReference" -> obj(
        "learningStandardId" -> s"LS-$id-$code", "link" -> link("learningStandards", s"ls$id$code")))))
    if (code == "A.1") set(o, "parentObjectiveAssessmentReference", obj(
      "assessmentIdentifier" -> id, "identificationCode" -> s"$id-A", "namespace" -> asmtNs))
    else o
  })
  private def scored(result: Int) = obj(
    "assessmentReportingMethodDescriptor" -> desc("AssessmentReportingMethod", "Scale score"),
    "result" -> result.toString,
    "resultDatatypeTypeDescriptor" -> desc("ResultDatatypeType", "Integer"))
  private def level(result: Int) = obj(
    "assessmentReportingMethodDescriptor" -> desc("AssessmentReportingMethod", "Scale score"),
    "performanceLevelDescriptor" -> desc("PerformanceLevel", perfLevel(result)),
    "performanceLevelMet" -> (result >= 60))
  put("studentAssessments", studentsV.flatMap { x =>
    assessments.filter(_ => chance(0.5)).map { case (id, _, _, day) =>
      val r = 30 + rng.nextInt(70)
      obj("id" -> s"sa${x.id}$id", "studentAssessmentIdentifier" -> s"${x.uid}-$id",
        "administrationDate" -> day,
        "assessmentReference" -> obj("assessmentIdentifier" -> id, "namespace" -> asmtNs),
        "studentReference" -> obj("studentUniqueId" -> x.uid),
        "whenAssessedGradeLevelDescriptor" -> desc("GradeLevel", x.grade),
        "scoreResults" -> arr(scored(r)), "performanceLevels" -> arr(level(r)),
        "studentObjectiveAssessments" -> arr(Seq("A", "B").map { c =>
          val rr = 30 + rng.nextInt(70)
          obj("objectiveAssessmentReference" -> obj("identificationCode" -> s"$id-$c"),
            "scoreResults" -> arr(scored(rr)), "performanceLevels" -> arr(level(rr)))
        }: _*))
    }
  })

  // ------------------------------------------------------------ discipline
  private val incidents: Vector[(Student, String, LocalDate, String)] =
    studentsV.filter(_ => chance(0.04)).zipWithIndex.map { case (x, k) =>
      (x, s"INC-${x.school}-$k", instructional(rng.nextInt(instructional.size)),
        pick(Seq("State Offense", "School Code of Conduct")))
    }
  put("disciplineIncidents", incidents.map { case (x, inc, d, _) => obj(
    "schoolReference" -> obj("schoolId" -> x.school), "incidentIdentifier" -> inc,
    "incidentDate" -> d.toString)
  })
  put("studentDisciplineIncidentBehaviorAssociations", incidents.map { case (x, inc, _, b) => obj(
    "disciplineIncidentReference" -> obj("incidentIdentifier" -> inc, "schoolId" -> x.school),
    "studentReference" -> obj("studentUniqueId" -> x.uid),
    "behaviorDescriptor" -> desc("Behavior", b))
  })
  put("disciplineActions", incidents.map { case (x, inc, d, _) => obj(
    "disciplineActionIdentifier" -> s"DA-$inc", "disciplineDate" -> d.toString,
    "studentReference" -> obj("studentUniqueId" -> x.uid),
    "disciplines" -> arr(obj("disciplineDescriptor" -> desc("Discipline", pick(DisciplineCodes)))),
    "staffs" -> arr(obj("staffReference" -> obj("staffUniqueId" -> s"P${x.school}",
      "link" -> link("staffs", s"stf${x.school}p")))))
  })

  // ---------------------------------------------------- programs, cohorts
  private val programs = Seq("Bilingual", "Gifted and Talented", "Special Education")
  put("programs", for (lea <- leaIds; (p, i) <- programs.zipWithIndex) yield obj(
    "id" -> s"prg$lea$i", "programName" -> s"$p Program", "programTypeDescriptor" -> desc("ProgramType", p),
    "educationOrganizationReference" -> obj("educationOrganizationId" -> lea)))
  put("studentProgramAssociations", studentsV.filter(_ => chance(0.25)).map { x =>
    val i = rng.nextInt(programs.size); val lea = leaOf(x.school)
    obj("studentReference" -> obj("studentUniqueId" -> x.uid), "beginDate" -> "2021-08-16",
      "programReference" -> obj("programName" -> s"${programs(i)} Program",
        "programTypeDescriptor" -> desc("ProgramType", programs(i)),
        "educationOrganizationId" -> lea, "link" -> link("programs", s"prg$lea$i")),
      "educationOrganizationReference" -> obj("educationOrganizationId" -> lea))
  })
  put("studentSchoolFoodServiceProgramAssociations", studentsV.filter(_ => chance(0.4)).map { x =>
    obj("studentReference" -> obj("studentUniqueId" -> x.uid),
      "programReference" -> obj("programName" -> "School Food Service Program",
        "programTypeDescriptor" -> desc("ProgramType", "School Food Service"),
        "educationOrganizationId" -> leaOf(x.school)),
      "educationOrganizationReference" -> obj("educationOrganizationId" -> x.school),
      "beginDate" -> "2021-08-16",
      "schoolFoodServiceProgramServices" -> arr(obj("schoolFoodServiceProgramServiceDescriptor" ->
        desc("SchoolFoodServiceProgramService", pick(FoodServices)))))
  })
  put("cohorts", schoolIds.map(s => obj(
    "id" -> s"coh$s", "cohortIdentifier" -> s"COH-$s", "cohortDescription" -> s"Intervention cohort $s",
    "cohortTypeDescriptor" -> desc("CohortType", "Academic Intervention"),
    "educationOrganizationReference" -> obj("educationOrganizationId" -> s, "link" -> link("schools", s"sch$s")),
    "programs" -> arr(obj("programReference" -> obj("educationOrganizationId" -> leaOf(s),
      "programName" -> "Gifted and Talented Program",
      "programTypeDescriptor" -> desc("ProgramType", "Gifted and Talented"),
      "link" -> link("programs", s"prg${leaOf(s)}1")))))))
  put("studentCohortAssociations", studentsV.filter(_ => chance(0.15)).map(x => obj(
    "id" -> s"sca${x.id}", "beginDate" -> "2021-09-01", "endDate" -> "2022-05-27",
    "cohortReference" -> obj("cohortIdentifier" -> s"COH-${x.school}",
      "educationOrganizationId" -> x.school, "link" -> link("cohorts", s"coh${x.school}")),
    "studentReference" -> obj("studentUniqueId" -> x.uid, "link" -> link("students", x.id)))))

  // -------------------------------------------------------------- contacts
  private val parentsOf: Vector[(Student, Int)] =
    studentsV.flatMap(x => if (chance(0.3)) Vector(x -> 0, x -> 1) else Vector(x -> 0))
  put("parents", parentsOf.map { case (x, k) =>
    val last = pick(LastNames); val uid = s"PAR${x.uid}$k"
    obj("id" -> s"par${x.id}$k", "parentUniqueId" -> uid, "firstName" -> pick(FirstNames),
      "lastSurname" -> last,
      "addresses" -> arr(
        obj("addressTypeDescriptor" -> desc("AddressType", "Home"), "city" -> "Grand Bend",
          "postalCode" -> f"7${rng.nextInt(10000)}%04d",
          "stateAbbreviationDescriptor" -> desc("StateAbbreviation", "TX"),
          "streetNumberName" -> s"${rng.nextInt(9000) + 100} Elm Street", "nameOfCounty" -> "Williston",
          "periods" -> arr(obj("beginDate" -> "2015-06-01"))),
        obj("addressTypeDescriptor" -> desc("AddressType", "Mailing"), "city" -> "Grand Bend",
          "postalCode" -> "78834", "stateAbbreviationDescriptor" -> desc("StateAbbreviation", "TX"),
          "streetNumberName" -> s"PO Box ${rng.nextInt(900) + 100}", "nameOfCounty" -> "Williston")),
      "telephones" -> arr(
        obj("telephoneNumber" -> f"555-${rng.nextInt(10000)}%04d",
          "telephoneNumberTypeDescriptor" -> desc("TelephoneNumberType", "Home")),
        obj("telephoneNumber" -> f"555-${rng.nextInt(10000)}%04d",
          "telephoneNumberTypeDescriptor" -> desc("TelephoneNumberType", "Mobile"))),
      "electronicMails" -> arr(
        obj("electronicMailAddress" -> s"${last.toLowerCase}.$uid@example.com",
          "electronicMailTypeDescriptor" -> desc("ElectronicMailType", "Home/Personal"),
          "primaryEmailAddressIndicator" -> true)))
  })
  put("studentParentAssociations", parentsOf.map { case (x, k) => obj(
    "id" -> s"spa${x.id}$k",
    "parentReference" -> obj("parentUniqueId" -> s"PAR${x.uid}$k", "link" -> link("parents", s"par${x.id}$k")),
    "studentReference" -> obj("studentUniqueId" -> x.uid, "link" -> link("students", x.id)),
    "primaryContactStatus" -> (k == 0), "livesWith" -> true, "emergencyContactStatus" -> (k == 0),
    "contactPriority" -> (k + 1), "contactRestrictions" -> "",
    "relationDescriptor" -> desc("Relation", if (k == 0) "Mother" else "Father"))
  })

  // ------------------------------------------------------------------- EPP
  private val cands = (0 until candidateCount).toVector
  put("people", cands.map(i => obj("id" -> s"ppl$i", "personId" -> s"PER$i")))
  put("candidates", cands.map(i => obj(
    "candidateIdentifier" -> s"CAND$i", "firstName" -> pick(FirstNames), "lastSurname" -> pick(LastNames),
    "sexDescriptor" -> desc("Sex", pick(Seq("Female", "Male"))),
    "hispanicLatinoEthnicity" -> chance(0.3), "economicDisadvantaged" -> chance(0.4),
    "races" -> arr(obj("raceDescriptor" -> desc("Race", pick(Races)))),
    "personReference" -> obj("personId" -> s"PER$i", "link" -> link("people", s"ppl$i")))))
  put("credentials", cands.filter(_ % 2 == 0).map(i => obj(
    "id" -> s"cred$i", "credentialIdentifier" -> s"CRED$i", "issuanceDate" -> "2022-06-15",
    "_ext" -> obj("tpdm" -> obj("personReference" -> obj("personId" -> s"PER$i",
      "link" -> link("people", s"ppl$i")))))))
  put("candidateEducatorPreparationProgramAssociations", cands.map(i => obj(
    "id" -> s"cepp$i", "beginDate" -> "2020-08-20",
    "reasonExitedDescriptor" -> desc("ReasonExited", if (i % 3 == 0) "Completed" else "Withdrawn"),
    "candidateReference" -> obj("candidateIdentifier" -> s"CAND$i", "link" -> link("candidates", s"cand$i")),
    "educatorPreparationProgramReference" -> obj("programName" -> "Teacher Certification",
      "educationOrganizationId" -> eppId, "link" -> link("educatorPreparationPrograms", "epp1")),
    "cohortYears" -> arr(obj("cohortYearTypeDescriptor" -> desc("CohortYearType", "Ninth grade"),
      "schoolYearTypeReference" -> obj("schoolYear" -> 2021))))))
  put("financialAids", cands.filter(_ < candidateCount / 2).map(i => obj(
    "beginDate" -> "2020-09-01", "endDate" -> "2021-05-31",
    "aidConditionDescription" -> "Full-time enrollment",
    "aidTypeDescriptor" -> desc("AidType", pick(AidTypes)), "aidAmount" -> (1000 + rng.nextInt(5000)).toDouble,
    "pellGrantRecipient" -> chance(0.5),
    "studentReference" -> obj("studentUniqueId" -> studentsV(i).uid,
      "link" -> link("students", studentsV(i).id)))))
  private val surveys = Seq("SURV-EXIT" -> "Program Exit Survey", "SURV-MID" -> "Mid-Program Survey")
  put("surveys", surveys.map { case (id, title) =>
    obj("id" -> s"srv$id", "surveyIdentifier" -> id, "surveyTitle" -> title) })
  put("surveyQuestions", for ((sid, _) <- surveys; q <- 1 to 3) yield obj(
    "id" -> s"sq$sid$q", "questionCode" -> s"Q$q", "questionText" -> s"Question $q of $sid",
    "surveySectionReference" -> obj("surveyIdentifier" -> sid, "surveySectionTitle" -> "General"),
    "surveyReference" -> obj("surveyIdentifier" -> sid, "link" -> link("surveys", s"srv$sid"))))
  put("surveyResponses", for (i <- cands; (sid, _) <- surveys) yield obj(
    "id" -> s"sr$sid$i", "responseDate" -> "2022-05-01", "surveyResponseIdentifier" -> s"R-$sid-$i",
    "surveyReference" -> obj("surveyIdentifier" -> sid, "link" -> link("surveys", s"srv$sid"))))
  put("surveyQuestionResponses", for (i <- cands; (sid, _) <- surveys; q <- 1 to 3) yield obj(
    "id" -> s"sqr$sid$i$q",
    "surveyQuestionReference" -> obj("questionCode" -> s"Q$q", "surveyIdentifier" -> sid,
      "link" -> link("surveyQuestions", s"sq$sid$q")),
    "surveyResponseReference" -> obj("surveyResponseIdentifier" -> s"R-$sid-$i",
      "link" -> link("surveyResponses", s"sr$sid$i")),
    "surveyQuestionMatrixElementResponses" -> arr(obj("numericResponse" -> (1 + rng.nextInt(5)),
      "textResponse" -> pick(Seq("Agree", "Neutral", "Disagree"))))))
  put("surveyResponsePersonTargetAssociations", for (i <- cands; (sid, _) <- surveys) yield obj(
    "surveyResponseReference" -> obj("surveyResponseIdentifier" -> s"R-$sid-$i",
      "link" -> link("surveyResponses", s"sr$sid$i")),
    "personReference" -> obj("personId" -> s"PER$i", "link" -> link("people", s"ppl$i"))))
  private val evalObjectives = Seq("Planning", "Instruction", "Classroom Environment")
  put("evaluationObjectives", evalObjectives.zipWithIndex.map { case (t, i) =>
    obj("id" -> s"eo$i", "evaluationObjectiveTitle" -> t) })
  put("evaluationElementRatings", for (i <- cands; (t, k) <- evalObjectives.zipWithIndex.take(2)) yield obj(
    "id" -> s"eer$i$k",
    "evaluationObjectiveRatingReference" -> obj("personId" -> s"PER$i",
      "evaluationDate" -> "2022-03-15T00:00:00", "evaluationObjectiveTitle" -> t),
    "evaluationElementReference" -> obj("performanceEvaluationTitle" -> "Clinical Observation",
      "evaluationElementTitle" -> s"$t element", "termDescriptor" -> desc("Term", "Spring Semester"),
      "schoolYear" -> schoolYear, "evaluationTitle" -> "Spring Observation"),
    "results" -> arr(obj("ratingResultTitle" -> "Overall", "rating" -> (1 + rng.nextInt(4)).toDouble))))

  // ------------------------------------------------------------- output
  private def render(rows: Vector[ObjectNode]): Array[Byte] = {
    val sb = new java.lang.StringBuilder(rows.size * 256 + 8)
    sb.append("[\n")
    rows.zipWithIndex.foreach { case (r, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(Mapper.writeValueAsString(r))
    }
    sb.append("\n]\n")
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }
  def fileName(endpoint: String, i: Int): String = s"${endpoint}_$i.json"
  def endpointDir(root: Path, endpoint: String): Path =
    root.resolve(schoolYear.toString).resolve(endpoint)

  /** Write one file of one endpoint; returns its bytes. */
  def writeFile(root: Path, endpoint: String, i: Int): Array[Byte] = {
    val dir = endpointDir(root, endpoint)
    Files.createDirectories(dir)
    val bytes = render(files(endpoint)(i))
    Files.write(dir.resolve(fileName(endpoint, i)), bytes)
    bytes
  }

  /** Write the whole tree under `<root>/<schoolYear>/` and return the md5
    * over every (relative path, content), in path order. */
  def writeAll(root: Path): String = {
    val md = MessageDigest.getInstance("MD5")
    files.keys.toSeq.sorted.foreach { e =>
      files(e).indices.foreach { i =>
        val bytes = writeFile(root, e, i)
        md.update(s"$schoolYear/$e/${fileName(e, i)}".getBytes(StandardCharsets.UTF_8))
        md.update(bytes)
      }
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def rowCount(endpoint: String): Int = files(endpoint).map(_.size).sum

  /** Delta delivery: replace file `i` of `endpoint` with the same keys and a
    * `fraction` of rows carrying changed non-key values. Returns the
    * number of rows changed. */
  def deliver(endpoint: String, i: Int, fraction: Double, r: scala.util.Random): Int = {
    val change = Mutations(endpoint)
    var changed = 0
    val rows = files(endpoint)(i).map { row =>
      if (r.nextDouble() < fraction) { changed += 1; change(row, r) } else row
    }
    files(endpoint) = files(endpoint).updated(i, rows)
    changed
  }
}

object SilverGen {
  /** Standalone: `SilverGen <seed> <students> <outDir>` writes the tree and
    * prints files, MB and rows per endpoint, then the tree's md5. */
  def main(args: Array[String]): Unit = {
    val g = new SilverGen(args(0).toLong, args(1).toInt)
    val root = java.nio.file.Paths.get(args(2))
    val md5 = g.writeAll(root)
    g.files.keys.toSeq.sorted.foreach { e =>
      val dir = g.endpointDir(root, e)
      val bytes = g.files(e).indices.map(i => Files.size(dir.resolve(g.fileName(e, i)))).sum
      println(f"$e%-50s ${g.files(e).size}%3d files ${bytes / 1e6}%8.3f MB ${g.rowCount(e)}%7d rows")
    }
    println(s"md5 $md5")
  }

  /** Endpoints split across several files (the high-volume ones). */
  val SplitFiles = 8
  val Split: Set[String] = Set(
    "studentSchoolAttendanceEvents", "studentSectionAttendanceEvents", "grades",
    "studentSectionAssociations", "studentAssessments", "calendarDates",
    "studentSchoolAssociations", "studentEducationOrganizationAssociations",
    "parents", "studentParentAssociations")

  val GradeLevels = Seq("Ninth grade", "Tenth grade", "Eleventh grade", "Twelfth grade")
  val Races = Seq("White", "Black - African American", "Asian", "American Indian - Alaska Native",
    "Native Hawaiian - Pacific Islander")
  val Characteristics = Seq("Economic Disadvantaged", "Homeless", "Migrant")
  val Languages = Seq("eng", "spa", "vie")
  val Disabilities = Seq("Autism", "Speech or Language Impairment", "Specific Learning Disability")
  val DisciplineCodes = Seq("In School Suspension", "Out of School Suspension", "Detention")
  val FoodServices = Seq("Free Lunch", "Reduced Price Lunch", "Free Breakfast")
  val AidTypes = Seq("Pell Grant", "State Scholarship", "Work Study")
  val IndicatorNames = Seq("Internet Access In Residence", "Internet Access Type In Residence",
    "Internet Performance In Residence", "Digital Device", "Device Access")
  val FirstNames = Seq("Ava", "Liam", "Mia", "Noah", "Zoe", "Ethan", "Lena", "Omar", "Ruth",
    "Diego", "Priya", "Kai", "Nora", "Jonah", "Iris", "Mateo")
  val LastNames = Seq("Garcia", "Smith", "Nguyen", "Okafor", "Patel", "Johnson", "Kim", "Lopez",
    "Brown", "Haddad", "Novak", "Silva", "Cohen", "Ito")

  val Descriptors: Seq[(String, Seq[String])] = Seq(
    "gradingPeriodDescriptors" -> Seq("First Quarter", "Second Quarter", "Third Quarter", "Fourth Quarter"),
    "termDescriptors" -> Seq("Fall Semester", "Spring Semester"),
    "raceDescriptors" -> Races,
    "sexDescriptors" -> Seq("Female", "Male"),
    "cohortTypeDescriptors" -> Seq("Academic Intervention", "Counseling", "Extracurricular"),
    "cohortYearTypeDescriptors" -> Seq("Ninth grade", "Tenth grade"),
    "disabilityDesignationDescriptors" -> Seq("IDEA", "Section 504"),
    "languageUseDescriptors" -> Seq("Home language", "Native language"),
    "disabilityDescriptors" -> Disabilities,
    "languageDescriptors" -> Languages,
    "studentCharacteristicDescriptors" -> Characteristics,
    "tribalAffiliationDescriptors" -> Seq("Navajo Nation", "Cherokee Nation"),
    "aidTypeDescriptors" -> AidTypes,
    "performanceLevelDescriptors" -> Seq("Below Basic", "Basic", "Proficient", "Advanced"),
    "assessmentCategoryDescriptors" -> Seq("State summative assessment", "Benchmark test"),
    "gradeLevelDescriptors" -> GradeLevels,
    "assessmentReportingMethodDescriptors" -> Seq("Scale score", "Raw score"),
    "resultDatatypeTypeDescriptors" -> Seq("Integer", "Level"),
    "disciplineDescriptors" -> DisciplineCodes,
    "programTypeDescriptors" -> Seq("Bilingual", "Gifted and Talented", "Special Education",
      "School Food Service"),
    "schoolFoodServiceProgramServiceDescriptors" -> FoodServices,
    "educationalEnvironmentDescriptors" -> Seq("Classroom", "Laboratory"),
    "academicSubjectDescriptors" -> Seq("English Language Arts", "Mathematics", "Science",
      "Social Studies"))
  private val DescriptorIdBase: Map[String, Int] =
    Descriptors.map(_._1).zipWithIndex.map { case (e, i) => e -> (1000 * (i + 1)) }.toMap

  def letter(score: Int): String =
    if (score >= 90) "A" else if (score >= 80) "B" else if (score >= 70) "C"
    else if (score >= 60) "D" else "F"
  def perfLevel(score: Int): String =
    if (score >= 85) "Advanced" else if (score >= 70) "Proficient"
    else if (score >= 55) "Basic" else "Below Basic"

  private def d(kind: String, code: String) = s"uri://ed-fi.org/${kind}Descriptor#$code"

  // Jackson trees keep field insertion order, so a seed renders to the same bytes.
  private def node(v: Any): JsonNode = v match {
    case j: JsonNode => j
    case s: String => Mapper.getNodeFactory.textNode(s)
    case i: Int => Mapper.getNodeFactory.numberNode(i)
    case l: Long => Mapper.getNodeFactory.numberNode(l)
    case x: Double => Mapper.getNodeFactory.numberNode(x)
    case b: Boolean => Mapper.getNodeFactory.booleanNode(b)
  }
  def obj(kv: (String, Any)*): ObjectNode = {
    val o = Mapper.createObjectNode()
    kv.foreach { case (k, v) => o.set[JsonNode](k, node(v)) }
    o
  }
  def arr(items: ObjectNode*): JsonNode = {
    val a = Mapper.createArrayNode()
    items.foreach(a.add)
    a
  }
  /** Set (or replace, in place) one field of `o`; returns `o`. */
  def set(o: ObjectNode, k: String, v: Any): ObjectNode = { o.set[JsonNode](k, node(v)); o }

  /** Non-key value changes per deliverable endpoint, made in place. */
  val Mutations: Map[String, (ObjectNode, scala.util.Random) => ObjectNode] = Map(
    "studentSchoolAttendanceEvents" -> ((o, r) => set(o, "attendanceEventCategoryDescriptor",
      d("AttendanceEventCategory",
        Seq("Excused Absence", "Unexcused Absence", "Tardy", "In Attendance")(r.nextInt(4))))))
}
