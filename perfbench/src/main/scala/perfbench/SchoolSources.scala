package perfbench

import org.apache.spark.sql.types._

/** The school sources `perfbench/gen_school.py` writes (FIXTURES.md
  * §1–7), as the engine reads them: the Mongo collections first, then the
  * Postgres tables, each declared with the schema its reader asserts.
  * `manifest.json` beside them says how many days of slices there are,
  * which schools exist and how many distinct keys every copy mart must end
  * up with. */
final case class Manifest(days: Int, schools: Seq[String], keyCounts: Map[String, Long])

object SchoolSources {
  import scala.jdk.CollectionConverters._

  val Tables: Seq[String] = Seq("evaluations", "scores", "applicants",
    "student", "structure_record", "subject", "guardian", "teacher",
    "school", "campus", "group_structure")

  private def s(n: String) = StructField(n, StringType)
  private def ts(n: String) = StructField(n, TimestampType)
  private def b(n: String) = StructField(n, BooleanType)
  private def by(n: String) = StructField(n, ByteType)
  private def d(n: String) = StructField(n, DoubleType)
  private def dt(n: String) = StructField(n, DateType)

  val schemas: Map[String, StructType] = Map(
    "evaluations" -> StructType(Seq(s("evaluationId"), s("parentId"), s("type"),
      s("name"), s("description"), StructField("sort", IntegerType), d("maxScore"),
      d("coe"), s("schoolId"), s("campusId"), s("groupStructureId"),
      s("structurePath"), s("templateId"), s("configGroupId"), s("referenceId"),
      s("createdAt"), StructField("attendanceColumn",
        StructType(Seq(s("startDate"), s("endDate")))))),
    "scores" -> StructType(Seq(s("evaluationId"), s("studentId"), s("score"),
      s("scorerId"), s("markedAt"), s("structurePath"), s("idCard"))),
    "applicants" -> StructType(Seq(s("applicantId"), s("userKey"), s("idCard"),
      s("enrollToSubject"), StructField("enrollToDetail",
        StructType(Seq(s("shift"), StructField("choice", IntegerType)))),
      StructField("lastProfile", StructType(Seq(s("firstName"), s("lastName")))),
      s("applicantStatus"), s("source"), s("admissionFlow"), s("confirmTarget"),
      s("waitApplicantConfirm"), s("updatedAt"), s("createdAt"),
      b("toNotifyApplicant"), s("schoolId"), s("userId"), s("enrollToId"))),
    "student" -> StructType(Seq(s("uniqueKey"), s("studentId"), s("firstName"),
      s("lastName"), s("firstNameNative"), s("lastNameNative"), dt("dob"),
      s("gender"), s("idCard"), s("program"), s("remark"),
      StructField("profile", StructType(Seq(s("bio"),
        StructField("profile", StructType(Seq(s("note"))))))),
      b("noAttendance"), s("status"), s("finalAcademicStatus"), ts("enrolledAt"),
      ts("createdAt"), ts("updatedAt"), s("schoolId"), s("campusId"),
      s("structureRecordId"))),
    "structure_record" -> StructType(Seq(s("schoolId"), s("campusId"),
      s("groupStructureId"), s("structureRecordId"), s("name"), s("nameNative"),
      s("code"), s("enrollableCategory"), s("recordType"), s("tags"),
      b("isPromoted"), b("isFeatured"), b("isPublic"), b("isOpen"),
      dt("startDate"), dt("endDate"), by("archiveStatus"), s("status"),
      s("responsibleBy"), s("structureType"), ts("createdAt"), ts("updatedAt"))),
    "subject" -> StructType(Seq(s("schoolId"), s("campusId"),
      s("groupStructureId"), s("structureRecordId"), s("subjectId"),
      s("curriculumId"), s("name"), s("nameNative"), s("description"),
      d("credit"), s("code"), by("practiceHour"), by("theoryHour"),
      by("fieldHour"), by("totalHour"), by("archiveStatus"), s("lmsCourseId"),
      d("coe"), ts("createdAt"), ts("updatedAt"))),
    "guardian" -> StructType(Seq(s("guardianId"), s("schoolId"), s("firstName"),
      s("lastName"), s("firstNameNative"), s("lastNameNative"), s("gender"),
      dt("dob"), s("phone"), s("email"), s("address"), s("photo"),
      ts("createdAt"), ts("updatedAt"), by("archiveStatus"), s("userName"))),
    "teacher" -> StructType(Seq(StructField("teacherId", IntegerType),
      s("schoolId"), s("campusId"), s("groupStructureId"),
      s("structureRecordId"), s("subjectId"), s("employeeId"), s("firstName"),
      s("lastName"), s("firstNameNative"), s("lastNameNative"), s("idCard"),
      s("gender"), s("email"), s("phone"), s("position"), s("department"),
      by("archiveStatus"), ts("createdAt"), ts("updatedAt"))),
    "school" -> StructType(Seq(s("schoolId"), s("name"), s("code"), s("url"),
      s("email"), s("address"), s("logo"), s("status"), s("province"),
      s("country"), ts("createdAt"), ts("updatedAt"))),
    "campus" -> StructType(Seq(s("schoolId"), s("campusId"), s("name"),
      s("nameNative"), s("code"), s("phone"), s("email"), s("address"),
      b("isHq"), by("archiveStatus"), s("status"), s("responsibleBy"),
      s("structureType"), ts("createdAt"), ts("updatedAt"))),
    "group_structure" -> StructType(Seq(s("schoolId"), s("campusId"),
      s("groupStructureId"), s("name"), s("nameNative"), s("code"),
      by("archiveStatus"), s("status"), s("responsibleBy"), s("structureType"),
      ts("createdAt"), ts("updatedAt"))))

  def manifest(dir: String): Manifest = {
    val m = Main.json.readTree(new java.io.File(s"$dir/manifest.json"))
    val counts = m.get("key_counts")
    Manifest(m.get("days").asInt,
      (0 until m.get("schools").size).map(i => m.get("schools").get(i).asText),
      counts.fieldNames.asScala.map(n => n -> counts.get(n).asLong).toMap)
  }
}
