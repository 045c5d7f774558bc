package perfbench

import java.sql.Timestamp

import scala.collection.mutable

import graft.core.Schemas
import graft.core.Schemas.TableSpec
import graft.operators.Relational
import graft.pipelines._
import graft.sources.{Sinks, Sources, WatermarkStore}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A [[WatermarkStore]] that times its own reads and commits. */
final class TimedWatermarks(path: String) extends WatermarkStore(path) {
  var getNs, setNs = 0L
  override def get(name: String, default: String): String = {
    val t0 = System.nanoTime()
    try super.get(name, default) finally getNs += System.nanoTime() - t0
  }
  override def set(name: String, value: String): Unit = {
    val t0 = System.nanoTime()
    try super.set(name, value) finally setNs += System.nanoTime() - t0
  }
}

/** One mart: its catalog spec, where it lives, and how a read resolves the
  * versions that appends leave behind. Full-reload marts carry a
  * `loadedAt` column, the load's logical time, so the latest load wins. */
final case class Mart(spec: TableSpec, base: String, keys: Seq[String],
    order: Seq[String], full: Boolean, volatile: Seq[String] = Nil) {
  def path: String = s"$base/${spec.name}"
  def ordering: Seq[Column] =
    (if (full) Seq(col("loadedAt").desc) else Nil) ++ order.map(col(_).desc)
}

/** The `etl_daily` workload: the ten reference pipelines over the
  * generated school sources — a backfill of the history snapshot, then one
  * run per day slice — and the report queries that read the marts after
  * each day. The caller times each pipeline and each report as one
  * operation. */
final class Etl(spark: SparkSession, work: String, staging: String) {
  val manifest: Manifest = SchoolSources.manifest(staging)
  private val src = s"$work/sources"
  private val marts = s"$work/marts"
  val watermarks = new TimedWatermarks(s"$work/watermarks.properties")
  var buildNs = 0L

  private def pg(t: String): DataFrame = Sources.parquet(spark, s"$src/$t", SchoolSources.schemas(t))
  /** The Mongo collections are parquet exports read through the same
    * schema-checked reader as the stand-in path of `Sources.mongoOrStandIn`
    * (which would first fail a connector lookup on every call). */
  private def mongo(t: String): DataFrame = pg(t)
  private def latest(t: String, key: String): DataFrame =
    Relational.dedupLatest(pg(t), Seq(key), Seq(col("updatedAt").desc))

  private def withLoad(spec: TableSpec): TableSpec =
    spec.copy(schema = spec.schema.add(StructField("loadedAt", TimestampType)))

  /** Nested fields made nullable: Spark casts a nested nullable field only
    * to a nullable one, and the transcript pipeline's detail struct has
    * nullable fields the catalog declares NOT NULL. */
  private def relaxed(spec: TableSpec): TableSpec = {
    def relax(t: DataType): DataType = t match {
      case s: StructType => StructType(s.fields.map(f => f.copy(dataType = relax(f.dataType),
        nullable = true)))
      case a: ArrayType => ArrayType(relax(a.elementType), containsNull = true)
      case other => other
    }
    spec.copy(schema = StructType(spec.schema.fields.map(f => f.copy(dataType = relax(f.dataType)))))
  }

  val martDefs: Map[String, Mart] = Seq(
    Mart(Schemas.student, marts, Seq("uniqueKey"), Seq("updatedAt"), full = false),
    Mart(Schemas.teacher, marts, Seq("teacherId"), Seq("updatedAt"), full = false),
    Mart(Schemas.school, marts, Seq("schoolId"), Seq("updatedAt"), full = false),
    Mart(Schemas.school, s"$marts/structures", Seq("schoolId"), Seq("updatedAt"), full = false),
    Mart(Schemas.campus, marts, Seq("campusId"), Seq("updatedAt"), full = false),
    Mart(Schemas.groupStructure, marts, Seq("groupStructureId"), Seq("updatedAt"), full = false),
    Mart(Schemas.structureRecord, marts, Seq("structureRecordId"), Seq("updatedAt"), full = false),
    Mart(withLoad(Schemas.guardian), marts, Seq("guardianId"), Seq("updatedAt"), full = true),
    Mart(withLoad(Schemas.subject), marts, Seq("subjectId"), Seq("updatedAt"), full = true),
    Mart(withLoad(Schemas.applicant), marts, Seq("applicantId"), Seq("updatedAt"), full = true),
    Mart(withLoad(Schemas.subjectScore), marts, Seq("evaluationId"), Nil, full = true),
    Mart(withLoad(Schemas.studentMonthSubjectScore), marts,
      Seq("subjectEvaluationId", "studentId"), Nil, full = true),
    Mart(withLoad(relaxed(Schemas.transcript)), marts, Seq("studentId", "structureRecordId"), Nil,
      full = true, volatile = Seq("createdAt"))
  ).map(m => m.path.stripPrefix(s"$marts/") -> m).toMap

  // ---- the ten pipelines: (name, watermarked marts or full-reload mart) ----
  private def incremental(mart: String)(transform: Timestamp => DataFrame): Unit = {
    val m = martDefs(mart)
    Runner.runIncremental(watermarks, mart, "updatedAt", m.path,
      m.spec.partitionBy, m.spec.orderBy) { wm =>
      val t0 = System.nanoTime()
      try m.spec.conform(transform(wm)) finally buildNs += System.nanoTime() - t0
    }
  }
  private def reload(mart: String, loadedAt: Timestamp)(transform: => DataFrame): Unit = {
    val m = martDefs(mart)
    val t0 = System.nanoTime()
    val out = try m.spec.conform(transform.withColumn("loadedAt", lit(loadedAt)))
      finally buildNs += System.nanoTime() - t0
    Sinks.writePartitioned(out, m.path, m.spec.partitionBy, m.spec.orderBy,
      SaveMode.Append, guardEmpty = false)
  }
  private def structures(wm: Timestamp): Map[String, DataFrame] =
    CopyPipelines.schoolStructures(pg("school"), pg("campus"),
      pg("group_structure"), pg("structure_record"), wm)
  private def studentLookup: DataFrame = latest("student", "studentId")
    .select("studentId", "firstName", "lastName", "firstNameNative",
      "lastNameNative", "dob", "gender", "campusId", "idCard")
  private def recordLookup: DataFrame = latest("structure_record", "structureRecordId")
    .select("structureRecordId", "name", "groupStructureId")
  private def subjectLookup: DataFrame = latest("subject", "subjectId")
    .select("subjectId", "name", "nameNative", "credit", "code", "structureRecordId", "coe")

  /** Run one pipeline; `loadedAt` is the load's logical time. */
  def runPipeline(p: String, loadedAt: Timestamp): Unit = p match {
    case "students" => incremental("student")(CopyPipelines.students(pg("student"), _))
    case "teachers" => incremental("teacher")(CopyPipelines.teachers(pg("teacher"), _))
    case "schools" => incremental("school")(CopyPipelines.schools(pg("school"), _))
    case "school_structures" =>
      Seq("school", "campus", "group_structure", "structure_record").foreach { t =>
        incremental(if (t == "school") "structures/school" else t)(structures(_)(t))
      }
    case "guardians" => reload("guardian", loadedAt)(CopyPipelines.guardians(pg("guardian")))
    case "subjects" => reload("subject", loadedAt)(CopyPipelines.subjects(pg("subject")))
    case "applicants" =>
      reload("applicant", loadedAt)(CopyPipelines.applicants(mongo("applicants")))
    case "subject_scores" =>
      reload("subject_score", loadedAt)(SubjectScores(mongo("evaluations"), mongo("scores")))
    case "month_scores" =>
      reload("student_month_subject_score_staging", loadedAt)(MonthlySubjectScores(
        mongo("evaluations"), mongo("scores"), studentLookup, recordLookup, subjectLookup))
    case "transcripts" =>
      reload("student_transcript_staging", loadedAt)(Transcripts(
        mongo("evaluations"), mongo("scores"), studentLookup, recordLookup, subjectLookup))
  }

  /** Make slice k visible in the sources, as the source systems would. */
  def publish(k: Int): Unit = SchoolSources.Tables.foreach { t =>
    val from = new java.io.File(s"$staging/$t/slice=$k")
    val to = new java.io.File(s"$src/$t/slice=$k")
    to.getParentFile.mkdirs()
    require(!from.exists || from.renameTo(to), s"publish $t slice $k")
  }

  /** The logical load time of day k (0 = the backfill). */
  def loadTime(k: Int): Timestamp =
    Timestamp.from(java.time.Instant.parse("2024-09-01T23:59:59Z").plusSeconds(86400L * (k - 1)))

  // ---- reports: the Metabase / Report Service reads -----------------------
  private def read(mart: String): DataFrame = Sources.mart(spark, martDefs(mart).base,
    martDefs(mart).spec)
  private def current(mart: String, school: String): DataFrame = {
    val m = martDefs(mart)
    Relational.dedupLatest(read(mart).filter(col("schoolId") === school), m.keys, m.ordering)
  }

  /** One report for one school, collected to the client as a BI tool would. */
  def report(name: String, school: String): Array[org.apache.spark.sql.Row] = (name match {
    case "roster" => current("student", school).groupBy("gender").count()
    case "month_grades" => current("student_month_subject_score_staging", school)
      .groupBy("monthName", "grade").agg(count(lit(1)).as("n"), avg("percentage").as("pct"))
    case "transcript_gpa" => current("student_transcript_staging", school)
      .groupBy("structureRecordName")
      .agg(avg("totalGPA").as("gpa"), max("subjectCount").as("subjects"))
    case "top_subject_scores" => current("subject_score", school)
      .orderBy(col("score").desc, col("evaluationId")).limit(10)
    case "staff_by_subject" => current("teacher", school)
      .join(current("subject", school).select("subjectId", "name"), Seq("subjectId"), "left")
      .groupBy("name").count()
  }).collect()

  def schools: Seq[String] = manifest.schools

  // ---- the untimed output check (SURVEY §2.10) ----------------------------
  private def normalise(df: DataFrame, drop: Seq[String]): DataFrame = {
    val kept = df.schema.fields.filterNot(f => drop.contains(f.name))
    df.select(kept.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType | _: DecimalType => round(col(f.name).cast("double"), 6).as(f.name)
        case _ => col(f.name)
      }
    }: _*)
  }

  /** One recompute of a mart's transform over the final snapshot. */
  private def recompute(mart: String): DataFrame = {
    val epoch = Runner.Epoch
    val raw: DataFrame = mart match {
      case "student" => CopyPipelines.students(pg("student"), epoch)
      case "teacher" => CopyPipelines.teachers(pg("teacher"), epoch)
      case "school" => CopyPipelines.schools(pg("school"), epoch)
      case "structures/school" => structures(epoch)("school")
      case "campus" | "group_structure" | "structure_record" => structures(epoch)(mart)
      case "guardian" => CopyPipelines.guardians(pg("guardian"))
      case "subject" => CopyPipelines.subjects(pg("subject"))
      case "applicant" => CopyPipelines.applicants(mongo("applicants"))
      case "subject_score" => SubjectScores(mongo("evaluations"), mongo("scores"))
      case "student_month_subject_score_staging" => MonthlySubjectScores(mongo("evaluations"),
        mongo("scores"), studentLookup, recordLookup, subjectLookup)
      case "student_transcript_staging" => Transcripts(mongo("evaluations"),
        mongo("scores"), studentLookup, recordLookup, subjectLookup)
    }
    val m = martDefs(mart)
    if (m.full) m.spec.conform(raw.withColumn("loadedAt", lit(null)))
    else Relational.dedupLatest(m.spec.conform(raw), m.keys, m.ordering)
  }

  /** The mart as a reader resolves it: the latest version of every key for
    * a watermarked mart, the latest load for a full-reload mart (a key the
    * source dropped survives older loads, so per-key latest would keep it). */
  private def resolved(mart: String): DataFrame = {
    val m = martDefs(mart)
    if (m.full) read(mart).filter(col("loadedAt") === lit(loadTime(manifest.days)))
    else Relational.dedupLatest(read(mart), m.keys, m.ordering)
  }

  private val ScoreMarts = Set("subject_score", "student_month_subject_score_staging",
    "student_transcript_staging")

  /** Checks made by the last [[check]]. */
  var checksRun = 0

  /** Row count and an order-free checksum (sum of row hashes) of a mart
    * side, with doubles rounded so summation order cannot flip a bit. */
  private def digest(df: DataFrame, drop: Seq[String]): DataFrame = {
    val n = normalise(df, drop)
    n.select(xxhash64(n.columns.map(col): _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)).as("rows"), coalesce(sum("h"), lit(0)).cast("string").as("sum"))
  }

  /** Every check that failed, by name; empty when the marts are right.
    * Per mart, one job compares it with one recompute over the final
    * snapshot, and one job checks its key count against the generator and
    * its watermark against the max `updatedAt` loaded. Marts are checked
    * four at a time. */
  def check(): Seq[String] = {
    // the score marts' recomputes take longest: start them first
    val names = martDefs.keys.toSeq.sortBy(n => (!ScoreMarts(n), n))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val perMart = try names.map { n =>
      pool.submit[Seq[String]](() => checkMart(n))
    }.map(_.get()) finally pool.shutdown()
    checksRun = names.map { n =>
      1 + (if (manifest.keyCounts.contains(n.stripPrefix("structures/"))) 1 else 0) +
        (if (martDefs(n).full) 0 else 1)
    }.sum
    perMart.flatten
  }

  private def checkMart(n: String): Seq[String] = {
    val failures = mutable.ArrayBuffer.empty[String]
    def guard(f: => Unit): Unit =
      try f catch { case e: Exception =>
        failures += s"mart $n: ${String.valueOf(e.getMessage).takeWhile(_ != '\n')}" }
    val m = martDefs(n)
    guard {
      val drop = m.volatile :+ "loadedAt"
      val Array(got, want) = digest(resolved(n), drop).withColumn("side", lit(0))
        .unionByName(digest(recompute(n), drop).withColumn("side", lit(1)))
        .orderBy("side").collect()
      if (got.getLong(0) != want.getLong(0) || got.getString(1) != want.getString(1))
        failures += s"mart $n: ${got.getLong(0)} rows, the recompute over the final " +
          s"snapshot has ${want.getLong(0)}" +
          (if (got.getLong(0) == want.getLong(0)) " with different content" else "")
    }
    manifest.keyCounts.get(n.stripPrefix("structures/")).foreach { expected =>
      guard {
        val maxTs = if (m.full) lit(null).cast("timestamp") else max("updatedAt")
        val r = read(n).agg(countDistinct(col(m.keys.head), m.keys.tail.map(col): _*),
          maxTs).head()
        if (r.getLong(0) != expected)
          failures += s"mart $n: ${r.getLong(0)} keys, the generator made $expected"
        if (!r.isNullAt(1)) {
          val loaded = r.getTimestamp(1).toString.replace(' ', 'T').takeWhile(_ != '.')
          val stored = watermarks.get(n, "none")
          if (stored != loaded) failures += s"watermark $n: $stored, max loaded updatedAt $loaded"
        }
      }
    }
    failures.toSeq
  }

  /** Bytes on disk under the marts directory. */
  def martBytes: Long = du(new java.io.File(marts))
  /** Data files under the marts directory. */
  def martFiles: Long = files(new java.io.File(marts)).count(_.getName.endsWith(".parquet")).toLong

  private def files(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(files) else Seq(f)
  private def du(f: java.io.File): Long = files(f).map(_.length).sum
}

object Etl {
  /** The ten reference pipelines, in run order. */
  val PipelineNames: Seq[String] = Seq("students", "teachers", "schools",
    "school_structures", "guardians", "subjects", "applicants",
    "subject_scores", "month_scores", "transcripts")

  val ReportNames: Seq[String] = Seq("roster", "month_grades", "transcript_gpa",
    "top_subject_scores", "staff_by_subject")
}
