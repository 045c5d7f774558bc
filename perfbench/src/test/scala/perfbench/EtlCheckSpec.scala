package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The `etl_daily` output check passes on a clean run and catches a
  * corrupted mart, a lost file and a wrong watermark. */
class EtlCheckSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = {
    val s = graft.core.Sessions.builder("local[2]", 2).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Generate seed-5 sources and run the backfill and every day. */
  private def loaded(): (Etl, String) = {
    new java.io.File(System.getProperty("java.io.tmpdir")).mkdirs()
    val work = Files.createTempDirectory("etlcheck").toString
    val gen = new ProcessBuilder("python3", "gen_school.py", "--out", s"$work/data",
      "--seed", "5").inheritIO().start()
    assert(gen.waitFor() == 0, "gen_school.py failed")
    val etl = new Etl(spark, work, s"$work/data")
    (0 to etl.manifest.days).foreach { k =>
      etl.publish(k)
      Etl.PipelineNames.foreach(etl.runPipeline(_, etl.loadTime(k)))
    }
    (etl, work)
  }

  private lazy val clean = loaded()

  test("a clean run passes every check") {
    val (etl, _) = clean
    assert(etl.check() == Nil)
    assert(etl.checksRun == 13 + 10 + 7)
  }

  test("a corrupted mart, a lost file and a wrong watermark are caught") {
    val (etl, work) = loaded()
    // a forged latest version in a watermarked mart: one student renamed
    val student = spark.read.parquet(s"$work/marts/student")
    student.limit(1).withColumn("firstName", lit("corrupted"))
      .withColumn("updatedAt", col("updatedAt") + expr("INTERVAL 1 SECOND"))
      .write.mode("append").partitionBy("schoolId").parquet(s"$work/marts/student")
    // the latest load of a full-reload mart lost a data file
    val transcripts = new java.io.File(s"$work/marts/student_transcript_staging")
      .listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.lastModified)
    assert(transcripts.last.delete())
    // a watermark committed past what was loaded
    etl.watermarks.set("teacher", "2030-01-01T00:00:00")
    val failures = etl.check()
    assert(failures.exists(_.startsWith("mart student:")), failures)
    assert(failures.exists(_.startsWith("mart student_transcript_staging:")), failures)
    assert(failures.exists(_.startsWith("watermark teacher:")), failures)
  }
}
