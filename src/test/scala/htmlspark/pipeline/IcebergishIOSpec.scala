package htmlspark.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

import IcebergishIOSpec.{JobLog, Manifest}

/** Pins the snapshot manifest IcebergishIO.commit writes: its row count,
  * url range and file list equal a read-back of the written parquet, for a
  * non-empty and a 0-row snapshot; readCommitted's declared schema reads
  * the same rows schema inference does; and commit starts no Spark job
  * outside its write, so a read-back cannot return unnoticed. */
class IcebergishIOSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("icebergish-io-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The jobs `body` starts: bracketed by two marker jobs, and read only
    * once the listener has seen the closing marker (the listener bus
    * delivers in order, so every job of `body` has been seen by then). */
  private def jobsOf[T](body: => T): (T, Seq[(String, String)]) = {
    val log = new JobLog
    val sc = spark.sparkContext
    sc.addSparkListener(log)
    def marker(tag: String): Unit = {
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!log.jobs.asScala.exists(_._1 == tag)) {
        assert(System.nanoTime() < deadline, s"listener never saw $tag")
        Thread.sleep(10)
      }
    }
    try {
      marker("jobs-of:start")
      val out = body
      marker("jobs-of:end")
      val seen = log.jobs.asScala.toSeq
      (out, seen.dropWhile(_._1 != "jobs-of:start").drop(1)
        .takeWhile(_._1 != "jobs-of:end"))
    } finally sc.removeSparkListener(log)
  }

  private def manifest(tableDir: String, id: Long): Manifest = {
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$tableDir/snapshots/snap-$id.json")), "UTF-8")
    def field(name: String): String =
      ("\"" + name + "\": (\"[^\"]*\"|[0-9]+)").r.findFirstMatchIn(json)
        .getOrElse(fail(s"no $name in $json")).group(1).stripPrefix("\"")
        .stripSuffix("\"")
    val files = "\"files\": \\[([^\\]]*)\\]".r.findFirstMatchIn(json)
      .getOrElse(fail(s"no files in $json")).group(1)
      .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
      .filter(_.nonEmpty).toSeq
    Manifest(field("n_rows").toLong, field("min_url"), field("max_url"), files)
  }

  /** The same four facts, read back from the snapshot's parquet. */
  private def readBack(dataDir: String): Manifest = {
    val df = spark.read.parquet(dataDir)
    val r = df.agg(count(lit(1)), min("url"), max("url")).collect()(0)
    Manifest(r.getLong(0), Option(r.getString(1)).getOrElse(""),
      Option(r.getString(2)).getOrElse(""),
      df.inputFiles.map(f => new java.io.File(new java.net.URI(f)).getName)
        .sorted.toSeq)
  }

  test("manifest stats equal a read-back of the written snapshot, " +
       "non-empty and 0-row, and commit runs no job outside its write") {
    import spark.implicits._
    val tableDir = java.nio.file.Files.createTempDirectory("icebergish_spec_").toString
    val snapshots = Seq(ParseJob.parseAll(PagesGen.pages(spark, 300)),
      spark.emptyDataset[ExtractedDoc])
    snapshots.zipWithIndex.foreach { case (ds, k) =>
      val (id, jobs) = jobsOf(IcebergishIO.commit(ds, tableDir))
      assert(id == k + 1)
      val m = manifest(tableDir, id)
      assert(m == readBack(s"$tableDir/data/snap-$id"), s"snapshot $id")
      assert(m.nRows == ds.count())
      assert(jobs.nonEmpty && jobs.forall(_._2 != null),
        s"snapshot $id: a job ran outside any SQL execution: $jobs")
      assert(jobs.map(_._2).distinct.size == 1,
        s"snapshot $id: jobs of more than the write's execution: $jobs")
    }
    assert(manifest(tableDir, 1).nRows > 0 && manifest(tableDir, 2).nRows == 0)
  }

  test("a parse-first commit runs two jobs (scan-and-parse, then " +
       "window-and-write); readCommitted's declared schema reads the rows " +
       "schema inference reads, and resumeFilter starts no job") {
    import spark.implicits._
    val tableDir = java.nio.file.Files.createTempDirectory("icebergish_spec_").toString
    val pages = PagesGen.pages(spark, 200)
    val half = pmod(xxhash64($"url"), lit(2)) === 0
    Seq(half, !half).foreach { part =>
      val (_, jobs) = jobsOf(IcebergishIO.commit(ParseJob.run(pages.filter(part)), tableDir))
      assert(jobs.size == 2, s"jobs of a parse-first commit: $jobs")
    }
    val (declared, jobs) = jobsOf {
      val d = IcebergishIO.readCommitted(spark, tableDir).get
      IcebergishIO.resumeFilter(pages, tableDir)
      d
    }
    assert(jobs.isEmpty, s"planning a read started jobs: $jobs")
    val inferred: DataFrame = spark.read
      .parquet(s"$tableDir/data/snap-1", s"$tableDir/data/snap-2")
      .select(declared.columns.map(col).toSeq: _*)
    assert(declared.schema.map(f => f.name -> f.dataType) ==
      inferred.schema.map(f => f.name -> f.dataType))
    assert(declared.count() == pages.select("url").distinct().count())
    assert(declared.exceptAll(inferred).isEmpty && inferred.exceptAll(declared).isEmpty)
  }
}

object IcebergishIOSpec {
  /** Job starts with their description and SQL execution id. */
  final class JobLog extends SparkListener {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      jobs.add((props.map(_.getProperty("spark.job.description")).orNull,
        props.map(_.getProperty("spark.sql.execution.id")).orNull))
    }
  }

  final case class Manifest(nRows: Long, minUrl: String, maxUrl: String,
                            files: Seq[String])
}
