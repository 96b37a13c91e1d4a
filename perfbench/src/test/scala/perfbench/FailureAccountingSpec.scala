package perfbench

import htmlspark.pipeline.{IcebergishIO, Page, ParseJob}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.io.File

/** A wrong extracted text, a wrong row count or a throwing query must be
  * counted as a failed operation and never produce a time. */
class FailureAccountingSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val root = java.nio.file.Files.createTempDirectory("perfbench-spec").toFile
  private var spark: SparkSession = _
  private def newRun(workload: String) = new Run(Opts(workload, 7, 1, trace = false, root))

  override def beforeAll(): Unit =
    spark = Sessions.build(2, new File(root, "session"))
  override def afterAll(): Unit = {
    Sessions.stop(spark)
    newRun("spec").deleteRecursively(root)
  }

  test("a throwing operation is failed, not timed") {
    val r = newRun("spec")
    val got = r.ledger.attempt("boom", 5)(throw new IllegalStateException("x"))(_ => (5, 0, ""))
    assert(got.isEmpty)
    assert(r.ledger.attempted == 5 && r.ledger.failed == 5)
    assert(r.report.exists(l => l.startsWith("boom") && l.contains("FAIL")))
  }

  test("an operation failing its check is failed, not timed") {
    val r = newRun("spec")
    assert(r.ledger.attempt("ok", 3)(1)(_ => (3L, 0L, "")).isDefined)
    assert(r.ledger.attempt("bad", 3)(1)(_ => (3L, 1L, "one wrong")).isEmpty)
    assert(r.ledger.attempted == 6 && r.ledger.failed == 1)
  }

  test("query-suite: a throwing query and a wrong row count are failed, not timed") {
    val r = newRun("query-suite")
    val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "a_ok" -> ((s, _) => s.range(3).toDF()),
      "b_throws" -> ((_, _) => throw new RuntimeException("broken query")),
      "c_wrong_rows" -> ((s, _) => s.range(2).toDF()))
    val times = QuerySuite.runSuite(spark, "unused", queries,
      Map("a_ok" -> 3L, "b_throws" -> 1L, "c_wrong_rows" -> 3L), r)
    assert(times.map(_._1) == Seq("a_ok"))
    assert(r.ledger.attempted == 3 && r.ledger.failed == 2)
  }

  test("real-docs: a copy whose text differs from its original is failed") {
    val files = IndexedSeq("a.html", "b.html")
    val expected = IndexedSeq("m0", "m1")
    def rows(f: (Int, Int) => String) = (for (d <- 0 to 1; c <- 0 until RealDocs.Copies)
      yield (RealDocs.url(7, d, c, files(d)), f(d, c), true)).toArray
    assert(RealDocs.check(rows((d, _) => expected(d)), expected, 7, files)._2 == 0)
    val oneWrong = rows((d, c) => if (d == 1 && c == 2) "other" else expected(d))
    assert(RealDocs.check(oneWrong, expected, 7, files)._2 == 1)
    val missing = rows((d, _) => expected(d)).drop(1)
    assert(RealDocs.check(missing, expected, 7, files)._2 == 1)
  }

  test("synth-ingest: a committed wrong text and a lost url are failed") {
    val r = newRun("synth-ingest")
    val w = new SynthIngest(r, Docs = 300)
    val table = new File(r.work, "pages")
    val session = spark
    import session.implicits._
    w.materialize(session, table)
    val src = session.read.parquet(table.getPath).as[Page]
    val good = w.pass(session, src, 1)
    assert(w.check(session, good) == ((300L, 0L, "")))

    val victim = src.select($"url").orderBy($"url").as[String].head()
    def commitTwo(docs: DataFrame, k: Int): File = {
      val dir = new File(r.work, s"doctored-$k").getPath
      val even = pmod(xxhash64($"url"), lit(2)) === 0
      IcebergishIO.commit(docs.filter(even).as[htmlspark.pipeline.ExtractedDoc], dir)
      IcebergishIO.commit(docs.filter(!even).as[htmlspark.pipeline.ExtractedDoc], dir)
      new File(dir)
    }
    val parsed = ParseJob.run(src).toDF()
    val wrong = parsed.withColumn("text_extracted",
      when($"url" === victim, lit("not the text")).otherwise($"text_extracted"))
    assert(w.check(session, commitTwo(wrong, 1))._2 == 1)
    assert(w.check(session, commitTwo(parsed.filter($"url" =!= victim), 2))._2 == 1)
  }
}
