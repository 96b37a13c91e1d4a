package perfbench

import graft.SparkEntry
import htmlspark.pipeline.{PagesGen, PagesQueries, ParseJob}
import htmlspark.tree.HtmlParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.io.File

/** query-suite (a ledger run, not one of BENCHMARK.json's workloads; see
  * README): the 45 SparkEntry queries over the fixed sf0.1 tables, with
  * graft.Bench's session shape, warmup, sorted order and count() action.
  * This is graft.Bench's suite total: relational, sketch and ANN operators,
  * the session-scoped subplan cache, codegen and p03's commit; parsing is a
  * minor share. The tables are fixed (seed 42), so the benchmark seed does
  * not change them. One run is one suite pass in a fresh JVM, like Bench.
  * Set-up (repeated) is session bring-up plus the table reads that open
  * Bench's warmup; the rest of that warmup runs once, untimed. */
final class QuerySuite(r: Run) {
  private lazy val dir = Pins.queryTablesDir
  val setupReps = 3

  def checkPins(): Unit = {
    val d = new File(dir)
    if (!d.isDirectory) throw new InputDrift(s"$dir is missing")
    Pins.QueryTablesSha256.toSeq.sortBy(_._1).foreach { case (t, sha) =>
      Pins.require(s"query table $t", sha, Pins.sha256File(new File(d, t)))
    }
    val found = d.list().filter(_.endsWith(".parquet")).toSet
    Pins.require("query table set", Pins.QueryTablesSha256.keySet.toSeq.sorted.mkString(","),
      found.toSeq.sorted.mkString(","))
  }

  def run(): Unit = {
    checkPins()
    var spark: SparkSession = null
    val setups = (0 until setupReps).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) Sessions.stop(spark)
      spark = Sessions.build(r.nproc, r.work)
      QuerySuite.readFooters(spark, dir)
      (System.nanoTime() - t0) / 1e9
    }
    r.extras("setup_samples_s") = setups
    QuerySuite.warmup(spark, dir)
    spark.sparkContext.addSparkListener(r.stages)
    r.stages.enabled = r.opts.trace

    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    val codegen0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    val times = QuerySuite.runSuite(spark, dir, queries, Pins.QueryRows, r)
    val codegenS = (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime - codegen0) / 1e9
    r.stages.enabled = false
    r.extras("query_samples_s") = times.toMap

    val suite = times.map(_._2)
    if (!r.opts.trace) {
      r.metric("setup_s", Stats.median(setups), "s")
      r.metric("suite_s", suite.sum, "s")
      r.metric("query_p50_s", Stats.median(suite), "s")
      r.metric("query_p75_s", Stats.p75(suite), "s")
      times.find(_._1 == "p05_throughput").foreach { case (_, p05s) =>
        r.metric("docs_per_s", Pins.P05Docs / p05s, "1/s")
        r.metric("html_mb_per_s", Pins.P05Bytes / 1e6 / p05s, "MB/s")
      }
      Sessions.stop(spark)
    } else {
      times.foreach { case (q, s) => r.metric(s"sparkentry.${q}_s", s, "s") }
      r.metric("sparkentry.query_p50_s", Stats.median(suite), "s")
      r.metric("sparkentry.query_p75_s", Stats.p75(suite), "s")
      r.metric("sparkentry.codegen_compile_s", codegenS, "s")
      val all = StageSums.of(r.stages.stagesWithPrefix("q:"))
      r.metric("sparkentry.gc_s", all.gcS, "s")
      r.metric("sparkentry.shuffle_write_mb", all.shuffleWriteMb, "MB")
      r.say(f"ledger suite: stage run ${all.runS}%.3f s, cpu ${all.cpuS}%.3f s, gc ${all.gcS}%.3f s, " +
        f"codegen compile $codegenS%.3f s (${100 * codegenS / math.max(suite.sum, 1e-9)}%.1f%% of suite wall)")
      // p03's commit: the snapshot table it leaves under the JVM's temp dir
      val resumeDirs = Option(new File(System.getProperty("java.io.tmpdir")).listFiles())
        .getOrElse(Array.empty[File]).filter(_.getName.startsWith("graft_resume_"))
      val written = resumeDirs.flatMap(d => Option(new File(d, "data").listFiles()).getOrElse(Array.empty[File]))
        .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
      r.metric("icebergishio.written_mb", written.map(_.length).sum / 1e6, "MB")
      r.metric("icebergishio.files", written.length.toDouble, "count")
      resumeDirs.foreach(r.deleteRecursively)

      // Tracing overhead on p05 (the suite's throughput face): untraced and
      // traced runs of the query alternate.
      val p05 = SparkEntry.queries("p05_throughput")
      val (plain, traced) = (0 until 6).map { k =>
        r.stages.enabled = k % 2 == 1
        val t0 = System.nanoTime()
        r.stages.scoped(spark, s"overhead-$k")(p05(spark, dir).count())
        (k % 2 == 1, (System.nanoTime() - t0) / 1e9)
      }.partition(!_._1)
      r.stages.enabled = false
      r.metric("trace.overhead_frac",
        Stats.median(traced.map(_._2)) / Stats.median(plain.map(_._2)) - 1, "ratio")

      // kernel layers on the suite's own parse corpus (the p-queries' pages)
      val n = PagesQueries.sampleN(spark, dir)
      Sessions.stop(spark)
      Kernel.report(r, Kernel.layers((0L until math.min(n, 2000L)).map(PagesGen.page), 0.4, r.tracer))
    }
  }
}

object QuerySuite {
  /** Runs each query once in the given order with count() as the action.
    * A query that throws or returns a row count other than its pinned one
    * is counted as failed and gets no time. Returns (query, seconds) for
    * each query that passed. */
  def runSuite(spark: SparkSession, dir: String,
               queries: Seq[(String, (SparkSession, String) => DataFrame)],
               pinned: Map[String, Long], r: Run): Seq[(String, Double)] =
    queries.flatMap { case (name, fn) =>
      r.ledger.attempt(name, 1) {
        r.tracer.span(s"SparkEntry.queries($name)") {
          r.stages.scoped(spark, s"q:$name")(fn(spark, dir).count())
        }
      } { rows =>
        pinned.get(name) match {
          case Some(n) if n == rows => (1L, 0L, "")
          case Some(n) => (1L, 1L, s"$rows rows, pinned $n")
          case None => (1L, 1L, "no pinned row count")
        }
      }.map { case (secs, _) => name -> secs }
    }

  /** The first step of graft.Bench's warmup: a small action over every
    * table the queries scan (parquet footers, scan and shuffle set-up). */
  def readFooters(spark: SparkSession, sfDir: String): Unit =
    Seq("lineitem", "orders", "customer", "nation", "region", "events", "documents",
      "embeddings").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").limit(1000).groupBy(lit(1)).count().collect()
    }

  /** The rest of graft.Bench's warmup, step for step: the parse engine's
    * JIT off-Spark and through the typed map path, and the native cosine
    * expression's codegen. */
  def warmup(spark: SparkSession, sfDir: String): Unit = {
    import spark.implicits._
    val engine = new HtmlParser.Engine
    var i = 0L
    while (i < 3000) { ParseJob.parsePage(PagesGen.page(i), engine); i += 1 }
    ParseJob.parseAll(PagesGen.pages(spark, 2000)).filter($"parse_ok").count()
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(64)
    e.crossJoin(e.select(col("embedding").as("q")).limit(1))
      .select(call_function("cosine_sim", col("q"), col("embedding"))).count()
  }
}
