package graft
import org.apache.spark.sql.SparkSession

/** Round-6 measurement harness (guide §1.4): NOT part of the frozen driver
  * contract. Times each named query with the SAME session shape as Bench
  * (same master/partitions/extensions, same untimed warmup) but:
  *   - runs each query `reps` times, printing every rep — separates
  *     cold (codegen + first-touch subplan-cache builds) from warm compute;
  *   - `MODE=noop` times a noop-sink write (computes EVERY column) instead
  *     of the bench's count() action, isolating full-column compute;
  *   - `MODE=fresh` clears the PlanCache between reps so every rep pays the
  *     cache build (the honest per-query cost when run standalone).
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 [MODE=count|noop|fresh]
  *        [REPS=n] runMain graft.BenchExtra [query ...]   (default: all)
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val mode = sys.env.getOrElse("MODE", "count")
    val reps = sys.env.getOrElse("REPS", "3").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/graft-spark"))
      .config("spark.sql.extensions", "htmlspark.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    warmup(spark, sfDir)

    val names =
      if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      // A rep whose query throws prints FAIL, never its elapsed time.
      val times = (1 to reps).map { _ =>
        if (mode == "fresh") htmlspark.pipeline.TextOps.clearPlanCache(spark)
        val t0 = System.nanoTime()
        try {
          val df = SparkEntry.queries(name)(spark, sfDir)
          if (mode == "noop")
            df.write.format("noop").mode("overwrite").save()
          else df.count()
          f"${(System.nanoTime() - t0) / 1e9}%.3f"
        } catch { case e: Throwable =>
          System.err.println(s"$name FAILED: $e")
          "FAIL"
        }
      }
      println(s"XTIMING $name mode=$mode " + times.mkString(" "))
    }
    htmlspark.pipeline.TextOps.clearPlanCache(spark)
    spark.stop()
  }

  /** Same one-time-cost absorption as Bench.warmup (kept in sync by hand —
    * Bench is frozen and its warmup is private). */
  private def warmup(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tables = Seq("lineitem", "orders", "customer", "nation", "region",
      "events", "documents", "embeddings")
    tables.foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet")
        .limit(1000).groupBy(lit(1)).count().collect()
      catch { case _: Throwable => () }
    }
    val engine = new htmlspark.tree.HtmlParser.Engine
    var i = 0L
    while (i < 3000) {
      val p = htmlspark.pipeline.PagesGen.page(i)
      htmlspark.pipeline.ParseJob.parsePage(p, engine)
      i += 1
    }
    try {
      htmlspark.pipeline.ParseJob
        .parseAll(htmlspark.pipeline.PagesGen.pages(spark, 2000))
        .filter($"parse_ok").count()
    } catch { case _: Throwable => () }
    try {
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(64)
      e.crossJoin(e.select(col("embedding").as("q")).limit(1))
        .select(call_function("cosine_sim", col("q"), col("embedding")))
        .count()
    } catch { case _: Throwable => () }
  }
}
