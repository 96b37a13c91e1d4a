package perfbench

import htmlspark.pipeline.{IcebergishIO, Page}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import java.io.File

/** The shared shape of the two parse workloads (synth-ingest, real-docs):
  * pin the inputs, set up several times (session + input table), warm up,
  * then time whole passes over the input table for the run's seconds.
  * A traced run adds the Spark stage ledger, the single-core leg, the
  * kernel layers and the tracing overhead. `Out` is what a pass hands to
  * its check. */
abstract class IngestWorkload[Out](val r: Run) {
  /** Fails with InputDrift when a pinned input moved. */
  def checkPins(): Unit
  /** Writes the run's input table to `dir` (program code only). */
  def materialize(spark: SparkSession, dir: File): Unit
  /** One timed pass over the input table. */
  def pass(spark: SparkSession, src: Dataset[Page], k: Int): Out
  /** Untimed output check: (operations checked, failed, detail). */
  def check(spark: SparkSession, out: Out): (Long, Long, String)
  /** Documents per pass (the ledger's operations for a pass that throws). */
  def docsPerPass: Long
  /** The workload's documents for the single-thread kernel layers. */
  def kernelSample: IndexedSeq[Page]
  /** Docs the latest-crawl dedup drops per pass. */
  def dedupDropped: Long
  /** Per-layer figures only this workload can measure (traced run). */
  def tracedExtras(spark: SparkSession, src: Dataset[Page]): Unit = ()

  val setupReps = 3
  protected var spark: SparkSession = _
  protected val table = new File(r.work, "pages")

  protected def src(s: SparkSession): Dataset[Page] = {
    import s.implicits._
    s.read.parquet(table.getPath).as[Page]
  }

  /** Whole unchecked passes run before timing starts (JIT warmup). */
  def warmupPasses: Int

  /** JIT warmup before any timing: the kernel off-Spark (as graft.Bench
    * warms it), then whole passes with their checks, neither timed nor
    * counted (the checks' compilation would otherwise land in timed passes). */
  private def warmup(passes: Int): Unit = {
    val sample = kernelSample
    val engine = new htmlspark.tree.HtmlParser.Engine
    (0 until 3).foreach(_ => sample.foreach(p => htmlspark.pipeline.ParseJob.parsePage(p, engine)))
    (0 until passes).foreach { k =>
      val s = spark
      check(s, pass(s, src(s), -1 - k))
    }
  }

  /** Per timed pass: label, wall s, process CPU s, host steal share, and
    * the JIT, GC and Spark codegen seconds spent during it. */
  val passLog = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()

  private def timedPass(label: String, k: Int): Option[Double] = {
    val s = spark
    val c0 = Machine.processCpuS(); val st0 = Machine.cpuJiffies(); val j0 = Machine.compileGc()
    r.ledger.attempt(label, docsPerPass) {
      r.tracer.span("pass") { r.stages.scoped(s, s"$label-$k") { pass(s, src(s), k) } }
    }(out => check(s, out)).map { case (secs, _) =>
      val j1 = Machine.compileGc()
      passLog += Map("label" -> label, "wall_s" -> secs, "cpu_s" -> (Machine.processCpuS() - c0),
        "steal" -> Machine.stealShare(st0, Machine.cpuJiffies()), "jit_s" -> (j1._1 - j0._1),
        "gc_s" -> (j1._2 - j0._2), "codegen_s" -> (j1._3 - j0._3))
      secs
    }
  }

  def run(): Unit = {
    checkPins()
    val setups = (0 until setupReps).map { k =>
      val t0 = System.nanoTime()
      if (spark != null) Sessions.stop(spark)
      spark = Sessions.build(r.nproc, r.work)
      r.deleteRecursively(table)
      materialize(spark, table)
      (System.nanoTime() - t0) / 1e9
    }
    r.extras("setup_samples_s") = setups
    spark.sparkContext.addSparkListener(r.stages)
    val input = src(spark).agg(count(lit(1)), sum(octet_length(col("html")).cast("long")),
      sum(when(octet_length(col("html")) > 65536, 1L).otherwise(0L)),
      bit_xor(xxhash64(col("url"), col("html")))).collect()(0)
    val (rows, bytes, salted) = (input.getLong(0), input.getLong(1), input.getLong(2))
    val docs = docsPerPass
    r.extras("input") = Map("rows" -> rows, "docs" -> docs, "bytes" -> bytes, "salted_docs" -> salted,
      "digest_xxhash64_xor" -> input.getLong(3))
    r.say(s"input rows=$rows docs=$docs bytes=$bytes salted=$salted digest=${input.getLong(3)}")

    warmup(warmupPasses)
    if (!r.opts.trace) {
      val times = r.repeatFor(r.opts.seconds, 3)(k => timedPass("pass", k + 1))
      r.extras("pass_samples_s") = times
      r.metric("setup_s", Stats.median(setups), "s")
      if (times.nonEmpty) {
        val med = Stats.median(times)
        r.figure("pass_s", med, "s")
        r.metric("docs_per_s", docs / med, "1/s")
        r.metric("html_mb_per_s", bytes / 1e6 / med, "MB/s")
      }
    } else traced(docs, bytes, salted)
    r.extras("passes") = passLog.toSeq
    if (spark != null) Sessions.stop(spark)
  }

  /** The traced run: untraced and traced passes alternate (the difference
    * of their medians is the tracing overhead); then the single-core leg,
    * the commit probes, and the kernel layers with no Spark running. */
  private def traced(docs: Long, bytes: Long, salted: Long): Unit = {
    val plain = scala.collection.mutable.ArrayBuffer[Double]()
    val tracedT = scala.collection.mutable.ArrayBuffer[Double]()
    r.repeatFor(r.opts.seconds, 6) { k =>
      val on = k % 2 == 1
      r.stages.enabled = on
      val t = timedPass(if (on) "traced-pass" else "pass", k + 1)
      t.foreach(x => if (on) tracedT += x else plain += x)
      t
    }
    r.stages.enabled = false
    val nDocsPerS = docs / Stats.median(plain.toSeq)
    r.metric("trace.overhead_frac", Stats.median(tracedT.toSeq) / Stats.median(plain.toSeq) - 1, "ratio")
    r.figure("docs_per_s", nDocsPerS, "1/s")
    r.figure("html_mb_per_s", bytes / 1e6 / Stats.median(plain.toSeq), "MB/s")

    // Spark ledger of the traced passes: pass-level sums, and the skew of
    // the parse stage (the stage with the most task run time in the pass).
    val passes = (1 to 1000).map(k => r.stages.stagesOf(s"traced-pass-$k")).filter(_.nonEmpty)
    def med(f: Seq[StageStats] => Double): Double = Stats.median(passes.map(f))
    r.metric("parsejob.stage_cpu_s", med(ss => StageSums.of(ss).cpuS), "s")
    r.metric("parsejob.gc_s", med(ss => StageSums.of(ss).gcS), "s")
    r.metric("parsejob.shuffle_write_mb", med(ss => StageSums.of(ss).shuffleWriteMb), "MB")
    r.metric("parsejob.shuffle_read_mb", med(ss => StageSums.of(ss).shuffleReadMb), "MB")
    r.metric("parsejob.spill_mb", med(ss => StageSums.of(ss).spillMb), "MB")
    r.metric("parsejob.task_skew", med(ss => ss.maxBy(_.runMs).taskSkew), "ratio")
    r.metric("parsejob.salted_docs", salted.toDouble, "count")
    r.metric("parsejob.dedup_dropped", dedupDropped.toDouble, "count")

    r.stages.enabled = true
    tracedExtras(spark, src(spark))
    r.stages.enabled = false

    // The same job at local[1], in the same JVM (warm JIT), after a warmup pass.
    Sessions.stop(spark)
    spark = Sessions.build(1, r.work)
    warmup(1) // the JIT is already warm from the local[nproc] passes
    val one = r.repeatFor(r.opts.seconds / 2.0, 2)(k => timedPass("pass-1core", k + 1))
    val oneDocsPerS = docs / Stats.median(one)
    r.metric("parsejob.docs_per_s_1core", oneDocsPerS, "1/s")
    r.metric("parsejob.scaling_eff_1to4", nDocsPerS / (r.nproc * oneDocsPerS), "ratio")
    Sessions.stop(spark)
    spark = null

    val sample = kernelSample
    val k = r.tracer.span("kernel.layers") { Kernel.layers(sample, 0.4, r.tracer) }
    Kernel.report(r, k)
    r.metric("parsejob.overhead_frac", 1 - k.kernelNs / (1e9 / oneDocsPerS), "ratio")
    val t1 = Kernel.threadRate(sample, 1, 1.5)
    val tn = Kernel.threadRate(sample, r.nproc, 1.5)
    r.figure("kernel_docs_per_s_1thread", t1, "1/s")
    r.figure(s"kernel_docs_per_s_${r.nproc}threads", tn, "1/s")
    r.metric("parsejob.kernel_scaling_eff_1to4", tn / (r.nproc * t1), "ratio")
  }

  /** Commit probes on already-parsed rows, so commit cost is separated
    * from parse cost: two commits (half the urls by hash, then the rest),
    * and the resume anti-join executed to a count. */
  protected def commitProbe(spark: SparkSession, src: Dataset[Page]): Unit = {
    import spark.implicits._
    val parsed = htmlspark.pipeline.ParseJob.run(src)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      parsed.count()
      val samples = (0 until 3).map { k =>
        val dir = new File(r.work, s"probe-$k").getPath
        val half = pmod(xxhash64($"url"), lit(2)) === 0
        val t0 = System.nanoTime()
        r.tracer.span("IcebergishIO.commit") { IcebergishIO.commit(parsed.filter(half), dir) }
        val t1 = System.nanoTime()
        r.tracer.span("IcebergishIO.resumeFilter")(IcebergishIO.resumeFilter(src, dir).count())
        val t2 = System.nanoTime()
        r.tracer.span("IcebergishIO.commit") { IcebergishIO.commit(parsed.filter(!half), dir) }
        val t3 = System.nanoTime()
        val files = new File(dir, "data").listFiles().flatMap(_.listFiles())
          .filter(_.getName.endsWith(".parquet"))
        ((t1 - t0 + t3 - t2) / 1e9, (t2 - t1) / 1e9, files.map(_.length).sum / 1e6,
          files.length.toDouble)
      }
      r.metric("icebergishio.commit_s", Stats.median(samples.map(_._1)), "s")
      r.metric("icebergishio.resume_filter_s", Stats.median(samples.map(_._2)), "s")
      r.metric("icebergishio.written_mb", Stats.median(samples.map(_._3)), "MB")
      r.metric("icebergishio.files", Stats.median(samples.map(_._4)), "count")
    } finally parsed.unpersist(false)
  }
}
