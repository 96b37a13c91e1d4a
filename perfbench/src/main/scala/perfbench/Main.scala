package perfbench

import java.io.File
import scala.collection.mutable

/** Entry point of one benchmark run:
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --root <checkout>
  * Prints a human-readable report, then one line `PERFBENCH_RESULT {...}`
  * holding the metrics and the failure counts; run.py turns that into the
  * benchmark's result line. The result file holds everything else. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val opts = Opts(a("workload"), a("seed").toLong, a("seconds").toInt,
      a("trace") == "1", new File(a("root")).getAbsoluteFile)
    val run = new Run(opts)
    run.say(s"perfbench ${opts.workload} seed=${opts.seed} seconds=${opts.seconds} trace=${if (opts.trace) 1 else 0}")
    run.say("shape " + Json(run.shape))
    try opts.workload match {
      case "synth-ingest" => new SynthIngest(run).run()
      case "real-docs" => new RealDocs(run).run()
      case "query-suite" => new QuerySuite(run).run()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case e: InputDrift =>
        System.err.println(s"perfbench: input drift, not running: ${e.getMessage}")
        System.exit(3)
    }
    run.finish()
    System.exit(0)
  }
}

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, root: File)

/** State of one run: where it may write, what it measured, what failed. */
final class Run(val opts: Opts) {
  val nproc: Int = Runtime.getRuntime.availableProcessors()
  val build = new File(opts.root, ".bench_build")
  val work = new File(build, s"work/${opts.workload}")
  deleteRecursively(work)
  work.mkdirs()
  val report = mutable.ArrayBuffer[String]()
  def say(s: String): Unit = { println(s); report += s }
  val ledger = new Ledger(say)
  val tracer = new Tracer(opts.trace)
  val stages = new StageLedger
  val metrics = mutable.LinkedHashMap[String, Metric]()
  /** Extra figures for the result file (samples, digests, ledgers). */
  val extras = mutable.LinkedHashMap[String, Any]()

  def metric(name: String, value: Double, unit: String): Unit = {
    metrics(name) = Metric(name, value, unit)
    say(f"metric $name%-40s $value%.6g $unit")
  }
  /** A named figure that is not one of this run's result metrics (it goes
    * to the report and the result file). */
  def figure(name: String, value: Double, unit: String): Unit = {
    extras(s"figure:$name") = Map("value" -> value, "unit" -> unit)
    say(f"figure $name%-40s $value%.6g $unit")
  }

  def shape: Map[String, Any] = {
    val mem = scala.io.Source.fromFile("/proc/meminfo").getLines()
      .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    import scala.jdk.CollectionConverters._
    Map(
      "nproc" -> nproc,
      "mem_total_kb" -> mem,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "jvm" -> System.getProperty("java.vm.version"),
      "jvm_flags" -> rt.getInputArguments.asScala.filterNot(_.startsWith("--add-opens")).toSeq,
      "spark" -> org.apache.spark.SPARK_VERSION,
      "commit" -> System.getProperty("perfbench.commit", "unknown"))
  }

  def finish(): Unit = {
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> opts.workload, "seed" -> opts.seed, "seconds" -> opts.seconds,
      "trace" -> opts.trace, "shape" -> shape,
      "attempted" -> ledger.attempted, "failed" -> ledger.failed,
      "fail_frac" -> (if (ledger.attempted == 0) 1.0 else ledger.failed.toDouble / ledger.attempted),
      "failures" -> ledger.failures.toSeq,
      "metrics" -> metrics.values.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap)
    result ++= extras
    if (opts.trace) {
      val self = tracer.selfSeconds
      self.keys.toSeq.sorted.foreach { n =>
        say(f"span $n%-40s n=${tracer.count(n)}%-5d total ${tracer.totalSeconds(n)}%.4f s self ${self(n)}%.4f s")
      }
      result("spans") = tracer.toJson
      result("stages") = stages.toJson
    }
    result("report") = report.toSeq
    val dir = new File(build, "results")
    dir.mkdirs()
    val f = new File(dir, s"${opts.workload}-seed${opts.seed}-trace${if (opts.trace) 1 else 0}.json")
    java.nio.file.Files.write(f.toPath, Json(result).getBytes("UTF-8"))
    say(f"figure fail_frac${" " * 31} ${result("fail_frac")} ratio (${ledger.failed}/${ledger.attempted})")
    println("PERFBENCH_RESULT " + Json(Map(
      "correct" -> (ledger.failed == 0 && ledger.attempted > 0),
      "attempted" -> ledger.attempted, "failed" -> ledger.failed,
      "result_file" -> f.getPath,
      "metrics" -> metrics.values.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap)))
    deleteRecursively(work)
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Runs `body` repeatedly until `seconds` have passed and at least
    * `minReps` ran; returns the samples of the repetitions that passed. */
  def repeatFor(seconds: Double, minReps: Int)(body: Int => Option[Double]): Seq[Double] = {
    val t0 = System.nanoTime()
    val out = mutable.ArrayBuffer[Double]()
    var k = 0
    while (k < minReps || (System.nanoTime() - t0) / 1e9 < seconds) {
      body(k).foreach(out += _)
      k += 1
    }
    out.toSeq
  }
}

/** Host-level readings: process CPU time, and the share of CPU time the
  * hypervisor stole (from /proc/stat), which explains a slow run. */
object Machine {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuS(): Double = os.getProcessCpuTime / 1e9
  /** (steal, total) jiffies over all CPUs. */
  def cpuJiffies(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } finally src.close()
  }
  /** Cumulative (JIT compile, GC, Spark codegen compile) seconds. */
  def compileGc(): (Double, Double, Double) = {
    import scala.jdk.CollectionConverters._
    val mx = java.lang.management.ManagementFactory.getCompilationMXBean
    (mx.getTotalCompilationTime / 1e3,
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum / 1e3,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e9)
  }
  def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 == a._2) 0.0 else (b._1 - a._1).toDouble / (b._2 - a._2)
}
