package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The one session shape every workload uses: graft.Bench's (local[cores],
  * shuffle partitions = cores, AQE on, GraftExtensions, UI off), with all
  * scratch space under the checkout's build directory. */
object Sessions {
  def build(cores: Int, work: java.io.File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getPath)
      .config("spark.sql.extensions", "htmlspark.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(s: SparkSession): Unit = {
    htmlspark.pipeline.TextOps.clearPlanCache(s)
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

/** Per-stage counters of one scope (a measured pass or one query). */
final class StageStats(val stageId: Int) {
  var name = ""
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWriteB = 0L; var shuffleReadB = 0L; var spillB = 0L
  var completed = false
  val taskMs = mutable.ArrayBuffer[Long]()
  def taskSkew: Double =
    if (taskMs.isEmpty) 1.0
    else {
      val med = Stats.median(taskMs.map(_.toDouble).toSeq)
      taskMs.max / math.max(med, 1.0)
    }
}

/** Spark's own per-stage counters, grouped by the job group the benchmark
  * sets around each measured scope. Registered from the benchmark's files;
  * while disabled it ignores every event, so an untraced pass pays only the
  * listener-bus dispatch. */
final class StageLedger extends SparkListener {
  @volatile var enabled = false
  private val stageScope = mutable.Map[Int, String]()
  private val stages = mutable.LinkedHashMap[Int, StageStats]()
  private val endedJobs = mutable.Set[Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) synchronized {
    val scope = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("?")
    e.stageIds.foreach(s => stageScope.getOrElseUpdate(s, scope))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) synchronized {
    endedJobs += e.jobId
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) synchronized {
    if (e.taskInfo != null && e.taskInfo.successful)
      stages.getOrElseUpdate(e.stageId, new StageStats(e.stageId)).taskMs += e.taskInfo.duration
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) synchronized {
    val i = e.stageInfo
    val s2 = stages.getOrElseUpdate(i.stageId, new StageStats(i.stageId))
    s2.name = i.name
    val m = i.taskMetrics
    if (m != null) {
      s2.runMs += m.executorRunTime; s2.cpuNs += m.executorCpuTime; s2.gcMs += m.jvmGCTime
      s2.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      s2.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      s2.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    s2.completed = true
  }

  /** Runs `body` as job group `scope`; after it returns, waits until the
    * asynchronous listener bus has delivered the end of every job the scope
    * started, so the scope's counters are complete when read. */
  def scoped[T](spark: SparkSession, scope: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(scope, scope, interruptOnCancel = false)
    try body
    finally {
      sc.clearJobGroup()
      if (enabled) {
        val ids = sc.statusTracker.getJobIdsForGroup(scope).toSet
        val deadline = System.nanoTime() + 20000000000L
        while (synchronized(!ids.subsetOf(endedJobs)) && System.nanoTime() < deadline)
          Thread.sleep(2)
      }
    }
  }

  def stagesOf(scope: String): Seq[StageStats] = synchronized {
    stages.values.filter(s => stageScope.get(s.stageId).contains(scope) && s.completed).toSeq
  }
  def stagesWithPrefix(prefix: String): Seq[StageStats] = synchronized {
    stages.values.filter(s => stageScope.get(s.stageId).exists(_.startsWith(prefix)) && s.completed).toSeq
  }
  def toJson: Seq[Map[String, Any]] = synchronized {
    stages.values.filter(_.completed).toSeq.map(s => Map(
      "stage" -> s.stageId, "scope" -> stageScope.getOrElse(s.stageId, "?"),
      "name" -> s.name, "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs,
      "shuffle_write_b" -> s.shuffleWriteB, "shuffle_read_b" -> s.shuffleReadB,
      "spill_b" -> s.spillB, "tasks" -> s.taskMs.length,
      "task_max_ms" -> (if (s.taskMs.isEmpty) 0L else s.taskMs.max),
      "task_skew" -> s.taskSkew))
  }
}

/** Sums over a set of stages, in the units the per-layer metrics use. */
final case class StageSums(cpuS: Double, gcS: Double, shuffleWriteMb: Double,
                           shuffleReadMb: Double, spillMb: Double, runS: Double)
object StageSums {
  def of(ss: Seq[StageStats]): StageSums = StageSums(
    ss.map(_.cpuNs).sum / 1e9, ss.map(_.gcMs).sum / 1e3,
    ss.map(_.shuffleWriteB).sum / 1e6, ss.map(_.shuffleReadB).sum / 1e6,
    ss.map(_.spillB).sum / 1e6, ss.map(_.runMs).sum / 1e3)
}
