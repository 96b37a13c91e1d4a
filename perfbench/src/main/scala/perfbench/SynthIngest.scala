package perfbench

import htmlspark.pipeline.{IcebergishIO, Page, PagesGen, ParseJob}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import java.io.File
import java.sql.Timestamp

/** synth-ingest: the north-rule ingest loop over synthetic pages.
  *
  * Input: PagesGen.page(i) for i in [start, start + Docs), start derived
  * from the seed, plus the same 1% next-day re-crawls PagesGen.pages makes
  * (every 100th url again, one day later, with content index i ^ 0xbeef).
  * A pass scans the table, runs ParseJob.run (parse-first) and commits in
  * two snapshots: the urls with an even hash, then resumeFilter and the
  * rest. Docs average 2.6 KB, so per-doc costs dominate (encoders, tree
  * allocation, the dedup exchange, the commit write). */
final class SynthIngest(r0: Run, val Docs: Long = 20000L) extends IngestWorkload[File](r0) {
  private val nDups = Docs / 100
  val start: Long = 1000000L * math.floorMod(r.opts.seed, 1000000L)

  def docsPerPass: Long = Docs
  // measured on 4 vCPUs: the JIT compiles ~9 s of CPU in the first pass
  // and settles near 2 s per pass only after about five
  val warmupPasses = 5
  def dedupDropped: Long = nDups

  def checkPins(): Unit = {
    Pins.require("PagesGen.GeneratorVersion", Pins.GeneratorVersion.toString,
      PagesGen.GeneratorVersion.toString)
    Pins.require("synthetic page bytes", Pins.SynthProbeSha256, Pins.synthProbe())
  }

  private def isRecrawled(i: Long): Boolean = (i - start) % 100 == 0 && (i - start) / 100 < nDups

  def materialize(spark: SparkSession, dir: File): Unit = {
    import spark.implicits._
    val s = start
    val base = spark.range(s, s + Docs, 1, r.nproc * 4).map(i => PagesGen.page(i))
    val dups = spark.range(0, nDups, 1, r.nproc).map(k => SynthIngest.recrawl(s + k * 100))
    base.union(dups).write.parquet(dir.getPath)
  }

  def kernelSample: IndexedSeq[Page] =
    (start until start + 2000).flatMap(i => if (isRecrawled(i)) Seq(PagesGen.page(i), SynthIngest.recrawl(i)) else Seq(PagesGen.page(i)))

  def pass(spark: SparkSession, src: Dataset[Page], k: Int): File = {
    import spark.implicits._
    val dir = new File(r.work, s"commit-$k")
    r.deleteRecursively(dir)
    val even = src.filter(pmod(xxhash64($"url"), lit(2)) === 0)
    // ParseJob.run only builds the plan; its execution is inside commit
    def run(pages: Dataset[Page]) = r.tracer.span("ParseJob.run")(ParseJob.run(pages))
    r.tracer.span("IcebergishIO.commit") { IcebergishIO.commit(run(even), dir.getPath) }
    val rest = r.tracer.span("IcebergishIO.resumeFilter") { IcebergishIO.resumeFilter(src, dir.getPath) }
    r.tracer.span("IcebergishIO.commit") { IcebergishIO.commit(run(rest), dir.getPath) }
    dir
  }

  /** url -> md5 of PagesGen.fullExpectedText of the survivor's content
    * index: derived from the template, with no parser involved. */
  private lazy val expected: Map[String, String] = (start until start + Docs).map { i =>
    val ci = if (isRecrawled(i)) i ^ 0xbeef else i
    PagesGen.page(i).url -> PagesGen.fullExpectedText(ci).map(Pins.md5).getOrElse("no template text")
  }.toMap

  /** Every url committed exactly once, with the expected text. The check
    * runs in this JVM over the collected (url, md5) rows, so it adds no
    * new query shapes (and no JIT work) next to the timed passes. */
  def check(spark: SparkSession, dir: File): (Long, Long, String) = {
    import spark.implicits._
    val committed = IcebergishIO.readCommitted(spark, dir.getPath)
      .getOrElse(throw new IllegalStateException("nothing committed"))
      .select($"url", md5($"text_extracted".cast("binary")), $"parse_ok")
      .as[(String, String, Boolean)].collect()
    val snaps = IcebergishIO.lastSnapshotId(dir.getPath)
    r.deleteRecursively(dir)
    val (checked, bad, detail) = Checks.textsOnce(committed, expected)
    if (snaps != 2) (checked, checked, s"expected 2 snapshots, found $snaps")
    else (checked, bad, detail)
  }

  override def tracedExtras(spark: SparkSession, src: Dataset[Page]): Unit = commitProbe(spark, src)
}

object SynthIngest {
  /** The next-day re-crawl of url i, as PagesGen.pages builds it. */
  def recrawl(i: Long): Page = {
    val p = PagesGen.page(i)
    p.copy(warc_ts = new Timestamp(p.warc_ts.getTime + 86400000L),
      html = PagesGen.renderHtml(i ^ 0xbeef))
  }
}
