package perfbench

import htmlspark.pipeline.{Page, ParseJob}
import htmlspark.tree.HtmlParser
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import java.io.File
import java.sql.Timestamp

/** real-docs: the on-box HTML documentation pages, replicated.
  *
  * Each of Copies copies of every pinned page gets a distinct url and a
  * byte-distinct trailing comment, so no work is shared between copies and
  * the extracted text does not change. A pass scans the table, runs
  * ParseJob.run and collects (url, md5 of the text) to this JVM; it is
  * read-only. Docs average ~90 KB with dozens over 100 KB, so the cost is
  * kernel work per byte on real markup plus the saltBySize skew shuffle;
  * per-doc overheads and the commit barely show. The seed picks the copies'
  * urls and comments. */
final class RealDocs(r0: Run) extends IngestWorkload[Array[(String, String, Boolean)]](r0) {
  import RealDocs.Copies
  private val root = new File(Pins.RealDocsRoot)
  private lazy val files: IndexedSeq[String] = Pins.realDocFiles(root)
  private lazy val originals: IndexedSeq[Array[Byte]] =
    files.map(f => java.nio.file.Files.readAllBytes(new File(root, f).toPath))

  def docsPerPass: Long = files.length.toLong * Copies
  // measured on 4 vCPUs: JIT work in a pass halves over about three passes
  val warmupPasses = 3
  def dedupDropped: Long = 0L

  def checkPins(): Unit = {
    if (!root.isDirectory) throw new InputDrift(s"${Pins.RealDocsRoot} is missing")
    Pins.require("real-docs page count", Pins.RealDocsCount.toString, files.length.toString)
    Pins.require("real-docs list (path, size, sha256)", Pins.RealDocsListSha256,
      Pins.realDocsList(root, files, originals))
  }

  /** Copy-major order (all pages' copy 0, then copy 1, ...), like repeated
    * crawls of the same site, so every scan partition holds the same mix of
    * page sizes whatever the seed. */
  def materialize(spark: SparkSession, dir: File): Unit = {
    import spark.implicits._
    val seed = r.opts.seed
    val n = files.length
    val bc = spark.sparkContext.broadcast((files, originals))
    spark.range(0, n.toLong * Copies, 1, r.nproc * 4).map { k =>
      val (fs, bytes) = bc.value
      val (c, d) = ((k / n).toInt, (k % n).toInt)
      RealDocs.copy(seed, d, c, fs(d), bytes(d))
    }.write.parquet(dir.getPath)
    bc.destroy()
  }

  def kernelSample: IndexedSeq[Page] = files.indices.map(d => RealDocs.copy(r.opts.seed, d, 0, files(d), originals(d)))

  /** md5 of the text direct ParseJob.parsePage extracts from each original. */
  private lazy val expected: IndexedSeq[String] = {
    val engine = new HtmlParser.Engine
    originals.map { b =>
      val d = ParseJob.parsePage(Page("x", new Timestamp(0L), b, "", ""), engine)
      if (d.parse_ok) Pins.md5(d.text_extracted) else "parse failed: " + d.error
    }
  }

  def pass(spark: SparkSession, src: Dataset[Page], k: Int): Array[(String, String, Boolean)] = {
    import spark.implicits._
    r.tracer.span("ParseJob.run")(ParseJob.run(src))
      .select($"url", md5($"text_extracted".cast("binary")), $"parse_ok")
      .as[(String, String, Boolean)].collect()
  }

  def check(spark: SparkSession, rows: Array[(String, String, Boolean)]): (Long, Long, String) =
    RealDocs.check(rows, expected, r.opts.seed, files)
}

object RealDocs {
  val Copies = 6

  def url(seed: Long, d: Int, c: Int, f: String): String = s"https://docs.example/$seed/$c/$d/$f"

  /** Copy c of page d: the original bytes plus a comment that makes every
    * copy byte-distinct. No whitespace precedes it, so in every insertion
    * mode it lands as a comment node and never as text. */
  def copy(seed: Long, d: Int, c: Int, f: String, html: Array[Byte]): Page = {
    val tail = s"<!--perfbench seed $seed copy $c-->".getBytes("US-ASCII")
    Page(url(seed, d, c, f), new Timestamp(1704067200000L + d * 1000L),
      html ++ tail, "", "")
  }

  /** Each copy's url once, its text equal to direct parsePage's text of
    * its original. Returns (operations checked, failed, detail). */
  def check(rows: Array[(String, String, Boolean)], expected: IndexedSeq[String],
            seed: Long, files: IndexedSeq[String]): (Long, Long, String) =
    Checks.textsOnce(rows, (for (d <- files.indices; c <- 0 until Copies)
      yield url(seed, d, c, files(d)) -> expected(d)).toMap)
}
