package perfbench

import java.io.File
import java.nio.file.{Files, LinkOption, Path}
import java.security.MessageDigest

/** Pinned inputs. A workload whose inputs no longer match these digests
  * fails before it runs, so a change to the page generator, the on-box
  * documents or the query tables cannot silently change what a workload
  * measures. Re-pinning is a change to the benchmark, made on its own. */
object Pins {
  /** PagesGen.GeneratorVersion the synthetic workloads were pinned at. */
  val GeneratorVersion = 5
  /** sha256 over renderHtml(i) for i in [0, SynthProbeDocs) followed by
    * renderHtml(i ^ 0xbeef) for every 100th i (the re-crawl content). */
  val SynthProbeDocs = 4000
  val SynthProbeSha256 = "717e32ceac81c73dfb9975c63fd885941fd892730024531ead3ac049c262f7cb"

  /** The real-docs corpus: regular files named *.html under RealDocsRoot,
    * found by a walk that does NOT follow symbolic links (symlinked
    * directories only repeat documents already reached another way). The
    * digest is sha256 over "relpath\tsize\tsha256(content)\n" lines in
    * path order. */
  val RealDocsRoot = "/usr/share/doc"
  val RealDocsCount = 199
  val RealDocsListSha256 = "1089fdaeaee623a684adfbad5da7e9dd612b1feea682730d9dfd5a72e1b1bec5"

  /** The sf0.1 query tables (fixed, generated with seed 42 by their owner;
    * the benchmark seed cannot change them), found where graft.Bench looks:
    * SPARK_GRAFT_SF_DIR. The sha256 of each parquet file. */
  def queryTablesDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
    throw new InputDrift("SPARK_GRAFT_SF_DIR is not set to the sf0.1 tables"))
  val QueryTablesSha256: Map[String, String] = Map(
    "customer.parquet" -> "d5de58d671fa7dbf8805a2fe4f0aee2b570201207c126f9b6069226b42bb1b2b",
    "documents.parquet" -> "d10b0da67e5aceb465e89365781dab5c69d3c62b64a8308398c6fd3fb09bcf82",
    "embeddings.parquet" -> "f5a6fe8c86ce87190f685e5d246b3e544155aa147a7f47af7d32bb6d8ebe0a95",
    "events.parquet" -> "1d18f4489b6c943be2ec8514f0e368199076bbd68d3daf19feef863960f2afe2",
    "lineitem.parquet" -> "e2be01994986260d75f144c52a2648eb294f82e5ba86f32e7a84230be01856d2",
    "nation.parquet" -> "590830f49a4bd515abef3c3e70cd5ec083b2977574ca9867317d5545413b3696",
    "orders.parquet" -> "128b7e8c223a3934181f7cbfc5460df52b322ea79ec980fd0e0064da08f8e3d3",
    "part.parquet" -> "082525b9eb5098fe7b841e66b5a3e156808d32230202bc11cbafd85eb2443ea1",
    "region.parquet" -> "ce0717013cdeb77e1b29870f1f191f46bd2f0c661a18364441ac008e0e5c00a0",
    "supplier.parquet" -> "ab1a9344d47e65970205ac2b723c4dc9ec1be0e776b809422e41edc7e9498d8a")

  /** p05_throughput's one output row at sf0.1 (survivor docs and their
    * html bytes), from the same dump: the query-suite's docs_per_s and
    * html_mb_per_s divide these by p05's time. */
  val P05Docs = 100000L
  val P05Bytes = 249014224L

  /** Row count of each SparkEntry query at sf0.1, from a Verify dump whose
    * 40 oracle-backed outputs all matched the DuckDB oracle (the other five
    * have no oracle; their counts come from the same dump). */
  val QueryRows: Map[String, Long] = Map(
    "p01_extract" -> 5000, "p02_parse_metrics" -> 5, "p03_resume" -> 4,
    "p04_lineage" -> 1, "p05_throughput" -> 1, "p06_media_meta" -> 7,
    "p07_frame_sample" -> 1, "p08_plain_text_md5" -> 2824, "p09_doc_meta" -> 5000,
    "p10_table_text_md5" -> 524, "p11_full_text_md5" -> 5000, "p12_media_sniff" -> 5000,
    "p13_token_profile" -> 5000, "p14_error_codes" -> 5000, "p15_top_error_codes" -> 11,
    "p16_parse_latency" -> 2, "p17_serialize_md5" -> 4543, "q01_agg_pushdown" -> 6,
    "q02_join_broadcast" -> 5, "q03_dedup_latest" -> 1500, "q04_resume_antijoin" -> 1214,
    "q05_topk_largest" -> 10, "q06_set_except" -> 1214, "q07_sessionize" -> 1500,
    "q08_daily_stats" -> 150, "q09_exact_dedup" -> 4992, "q10_token_count" -> 5000,
    "q11_lang_guess" -> 10, "q12_quality_score" -> 5000, "q13_fingerprint" -> 5000,
    "q14_embed_stats" -> 10, "q15_minhash_lsh" -> 76919, "q16_simhash" -> 5000,
    "q17_jaccard_cand" -> 256, "q18_cosine_topk" -> 40, "q19_ann_lsh" -> 40,
    "q20_lsh_bucket_stats" -> 1, "q21_ngram_jaccard" -> 2016, "q22_winnow_pairs" -> 199,
    "q23_winnow_stats" -> 1, "q24_ann_ivf" -> 40, "q25_embed_neardup" -> 25,
    "q26_dedup_decision" -> 5000, "q27_embed_bucket_stats" -> 1, "q28_quality_filter" -> 5000)

  def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString
  def sha256(b: Array[Byte]): String = hex(MessageDigest.getInstance("SHA-256").digest(b))
  def sha256File(f: File): String = sha256(Files.readAllBytes(f.toPath))
  /** Hex md5 of the UTF-8 bytes: what Spark's md5(text cast binary) gives. */
  def md5(s: String): String = hex(MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")))

  def synthProbe(): String = {
    val md = MessageDigest.getInstance("SHA-256")
    var i = 0L
    while (i < SynthProbeDocs) {
      md.update(htmlspark.pipeline.PagesGen.renderHtml(i))
      if (i % 100 == 0) md.update(htmlspark.pipeline.PagesGen.renderHtml(i ^ 0xbeef))
      i += 1
    }
    hex(md.digest())
  }

  /** Relative paths of the real-docs corpus, in path order. */
  def realDocFiles(root: File): IndexedSeq[String] = {
    val base = root.toPath
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val it = Files.walk(base).iterator() // does not follow links
    while (it.hasNext) {
      val p: Path = it.next()
      if (Files.isRegularFile(p, LinkOption.NOFOLLOW_LINKS) &&
          p.getFileName.toString.toLowerCase(java.util.Locale.ROOT).endsWith(".html"))
        out += base.relativize(p).toString
    }
    out.sorted.toIndexedSeq
  }

  def realDocsList(root: File, files: Seq[String], contents: Seq[Array[Byte]]): String =
    sha256(files.zip(contents).map { case (f, b) => s"$f\t${b.length}\t${sha256(b)}\n" }
      .mkString.getBytes("UTF-8"))

  /** Throws when a pinned input drifted; the message names what moved. */
  def require(what: String, expected: String, actual: String): Unit =
    if (expected != actual)
      throw new InputDrift(s"$what drifted: pinned $expected, found $actual")
}

final class InputDrift(msg: String) extends RuntimeException(msg)
