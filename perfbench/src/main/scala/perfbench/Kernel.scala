package perfbench

import htmlspark.encoding.EncodingSniffer
import htmlspark.extract.TextExtractor
import htmlspark.pipeline.{Page, ParseJob}
import htmlspark.tokenizer.{AttrList, HtmlTokenizer, TokenSink}
import htmlspark.tree.{DomNode, HtmlParser, HtmlSerializer}
import java.lang.management.ManagementFactory

/** Token sink that only counts: tokenizing into it times the tokenizer
  * without the tree builder. Like the tree builder in HTML content, it
  * switches the tokenizer to RCDATA, RAWTEXT, script data or PLAINTEXT
  * after the start tags that do so (`tree.build_ns_per_doc` is Engine.parse
  * minus this); it does not track foreign content or insertion modes. */
final class CountingSink extends TokenSink {
  var tokens = 0L
  var tokenizer: HtmlTokenizer = _
  def doctype(name: String, publicId: String, systemId: String, forceQuirks: Boolean): Unit = tokens += 1
  def startTag(name: String, attrs: AttrList, selfClosing: Boolean): Unit = {
    tokens += 1
    name match {
      case "title" | "textarea" => tokenizer.setRcdata()
      case "style" | "xmp" | "iframe" | "noembed" | "noframes" => tokenizer.setRawtext()
      case "script" => tokenizer.setScriptData()
      case "plaintext" => tokenizer.setPlaintext()
      case _ =>
    }
  }
  def endTag(name: String): Unit = tokens += 1
  def comment(text: String): Unit = tokens += 1
  def characters(buf: Array[Char], start: Int, end: Int): Unit = tokens += 1
  def eof(): Unit = tokens += 1
}

/** Per-layer cost of the parse kernel, timed on one thread with no Spark
  * over the workload's documents. One loop runs the kernel's steps in
  * order with a clock read between them (sniff, decode, Engine.parse,
  * extract), so those self times add up, alternating with rounds of the
  * whole ParseJob.parsePage; a tokenize-only loop splits Engine.parse into
  * tokenizer and tree builder; separate loops time serialize and count
  * allocation. Each loop repeats over the documents until `minSeconds`
  * have passed, after one untimed round. */
object Kernel {
  private val threadMx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  private def allocated(): Long = threadMx.getThreadAllocatedBytes(Thread.currentThread().getId)

  final case class Loop(nsPerDoc: Double, allocBytesPerDoc: Double)

  private def loop(docs: Int, minSeconds: Double)(f: Int => Unit): Loop = {
    var i = 0
    while (i < docs) { f(i); i += 1 } // warm
    var rounds = 0L
    val a0 = allocated()
    val t0 = System.nanoTime()
    val limit = (minSeconds * 1e9).toLong
    while (rounds == 0 || System.nanoTime() - t0 < limit) {
      i = 0
      while (i < docs) { f(i); i += 1 }
      rounds += 1
    }
    val ns = (System.nanoTime() - t0).toDouble
    Loop(ns / (rounds * docs), (allocated() - a0).toDouble / (rounds * docs))
  }

  final case class Layers(
      docs: Int, kb: Double,
      sniffNs: Double, decodeNs: Double, parseNs: Double, extractNs: Double,
      tokenizeNs: Double, serializeNs: Double, kernelNs: Double,
      parseAllocB: Double, tokenizeAllocB: Double, extractAllocB: Double,
      tokensPerDoc: Double, nodesPerDoc: Double, restartFrac: Double) {
    /** Engine.parse minus tokenizing alone: the tree builder's share. */
    def buildNs: Double = parseNs - tokenizeNs
    /** What parsePage does beyond the layers: the meta-charset walk and
      * restart re-parse, the element count, the error-code sort and the
      * output row (negative when it is below the loops' noise). */
    def remainderNs: Double = kernelNs - (sniffNs + decodeNs + parseNs + extractNs)
  }

  def layers(pages: IndexedSeq[Page], minSeconds: Double, tracer: Tracer): Layers = {
    val n = pages.length
    val bytes = pages.map(p => if (p.html == null) Array.emptyByteArray else p.html)
    val sniffs = bytes.map(EncodingSniffer.sniff)
    val htmls = bytes.indices.map(i => EncodingSniffer.decode(bytes(i), sniffs(i)))
    val engine = new HtmlParser.Engine
    val docs = htmls.map(h => engine.parse(h).doc)
    val sink = new CountingSink
    val tok = new HtmlTokenizer(sink)
    sink.tokenizer = tok
    var blackhole = 0L

    // The kernel's steps in order with a clock read between each, and the
    // whole parsePage, in alternating rounds so both see the same JIT and
    // cache state. Round 0 is untimed.
    val steps = new Array[Long](5)
    def stepsRound(): Unit = {
      var i = 0
      while (i < n) {
        val t0 = System.nanoTime()
        val sn = EncodingSniffer.sniff(bytes(i))
        val t1 = System.nanoTime()
        val html = EncodingSniffer.decode(bytes(i), sn)
        val t2 = System.nanoTime()
        val result = engine.parse(html)
        val t3 = System.nanoTime()
        blackhole += TextExtractor.extract(result.doc).length
        val t4 = System.nanoTime()
        steps(0) += t1 - t0; steps(1) += t2 - t1; steps(2) += t3 - t2; steps(3) += t4 - t3
        i += 1
      }
    }
    def kernelRound(): Unit = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { blackhole += ParseJob.parsePage(pages(i), engine).n_chars; i += 1 }
      steps(4) += System.nanoTime() - t0
    }
    stepsRound(); kernelRound()
    java.util.Arrays.fill(steps, 0L)
    var rounds = 0L
    tracer.span("ParseJob.parsePage") {
      val t0 = System.nanoTime()
      while (rounds < 3 || System.nanoTime() - t0 < (2 * minSeconds * 1e9).toLong) {
        System.gc() // a full collection of the Spark passes' garbage must not land in one side
        stepsRound(); kernelRound(); rounds += 1
      }
    }
    val perDoc = steps.map(_.toDouble / (rounds * n))
    def timed(name: String)(f: Int => Unit): Loop = tracer.span(name)(loop(n, minSeconds)(f))
    val tokenize = timed("HtmlTokenizer.tokenize") { i => tok.reset(); tok.tokenize(htmls(i)) }
    sink.tokens = 0
    htmls.foreach { h => tok.reset(); tok.tokenize(h) }
    val tokensPerDoc = sink.tokens.toDouble / n
    val parse = timed("HtmlParser.Engine.parse")(i => blackhole += engine.parse(htmls(i)).nErrors)
    val extract = timed("TextExtractor.extract")(i => blackhole += TextExtractor.extract(docs(i)).length)
    val serialize = timed("HtmlSerializer.serialize")(i => blackhole += HtmlSerializer.serialize(docs(i)).length)
    val nodes = docs.map(d => DomNode.countElements(d).toDouble).sum / n
    val restarts = pages.count(p => ParseJob.parsePage(p, engine).restarted)
    if (blackhole == 42) println("")
    Layers(n, bytes.map(_.length.toLong).sum / 1024.0 / n,
      perDoc(0), perDoc(1), perDoc(2), perDoc(3),
      tokenize.nsPerDoc, serialize.nsPerDoc, perDoc(4),
      parse.allocBytesPerDoc, tokenize.allocBytesPerDoc, extract.allocBytesPerDoc,
      tokensPerDoc, nodes, restarts.toDouble / n)
  }

  /** ParseJob.parsePage over the documents on `threads` plain threads, one
    * Engine per thread (the per-partition reuse of ParseJob), for
    * `seconds`; returns docs per second. The control for Spark's scaling. */
  def threadRate(pages: IndexedSeq[Page], threads: Int, seconds: Double): Double = {
    val done = new java.util.concurrent.atomic.AtomicLong()
    val stopAt = System.nanoTime() + (seconds * 1e9).toLong
    val start = new java.util.concurrent.CountDownLatch(1)
    val ts = (0 until threads).map { k =>
      val t = new Thread(() => {
        val engine = new HtmlParser.Engine
        var i = (k * pages.length) / threads
        var local = 0L
        start.await()
        while (System.nanoTime() < stopAt) {
          ParseJob.parsePage(pages(i % pages.length), engine)
          i += 1; local += 1
        }
        done.addAndGet(local)
      })
      t.start(); t
    }
    val t0 = System.nanoTime()
    start.countDown()
    ts.foreach(_.join())
    done.get() / ((System.nanoTime() - t0) / 1e9)
  }

  /** The kernel-layer per-layer metrics, and the reconciliation of the
    * layers' self times against the whole kernel. */
  def report(r: Run, k: Layers): Unit = {
    r.metric("encoding.sniff_ns_per_doc", k.sniffNs, "ns")
    r.metric("encoding.decode_ns_per_kb", k.decodeNs / k.kb, "ns/KB")
    r.metric("encoding.restart_frac", k.restartFrac, "ratio")
    r.metric("tokenizer.ns_per_kb", k.tokenizeNs / k.kb, "ns/KB")
    r.metric("tokenizer.tokens_per_doc", k.tokensPerDoc, "count")
    r.metric("tree.build_ns_per_doc", k.buildNs, "ns")
    r.metric("tree.alloc_kb_per_doc", (k.parseAllocB - k.tokenizeAllocB) / 1024, "KB")
    r.metric("tree.nodes_per_doc", k.nodesPerDoc, "count")
    r.metric("tree.serialize_ns_per_doc", k.serializeNs, "ns")
    r.metric("extract.ns_per_doc", k.extractNs, "ns")
    r.metric("extract.alloc_kb_per_doc", k.extractAllocB / 1024, "KB")
    r.metric("parsejob.kernel_ns_per_doc", k.kernelNs, "ns")
    r.metric("parsejob.kernel_remainder_ns_per_doc", k.remainderNs, "ns")
    r.extras("kernel_layers") = Map("docs" -> k.docs, "kb_per_doc" -> k.kb,
      "sniff_ns" -> k.sniffNs, "decode_ns" -> k.decodeNs, "parse_ns" -> k.parseNs,
      "tokenize_ns" -> k.tokenizeNs,
      "build_ns" -> k.buildNs, "extract_ns" -> k.extractNs, "serialize_ns" -> k.serializeNs,
      "kernel_ns" -> k.kernelNs, "remainder_ns" -> k.remainderNs)
    r.say(f"reconcile parsePage ${k.kernelNs}%.0f ns/doc = sniff ${k.sniffNs}%.0f + decode ${k.decodeNs}%.0f" +
      f" + Engine.parse ${k.parseNs}%.0f (tokenize ${k.tokenizeNs}%.0f + build ${k.buildNs}%.0f)" +
      f" + extract ${k.extractNs}%.0f + remainder ${k.remainderNs}%.0f")
  }
}
