package htmlspark.tree

import htmlspark.tokenizer.HtmlTokenizer

/** Facade: one full-document or fragment parse (reference lifecycle:
  * Core/Tokenizer.cs:1133-1208 Start/TokenizeBuffer/Eof/End — collapsed to a
  * single call because each Spark row carries the whole document). */
object HtmlParser {

  final class Result(val builder: TreeBuilder) {
    def doc: DomNode = builder.doc
    def quirksMode: Int = builder.quirksMode
    def nErrors: Int = builder.nErrors
    def errorCodes: Seq[String] = builder.errorCodes.toSeq
  }

  def parse(html: String): Result = {
    val tb = new TreeBuilder
    val tok = new HtmlTokenizer(tb)
    tb.tokenizer = tok
    tok.tokenize(html)
    new Result(tb)
  }

  /** Reusable parser instance: the pipeline keeps one Engine per parse
    * pool thread (htmlspark.pipeline.ParsePool), which amortizes the
    * tokenizer buffers (input work buffer, pending-text accumulator — both
    * sized to the largest doc seen) across every doc that thread parses
    * (reference counterpart: per-parser-instance reuse,
    * Core/Tokenizer.cs:462, Core/HtmlAttributes.cs:474-492).
    *
    * NOT thread-safe, and each parse's Result/DOM must be consumed before
    * the next parse call (exactly the per-row shape of a morsel's loop). */
  final class Engine {
    private val tok = new HtmlTokenizer(null)
    def parse(html: String): Result = {
      // Fresh builder per doc, reused tokenizer: the tokenizer holds the
      // doc-sized buffers (input work buffer, pending-text accumulator)
      // that dominate per-parse allocation; the builder is a handful of
      // small objects whose reuse measured SLOWER (old-gen stack/AFE
      // arrays holding young DomNodes force card scanning every minor GC
      // — see BENCH.md §reuse A/B).
      val tb = new TreeBuilder
      tb.tokenizer = tok
      tok.setSink(tb)
      tok.reset()
      tok.tokenize(html)
      new Result(tb)
    }
  }

  /** Fragment parse per the spec's "parsing HTML fragments" algorithm.
    * `context` may be "svg x" / "math x" for foreign contexts. */
  def parseFragment(html: String, context: String): Result = {
    val tb = new TreeBuilder
    val tok = new HtmlTokenizer(tb)
    tb.tokenizer = tok
    val (ns, name) =
      if (context.startsWith("svg ")) (Dom.NS_SVG, context.substring(4))
      else if (context.startsWith("math ")) (Dom.NS_MATHML, context.substring(5))
      else (Dom.NS_HTML, context)
    tb.setFragmentContext(name, ns)
    tok.tokenize(html)
    new Result(tb)
  }
}
