package perfbench

import scala.collection.mutable.ArrayBuffer

/** Order statistics with the same definition the acceptance check uses
  * (Python's `statistics.quantiles(values, n=4)`, exclusive method), so a
  * median printed here and one recomputed from the printed samples agree. */
object Stats {
  def quartiles(xs0: Seq[Double]): (Double, Double, Double) = {
    val xs = xs0.sorted.toIndexedSeq
    val ld = xs.length
    require(ld >= 1, "no samples")
    if (ld == 1) return (xs(0), xs(0), xs(0))
    val m = ld + 1
    def q(i: Int): Double = {
      val j = math.min(math.max(i * m / 4, 1), ld - 1)
      val delta = i * m - j * 4
      (xs(j - 1) * (4 - delta) + xs(j) * delta) / 4.0
    }
    (q(1), q(2), q(3))
  }
  def median(xs: Seq[Double]): Double = quartiles(xs)._2
  /** Third quartile; meaningful as a reported percentile only when at
    * least ten samples lie beyond it (>= 40 samples). */
  def p75(xs: Seq[Double]): Double = quartiles(xs)._3
}

/** Minimal JSON writer: the result line and the result file are the only
  * JSON this benchmark emits, and no JSON library is on the classpath the
  * program itself uses. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d")
      java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** Output checks shared by the parse workloads. */
object Checks {
  /** Rows of (url, md5 of the extracted text, parse_ok) against the
    * expected md5 per url: every expected url exactly once, parsed, with
    * its expected text, and no other url. Returns (urls checked, failed,
    * up to three examples). */
  def textsOnce(rows: Array[(String, String, Boolean)],
                expected: Map[String, String]): (Long, Long, String) = {
    val byUrl = rows.groupBy(_._1)
    val examples = ArrayBuffer[String]()
    def bad(why: String): Long = { if (examples.length < 3) examples += why; 1L }
    var failed = 0L
    expected.foreach { case (u, md5) =>
      byUrl.get(u) match {
        case Some(Array((_, m, ok))) if ok && m == md5 =>
        case Some(rs) => failed += bad(s"$u: ${rs.length} rows, ${rs.head._2} vs $md5")
        case None => failed += bad(s"$u: missing")
      }
    }
    byUrl.keys.filterNot(expected.contains).foreach(u => failed += bad(s"$u: unexpected"))
    (expected.size.toLong, failed, examples.mkString("; "))
  }
}

/** One measured metric: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** Failure accounting shared by every workload: an operation that throws or
  * fails its output check is counted as failed and prints FAIL instead of a
  * time; only operations that pass their check contribute samples. */
final class Ledger(out: String => Unit) {
  private var attempted0 = 0L
  private var failed0 = 0L
  val failures = ArrayBuffer[String]()
  def attempted: Long = attempted0
  def failed: Long = failed0

  /** Times `body`; `check` runs untimed on its value and returns
    * (operations checked, failed operations, detail). Returns the elapsed
    * seconds and value only when every operation in it passed. */
  def attempt[T](label: String, ops: Long)(body: => T)(
      check: T => (Long, Long, String)): Option[(Double, T)] = {
    val t0 = System.nanoTime()
    val value = try Right(body) catch {
      case e: Throwable if scala.util.control.NonFatal(e) || e.isInstanceOf[StackOverflowError] =>
        Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    val secs = (System.nanoTime() - t0) / 1e9
    value match {
      case Left(err) =>
        attempted0 += ops; failed0 += ops
        fail(label, s"threw $err")
        None
      case Right(v) =>
        val (n, bad, detail) = try check(v) catch {
          case e: Throwable if scala.util.control.NonFatal(e) =>
            (ops, ops, s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        attempted0 += n; failed0 += bad
        if (bad > 0) { fail(label, s"$bad/$n failed check: $detail"); None }
        else { out(f"$label%-28s $secs%.4f s"); Some((secs, v)) }
    }
  }

  private def fail(label: String, why: String): Unit = {
    failures += s"$label: $why"
    out(f"$label%-28s FAIL ($why)")
  }
}

/** Spans kept in memory around calls into the program and written out when
  * the run ends. Disabled tracing records nothing: `span` is then a plain
  * call. A span's self time is its duration minus its children's. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Total self seconds per span name. */
  def selfSeconds: Map[String, Double] = {
    val childTime = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum }
  }
  def totalSeconds(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum
  def count(name: String): Int = spans.count(_.name == name)

  def toJson: Seq[Map[String, Any]] = spans.toSeq.sortBy(_.id).map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs))
}
