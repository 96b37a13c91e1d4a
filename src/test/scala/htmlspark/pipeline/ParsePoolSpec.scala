package htmlspark.pipeline

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Pins ParsePool, the executor-wide morsel-driven parse: output order and
  * content, pool size per session, the per-task in-flight bound, failure
  * propagation and cancellation. */
class ParsePoolSpec extends AnyFunSuite with BeforeAndAfterAll {
  import ParsePoolSpec._

  /** A fresh session at local[n]: stops whatever session this JVM holds,
    * so the slot count really changes between sessions. */
  private def session(n: Int): SparkSession = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("parse-pool-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())

  private def big(tag: String): Array[Byte] = {
    val sb = new StringBuilder("<!doctype html><title>").append(tag).append("</title>\n")
    var k = 0
    while (sb.length <= ParseJob.BigDocBytes + 512) { sb.append(s"<p>$tag $k</p>\n"); k += 1 }
    sb.toString.getBytes("UTF-8")
  }

  test("pooled output equals a sequential parsePage loop, row for row and in order") {
    val spark = session(2)
    import spark.implicits._
    val ts = new Timestamp(0L)
    val small = (0L until 300L).map(PagesGen.page)
    val input = small.take(100) ++ Seq(Page("u/big-1", ts, big("one"), "", "en")) ++
      small.slice(100, 200) ++ Seq(Page("u/null", ts, null, "", "en"),
        Page("u/big-2", ts, big("two"), "", "en"), Page("u/big-3", ts, big("three"), "", "en")) ++
      small.drop(200)
    assert(input.exists(p => p.html != null && p.html.length > ParseJob.BigDocBytes))
    assert(input.exists(p => p.html != null && p.html.length < 4096))
    val expected = input.map(p => ParseJob.parsePage(p).copy(parse_us = 0L))
    val actual = ParseJob.parseAll(spark.createDataset(input).coalesce(1))
      .collect().map(_.copy(parse_us = 0L)).toSeq
    assert(actual.length == expected.length)
    actual.zip(expected).zipWithIndex.foreach { case ((a, e), i) =>
      assert(a == e, s"row $i (${e.url}) differs")
    }
    assert(actual.find(_.url == "u/null").exists(d => d.parse_ok && d.n_bytes == 0))
  }

  test("a local[2] session runs exactly 2 pool threads, a later local[1] session 1") {
    def threadsOf(n: Int, meet: Int): (Set[String], Int) = {
      val spark = session(n)
      import spark.implicits._
      seen.clear(); running.set(0); peak.set(0)
      latch = new CountDownLatch(meet)
      val rows = ParseJob.parseWith(PagesGen.pages(spark, 400, 2)) { (p, _) =>
        val now = running.incrementAndGet()
        peak.accumulateAndGet(now, (a, b) => math.max(a, b))
        seen.put(Thread.currentThread().getName, true)
        // the first `meet` rows wait for each other, so `meet` threads must run
        latch.countDown()
        val met = latch.await(20, TimeUnit.SECONDS)
        Thread.sleep(1)
        running.decrementAndGet()
        met
      }.collect()
      assert(rows.forall(identity), s"fewer than $meet pool threads ran at once")
      (seen.keySet.toArray(Array.empty[String]).toSet, peak.get)
    }
    val (two, peak2) = threadsOf(2, 2)
    assert(two.size == 2 && peak2 == 2, s"local[2]: threads $two, peak $peak2")
    assert(two.forall(_.startsWith("htmlspark-parse-")))
    val (one, peak1) = threadsOf(1, 1)
    assert(one.size == 1 && peak1 == 1, s"local[1]: threads $one, peak $peak1")
    assert((one & two).isEmpty, "the local[1] session reused the local[2] pool")
  }

  test("a task never has more than the in-flight bound of morsels or html outstanding") {
    session(2)
    // one morsel per doc; `ahead` = furthest row parsed beyond the rows emitted
    def maxAhead(docBytes: Int, n: Int): Long = {
      val html = Array.fill[Byte](docBytes)('x'.toByte)
      val emitted = new AtomicLong()
      val ahead = new AtomicLong()
      val pages = Iterator.range(0, n).map(i => Page(i.toString, new Timestamp(0L), html, "", ""))
      val out = ParsePool.map(pages) { (p, _) =>
        ahead.accumulateAndGet(p.url.toLong - emitted.get, (a, b) => math.max(a, b))
        p.url.toLong
      }
      out.next()
      emitted.incrementAndGet()
      Thread.sleep(300) // the pool drains everything it was given
      var k = 1L
      while (out.hasNext) {
        assert(out.next() == k)
        emitted.incrementAndGet()
        k += 1
      }
      assert(k == n)
      ahead.get
    }
    val morsels = maxAhead(ParseJob.BigDocBytes + 1, 1000)
    assert(morsels <= ParsePool.MaxInFlightMorsels && morsels >= ParsePool.MaxInFlightMorsels / 2,
      s"morsel bound: $morsels ahead")
    val perMb = (ParsePool.MaxInFlightBytes >> 20)
    val mbs = maxAhead(1 << 20, 200)
    assert(mbs <= perMb && mbs >= perMb / 2, s"byte bound: $mbs MB ahead")
  }

  test("a throwing per-row function fails the job with its own error; the next job runs") {
    val spark = session(2)
    import spark.implicits._
    val e = intercept[Exception] {
      ParseJob.parseWith(PagesGen.pages(spark, 200, 2)) { (p, _) =>
        if (p.url.endsWith("/150.html")) throw new IllegalStateException("injected " + p.url)
        1
      }.collect()
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(t => t.isInstanceOf[IllegalStateException] &&
      t.getMessage.contains("injected")), s"chain: $chain")
    assert(!chain.exists(_.isInstanceOf[java.util.concurrent.ExecutionException]))
    assert(ParseJob.parseAll(PagesGen.pages(spark, 200, 2)).filter($"parse_ok").count() == 202)

    // a fatal error leaves the pool as itself, not wrapped, on the consuming thread
    val oom = intercept[OutOfMemoryError] {
      ParsePool.map(Iterator(PagesGen.page(1)))((_, _) => throw new OutOfMemoryError("injected")).toList
    }
    assert(oom.getMessage == "injected")
    assert(ParsePool.map((0L until 50L).iterator.map(PagesGen.page))((p, e) =>
      ParseJob.parsePage(p, e).parse_ok).forall(identity))
  }

  test("a task that ends early cancels its outstanding morsels") {
    val spark = session(2)
    import spark.implicits._
    calls.set(0)
    val first = ParseJob.parseWith(spark.range(0, 3000, 1, 1).map(i => PagesGen.page(i))) { (p, _) =>
      calls.incrementAndGet()
      Thread.sleep(2)
      p.url
    }.limit(1).collect()
    assert(first.length == 1)
    Thread.sleep(500)
    val settled = calls.get
    Thread.sleep(500)
    assert(calls.get == settled, "morsels kept running after the task ended")
    assert(settled < 3000)
  }
}

object ParsePoolSpec {
  // Shared with the injected functions, which run on pool threads of this JVM.
  val seen = new ConcurrentHashMap[String, Boolean]()
  val running = new AtomicInteger()
  val peak = new AtomicInteger()
  val calls = new AtomicInteger()
  @volatile var latch = new CountDownLatch(0)
}
