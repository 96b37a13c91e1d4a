package htmlspark.pipeline

import htmlspark.tree.HtmlParser
import org.apache.spark.{SparkEnv, TaskContext}
import java.util.concurrent.{Callable, ExecutionException, Future,
  LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer

/** Morsel-driven parse (Leis et al., SIGMOD 2014): ONE parse pool per
  * executor JVM, one thread per task slot, one HtmlParser.Engine per pool
  * thread. A task cuts its rows into morsels of at most
  * ParseJob.BigDocBytes of html (a bigger doc is a morsel of its own),
  * submits them to the pool and emits their results in input order.
  *
  * Which core parses a doc does not follow the plan's partitions, so a
  * partition that draws several multi-MB docs does not set the stage
  * time: while one task waits on a long doc, the pool's other threads
  * work through the other tasks' morsels. Parse CPU therefore runs on
  * pool threads, not task threads, and Spark's task metrics (executor
  * CPU, task-time skew) do not see it. */
private[pipeline] object ParsePool {

  /** Per-task in-flight bound (morsels submitted and not yet emitted).
    * Deep on purpose: the pool must never run dry behind one slow morsel
    * of another task; a whole 32 MB real-docs split fits under it. */
  val MaxInFlightMorsels = 256
  val MaxInFlightBytes: Long = 64L << 20

  private val engines = ThreadLocal.withInitial[HtmlParser.Engine](() => new HtmlParser.Engine)
  private val threadIds = new AtomicInteger()
  private var pool: ThreadPoolExecutor = _

  private val LocalN = """local\[\s*(\d+|\*)\s*(?:,\s*\d+\s*)?\]""".r

  /** Task slots of this executor, read on the executor: local[N] gives N,
    * a cluster executor spark.executor.cores / spark.task.cpus. */
  private def slots(): Int = {
    def cpus = Runtime.getRuntime.availableProcessors
    Option(SparkEnv.get).map(_.conf).fold(cpus) { conf =>
      val cores = conf.get("spark.master", "") match {
        case "local" => 1
        case LocalN("*") => cpus
        case LocalN(n) => n.toInt
        case _ => conf.getInt("spark.executor.cores", cpus)
      }
      math.max(1, cores / conf.getInt("spark.task.cpus", 1))
    }
  }

  /** The pool for `n` slots: replaced (the old one drains its queue and
    * exits) when a later session in this JVM has a different slot count. */
  private def poolOf(n: Int): ThreadPoolExecutor = synchronized {
    if (pool == null || pool.getMaximumPoolSize != n) {
      if (pool != null) pool.shutdown()
      pool = new ThreadPoolExecutor(n, n, 0L, TimeUnit.MILLISECONDS,
        new LinkedBlockingQueue[Runnable](), (r: Runnable) => {
          val t = new Thread(r, s"htmlspark-parse-${threadIds.incrementAndGet()}")
          t.setDaemon(true)
          t
        })
    }
    pool
  }

  /** `f` on every row on this executor's pool, results in input order.
    * A morsel's failure is rethrown on the calling (task) thread as the
    * original throwable, so a fatal error fails the task; when the task
    * ends, for whatever reason, its outstanding morsels are cancelled. */
  def map[B](rows: Iterator[Page])(f: (Page, HtmlParser.Engine) => B): Iterator[B] = {
    val exec = poolOf(slots())
    val inFlight = new java.util.ArrayDeque[(Future[ArrayBuffer[B]], Long)]()
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] { _ =>
      inFlight.forEach(_._1.cancel(false))
    })
    new Iterator[B] {
      private var bytesInFlight = 0L
      private var carry: Page = null // read, but past the last morsel's end
      private var cut: (ArrayBuffer[Page], Long) = null // cut, not yet submitted
      private var out: ArrayBuffer[B] = ArrayBuffer.empty
      private var i = 0

      // an empty or null doc counts as one byte, so a run of them still ends a morsel
      private def size(p: Page): Long = if (p.html == null) 1L else math.max(1, p.html.length)

      private def cutMorsel(): (ArrayBuffer[Page], Long) = {
        val m = ArrayBuffer[Page]()
        var bytes = 0L
        while (carry != null || rows.hasNext) {
          val p = if (carry != null) carry else rows.next()
          carry = null
          val s = size(p)
          if (m.nonEmpty && bytes + s > ParseJob.BigDocBytes) {
            carry = p
            return (m, bytes)
          }
          m += p
          bytes += s
        }
        if (m.isEmpty) null else (m, bytes)
      }

      private def fill(): Unit = {
        if (cut == null) cut = cutMorsel()
        while (cut != null && (inFlight.isEmpty ||
            (inFlight.size < MaxInFlightMorsels && bytesInFlight + cut._2 <= MaxInFlightBytes))) {
          val morsel = cut._1
          inFlight.add((exec.submit(new Callable[ArrayBuffer[B]] {
            def call(): ArrayBuffer[B] = {
              val engine = engines.get()
              morsel.map(f(_, engine))
            }
          }), cut._2))
          bytesInFlight += cut._2
          cut = cutMorsel()
        }
      }

      def hasNext: Boolean = i < out.length || {
        fill()
        !inFlight.isEmpty && {
          val (head, bytes) = inFlight.peek()
          out = try head.get() catch { case e: ExecutionException => throw e.getCause }
          inFlight.poll()
          bytesInFlight -= bytes
          i = 0
          fill()
          true
        }
      }

      def next(): B = {
        if (!hasNext) throw new NoSuchElementException("end of parse morsels")
        i += 1
        out(i - 1)
      }
    }
  }
}
