package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Order statistics and fits over measured samples. */
object Stats {
  /** Nearest-rank percentile (q in [0,1]); NaN on no samples. */
  def pct(xs: collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.toArray.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
    }

  /** The lower median: of an even count, the smaller middle sample. */
  def median(xs: collection.Seq[Double]): Double = pct(xs, 0.5)

  /** Least-squares (intercept, slope) of y on x; (NaN, NaN) when x has
    * no spread.
    */
  def fit(xs: collection.Seq[Double], ys: collection.Seq[Double]): (Double, Double) = {
    val n = xs.length.toDouble
    if (n < 2) return (Double.NaN, Double.NaN)
    val mx = xs.sum / n
    val my = ys.sum / n
    val sxx = xs.map(x => (x - mx) * (x - mx)).sum
    if (sxx == 0) return (Double.NaN, Double.NaN)
    val sxy = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
    val b = sxy / sxx
    (my - b * mx, b)
  }
}

/** Minimal JSON rendering for the result line and the trace files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** CPU clocks: the whole process, and per live thread by name. */
object Cpu {
  private val threads = ManagementFactory.getThreadMXBean
  threads.setThreadCpuTimeEnabled(true)
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processNs: Long = os.getProcessCpuTime

  /** thread id → (name, cpu ns) for every live thread. */
  def threadsNow(): Map[Long, (String, Long)] = {
    val ids = threads.getAllThreadIds
    val infos = threads.getThreadInfo(ids)
    ids.indices.flatMap { i =>
      val info = infos(i)
      val t = threads.getThreadCpuTime(ids(i))
      if (info == null || t < 0) None else Some(ids(i) -> (info.getThreadName, t))
    }.toMap
  }

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  def heapUsedBytes: Long =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
}

/** CPU per thread-name class over a window, from periodic snapshots.
  * A thread first seen inside the window counts from zero; a thread
  * that ends between snapshots loses at most one sampling interval.
  */
final class ThreadCpuWindow(excludeIds: Set[Long]) {
  private val base = Cpu.threadsNow()
  private val last = mutable.Map[Long, (String, Long)]()
  def sample(): Unit = { val now = Cpu.threadsNow(); synchronized(last ++= now) }
  /** CPU ms of threads whose name starts with one of `prefixes`. */
  def ms(prefixes: String*): Double = synchronized {
    last.iterator.collect {
      case (id, (name, t)) if !excludeIds(id) && prefixes.exists(name.startsWith) =>
        t - base.get(id).map(_._2).getOrElse(0L)
    }.sum / 1e6
  }
}

/** Peak heap use, sampled every 50 ms until [[stop]]. */
final class HeapPeak {
  @volatile private var running = true
  @volatile private var peak = Cpu.heapUsedBytes
  private val t = new Thread(() => while (running) {
    peak = math.max(peak, Cpu.heapUsedBytes)
    Thread.sleep(50)
  }, "bench-heap")
  t.setDaemon(true)
  t.start()
  def stop(): Long = { running = false; t.join(); peak }
}

/** One traced interval. Times are epoch-relative nanoseconds from
  * [[Spans.now]]; `group` is the micro-batch id or the batch query
  * name every span of that unit shares.
  */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    start: Long, end: Long, group: String)

/** In-memory span store, written out once at the end of a run. */
final class Spans(val enabled: Boolean) {
  private val q = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  /** Wall-clock nanoseconds (epoch based) for a nanoTime reading. */
  def wall(nano: Long): Long = epochNs + nano
  def now: Long = wall(System.nanoTime())

  def add(parent: Long, name: String, layer: String, start: Long, end: Long,
      group: String = ""): Long =
    if (!enabled) -1L
    else {
      val id = ids.incrementAndGet()
      q.add(Span(id, parent, name, layer, start, end, group))
      id
    }

  def all: Seq[Span] = q.asScala.toSeq

  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.start).foreach { s =>
      w.write(Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
        "start_ns" -> s.start.toString, "end_ns" -> s.end.toString,
        "group" -> Json.str(s.group))))
      w.newLine()
    } finally w.close()
  }

  /** Self time per span name: each span's duration minus the part of
    * it its children cover. Returns name → (layer, count, total ms,
    * self ms).
    */
  def selfTimes(): Seq[(String, String, Long, Double, Double)] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).toSeq.map { case (name, ss) =>
      var total = 0L
      var self = 0L
      ss.foreach { s =>
        val d = math.max(0L, s.end - s.start)
        total += d
        val cs = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var curA = Long.MinValue
        var curB = Long.MinValue
        cs.foreach { case (a, b) =>
          if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        if (curB > curA) covered += curB - curA
        self += d - covered
      }
      (name, ss.head.layer, ss.length.toLong, total / 1e6, self / 1e6)
    }.sortBy(_._1)
  }
}

/** A check that failed: the run reports no timings. */
final class CheckFailed(msg: String) extends RuntimeException(msg)
