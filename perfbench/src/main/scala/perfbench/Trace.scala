package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** One traced interval, in unix microseconds. `parent` is the id of the
  * span that caused it (-1 for a root); every span of a run shares `run`.
  */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, run: String)

/** In-memory span recorder around the program's layer calls; written to
  * a file once the run ends. Disabled, it records nothing.
  */
final class Tracer(val enabled: Boolean, run: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]

  def add(name: String, start: Long, end: Long, parent: Int = -1): Int =
    if (!enabled) -1
    else synchronized {
      val id = spans.length
      spans += Span(id, name, start, math.max(start, end), parent, run)
      id
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time per span name: the wall time covered by spans of that
    * name minus the parts their children cover, with overlapping spans
    * (queued transactions) counted once (micros).
    */
  def selfMicros: Map[String, Long] = {
    val ss = all
    val kids = ss.filter(_.parent >= 0).groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> Stats.unionLength(group.flatMap(s =>
        Stats.subtract((s.start, s.end), kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))))
    }
  }

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = all.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","start_us":${s.start},"end_us":${s.end},""" +
      s""""parent":${s.parent},"run":"${s.run}"}""")
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Stats {
  /** Linear-interpolated percentile (p in [0, 100]); NaN when empty. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val r = p / 100.0 * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Total length covered by a set of (start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** `iv` minus the union of `holes`, as disjoint intervals. */
  def subtract(iv: (Long, Long), holes: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var cur = iv._1
    holes.filter(h => h._2 > iv._1 && h._1 < iv._2).sortBy(_._1).foreach { case (hs, he) =>
      if (hs > cur) out += ((cur, math.min(hs, iv._2)))
      cur = math.max(cur, he)
    }
    if (cur < iv._2) out += ((cur, iv._2))
    out.toSeq
  }

  /** Wall clock in unix microseconds, comparable across processes. */
  def nowMicros(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }
}

/** Process-level probes of the program's JVM: CPU time, GC time, and the
  * peak heap left in use after a collection while armed.
  */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNanos: Long = os.getProcessCpuTime
  def gcMillis: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var armed = false
  @volatile private var peak = 0L

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { if (used > peak) peak = used }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  /** Start a window on a collected heap, so garbage left by set-up and
    * warm-up does not count.
    */
  def arm(): Unit = { System.gc(); peak = 0L; armed = true }

  /** Collect once more (so the window has at least one sample), disarm,
    * and return the peak after-GC heap in bytes.
    */
  def disarm(): Long = {
    System.gc()
    Thread.sleep(100) // notifications arrive on a JMX thread
    armed = false
    peak
  }
}
