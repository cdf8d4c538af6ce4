package sinkbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** In-memory spans around every call the benchmark makes into a layer.
  * Disabled (the untraced run) it only runs the body. Spans opened on one
  * thread nest on that thread; a span opened on another thread (the
  * micro-batch thread calling `appendCheck`) names its parent explicitly. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, trace: String, name: String,
                        startNs: Long, endNs: Long)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicInteger()
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  @volatile var trace: String = "setup"

  def current: Int = stack.get.headOption.getOrElse(-1)

  def span[T](name: String, parent: Int = Int.MinValue)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val p = if (parent == Int.MinValue) current else parent
      val tr = trace
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, p, tr, name, t0, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  /** Per span name: count, total and self seconds. Self time is a span's
    * duration minus the part of it its children cover. */
  def summary: Seq[(String, Int, Double, Double)] = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    def covered(s: Span): Long = {
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0L; var end = Long.MinValue
      iv.foreach { case (a, b) =>
        val from = math.max(a, end)
        if (b > from) total += b - from
        end = math.max(end, b)
      }
      total
    }
    all.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      (n, ss.size, ss.map(s => s.endNs - s.startNs).sum / 1e9,
       ss.map(s => s.endNs - s.startNs - covered(s)).sum / 1e9)
    }
  }

  def spanList: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
}

/** Spark-side counters of a traced run, from a `SparkListener`: tasks,
  * jobs (those of a micro-batch carry its id as a job property), and
  * cached blocks. */
final class LayerListener extends SparkListener {
  // streaming jobs carry the micro-batch id as a job property
  private val streamStages = ConcurrentHashMap.newKeySet[Int]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val streamJobs = new AtomicLong()
  val streamTasks = new AtomicLong()
  val streamRecordsRead = new AtomicLong()
  val runTimeMs = new AtomicLong()
  val gcMs = new AtomicLong()
  val shuffleBytes = new AtomicLong()
  val spillBytes = new AtomicLong()
  val groupShuffle = new ConcurrentHashMap[String, AtomicLong]()
  private val blocks = new ConcurrentHashMap[String, java.lang.Long]()
  private val cached = new AtomicLong()
  val cachedPeak = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    if (props.exists(_.getProperty("streaming.sql.batchId") != null)) {
      streamJobs.incrementAndGet()
      e.stageIds.foreach(streamStages.add)
    }
    props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(g => e.stageIds.foreach(stageGroup.put(_, g)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    runTimeMs.addAndGet(m.executorRunTime)
    gcMs.addAndGet(m.jvmGCTime)
    val sh = m.shuffleWriteMetrics.bytesWritten
    shuffleBytes.addAndGet(sh)
    spillBytes.addAndGet(m.diskBytesSpilled)
    Option(stageGroup.get(e.stageId)).foreach(g =>
      groupShuffle.computeIfAbsent(g, _ => new AtomicLong()).addAndGet(sh))
    if (streamStages.contains(e.stageId)) {
      streamTasks.incrementAndGet()
      streamRecordsRead.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (!info.blockId.isRDD) return
    val size = info.memSize + info.diskSize
    val prev = if (size > 0) blocks.put(info.blockId.name, size)
               else blocks.remove(info.blockId.name)
    val now = cached.addAndGet(size - (if (prev == null) 0L else prev.longValue))
    cachedPeak.accumulateAndGet(now, math.max)
  }

  def resetCachedPeak(): Unit = cachedPeak.set(cached.get)

  /** Counters now; the difference of two snapshots is one window's work. */
  def snapshot(): Map[String, Long] = Map(
    "jobs" -> streamJobs.get, "tasks" -> streamTasks.get,
    "records" -> streamRecordsRead.get, "run_ms" -> runTimeMs.get, "gc_ms" -> gcMs.get,
    "shuffle" -> shuffleBytes.get, "spill" -> spillBytes.get)
}

/** Small statistics helpers shared by the harness. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def ms(ns: Long): Double = ns / 1e6
  def sec(ns: Long): Double = ns / 1e9
  def nowMs(): Long = System.currentTimeMillis()

  def timed[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = body
    (r, System.nanoTime() - t0)
  }

}
