package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** A span around one of the benchmark's own calls into a layer. Spans of
  * one request share `requestId` (the native `context.queryId`). */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
    parent: Long, requestId: String) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder; written out with the result when the run ends.
  * Disabled (untraced runs) it records nothing and costs one branch. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0L)
  val spans = new ConcurrentLinkedQueue[Span]()

  def record(name: String, startNs: Long, endNs: Long, parent: Long = 0L,
      requestId: String = ""): Long =
    if (!enabled) 0L
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, name, startNs, endNs, parent, requestId))
      id
    }

  /** Run `body` inside a span; the body receives its span id (to parent
    * child spans on it). */
  def span[T](name: String, parent: Long = 0L, requestId: String = "")(body: Long => T): T =
    if (!enabled) body(0L)
    else {
      val id = ids.incrementAndGet()
      val t0 = System.nanoTime()
      try body(id)
      finally spans.add(Span(id, name, t0, System.nanoTime(), parent, requestId))
    }
}

/** Spark execution counters per job group. The engine runs every query in
  * the job group `queryId` and every ingest task in the group of its task
  * id; the curation client sets one group per operator call. */
final class JobStats extends SparkListener {
  final class Acc {
    val jobs, stages, tasks, cpuNs, runMs, gcMs, inRows, inBytes,
      shuffleWrite, shuffleRead, spill = new AtomicLong
  }
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = new ConcurrentHashMap[String, Acc]()
  // job id -> (group, start ms, end ms)
  private val jobs = new ConcurrentHashMap[Int, (String, Long, Long)]()

  private def acc(g: String): Acc = groups.computeIfAbsent(g, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    jobs.put(e.jobId, (g, e.time, -1L))
    acc(g).jobs.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.computeIfPresent(e.jobId, (_, j) => (j._1, j._2, e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach(acc(_).stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = Option(stageGroup.get(e.stageId)).getOrElse("")
    val a = acc(g)
    a.tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      a.cpuNs.addAndGet(m.executorCpuTime)
      a.runMs.addAndGet(m.executorRunTime)
      a.gcMs.addAndGet(m.jvmGCTime)
      a.inRows.addAndGet(m.inputMetrics.recordsRead)
      a.inBytes.addAndGet(m.inputMetrics.bytesRead)
      a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Summed counters over the groups `keep` accepts, as the exec.* names. */
  def totals(keep: String => Boolean): Map[String, Double] = {
    val as = groups.asScala.filter { case (g, _) => keep(g) }.values.toSeq
    def sum(f: Acc => AtomicLong): Double = as.map(f(_).get).sum.toDouble
    Map("jobs" -> sum(_.jobs), "stages" -> sum(_.stages), "tasks" -> sum(_.tasks),
      "task_cpu_ms" -> sum(_.cpuNs) / 1e6, "task_run_ms" -> sum(_.runMs),
      "gc_ms" -> sum(_.gcMs), "input_rows" -> sum(_.inRows),
      "input_bytes" -> sum(_.inBytes), "shuffle_write_bytes" -> sum(_.shuffleWrite),
      "shuffle_read_bytes" -> sum(_.shuffleRead), "spill_bytes" -> sum(_.spill))
  }

  /** Milliseconds of wall time the group's jobs cover (union of intervals). */
  def coveredMs(group: String): Long = {
    val iv = jobs.values.asScala.filter(j => j._1 == group && j._3 >= 0)
      .map(j => (j._2, j._3)).toSeq.sortBy(_._1)
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def hasJobs(group: String): Boolean = groups.containsKey(group)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def orZero(x: Double): Double = if (x.isNaN) 0.0 else x
}

/** Host fingerprint and diagnostics. */
object Host {
  private def procField(file: String, key: String): Long =
    try {
      val src = scala.io.Source.fromFile(file)
      try src.getLines().find(_.startsWith(key + ":"))
        .map(_.split("\\s+")(1).toLong).getOrElse(0L)
      finally src.close()
    } catch { case _: Exception => 0L }

  def memTotalKb: Long = procField("/proc/meminfo", "MemTotal")
  def peakRssKb: Long = procField("/proc/self/status", "VmHWM")

  /** Seconds for a fixed single-thread integer loop: a CPU-speed canary
    * sampled before and after each workload (contention shows as drift). */
  def canary(): Double = {
    def loop(): Long = {
      var x = 88172645463325252L; var i = 0
      while (i < 40000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      x
    }
    loop()
    val t0 = System.nanoTime()
    val x = loop()
    val s = (System.nanoTime() - t0) / 1e9
    if (x == 42L) s + 1e-12 else s
  }

  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Heap in use after a full collection: what the run retains (caches,
    * plans, metrics rings), unlike RSS, which follows heap growth policy. */
  def liveHeapMb: Double = {
    java.lang.management.ManagementFactory.getMemoryMXBean.gc()
    heapPools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  private def heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
}
