package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer

/** One finished task, attributed to the span whose job launched it. */
final case class TaskRec(span: Int, launchMs: Long, finishMs: Long,
    gcMs: Long, shuffleWriteB: Long, spillB: Long)

/** Folds scheduler events into tasks, jobs and block-manager bytes.
  * Jobs carry the driver thread's local properties (Spark copies them into
  * the threads AQE, broadcasts and subqueries run on), so the span id the
  * [[Tracer]] sets attributes every job, stage and task exactly. */
final class ProfileListener extends SparkListener {
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val taskBuf = ArrayBuffer.empty[TaskRec]
  private val jobBuf = ArrayBuffer.empty[(Int, Long)] // (span, start ms)
  private val blocks = scala.collection.mutable.HashMap.empty[String, Long]
  private var cacheB = 0L
  private var peakB = 0L

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = spanOf(e.properties)
    e.stageIds.foreach(stageSpan.put(_, span))
    synchronized { jobBuf += ((span, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    val rec = TaskRec(stageSpan.getOrDefault(e.stageId, -1), i.launchTime,
      i.finishTime,
      if (m == null) 0L else m.jvmGCTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled)
    synchronized { taskBuf += rec }
  }

  /** Cached data only: RDD blocks (persisted RDDs and cached Datasets).
    * Broadcast blocks are released by the context cleaner on the JVM's GC
    * schedule, so counting them would make the peak a function of GC timing. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (!b.blockId.isRDD) return
    val key = b.blockId.name
    val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
    synchronized {
      cacheB += size - blocks.getOrElse(key, 0L)
      if (size > 0) blocks(key) = size else blocks.remove(key)
      if (cacheB > peakB) peakB = cacheB
    }
  }

  def tasks: Vector[TaskRec] = synchronized(taskBuf.toVector)
  def jobs: Vector[(Int, Long)] = synchronized(jobBuf.toVector)
  def cacheBytes: Long = synchronized(cacheB)
  def peakBytes: Long = synchronized(peakB)
  /** The block manager holds no cached blocks now: count from zero. */
  def resetEmpty(): Unit = synchronized { blocks.clear(); cacheB = 0L; peakB = 0L }
  def clear(): Unit = synchronized { taskBuf.clear(); jobBuf.clear() }
}

/** A recorded span: name, parent, and both clocks (wall ms to line up with
  * Spark's task timestamps, nanoTime for durations). `probe` marks a call
  * the untraced pass does not make (a measurement-only call), so the
  * tracing overhead can be computed on equal work. */
final class SpanRec(val id: Int, val name: String, val parent: Int,
    val probe: Boolean) {
  var startMs, endMs, startNs, endNs = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Driver-side spans around the benchmark's own calls into graft. */
final class Tracer(sc: SparkContext) {
  val spans = ArrayBuffer.empty[SpanRec]
  private var current = -1

  def apply[T](name: String, probe: Boolean = false)(body: => T): T = {
    val s = new SpanRec(spans.length, name, current, probe)
    spans += s
    val prev = current
    current = s.id
    sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
    s.startMs = System.currentTimeMillis()
    s.startNs = System.nanoTime()
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      current = prev
      sc.setLocalProperty(Tracer.SpanKey, if (prev < 0) null else prev.toString)
    }
  }

  def children(id: Int): Seq[SpanRec] = spans.filter(_.parent == id).toSeq
  def subtree(id: Int): Set[Int] =
    Set(id) ++ children(id).flatMap(c => subtree(c.id))
  /** Duration minus the part its children cover (children run in sequence). */
  def selfSeconds(s: SpanRec): Double = s.seconds - children(s.id).map(_.seconds).sum
  def named(prefix: String, under: Int): Seq[SpanRec] =
    spans.filter(s => s.name.startsWith(prefix) && subtree(under)(s.id)).toSeq
}

object Tracer {
  val SpanKey = "graftbench.span"
}

/** What the scheduler did inside one span (inclusive of its children). */
final case class SpanStats(jobs: Int, tasks: Int, gcS: Double,
    shuffleWriteMb: Double, spillMb: Double, skew: Double,
    coreUtil: Double, idleS: Double, serialS: Double, fullS: Double,
    wallS: Double)

object SpanStats {
  val MB = 1024.0 * 1024.0

  def of(tr: Tracer, l: ProfileListener, s: SpanRec, cores: Int): SpanStats = {
    val ids = tr.subtree(s.id)
    val mine = l.tasks.filter(t => ids(t.span))
    val durs = mine.map(t => (t.finishMs - t.launchMs).toDouble).sorted
    val skew =
      if (durs.isEmpty) 0.0
      else {
        val med = durs(durs.length / 2)
        if (med > 0) durs.last / med else 1.0
      }
    val (busy, idle, serial, full) = occupancy(l.tasks, s.startMs, s.endMs, cores)
    val wall = math.max((s.endMs - s.startMs) / 1e3, 1e-3)
    SpanStats(
      jobs = l.jobs.count(j => ids(j._1)),
      tasks = mine.length,
      gcS = mine.map(_.gcMs).sum / 1e3,
      shuffleWriteMb = mine.map(_.shuffleWriteB).sum / MB,
      spillMb = mine.map(_.spillB).sum / MB,
      skew = skew,
      coreUtil = busy / (wall * cores),
      idleS = idle, serialS = serial, fullS = full, wallS = wall)
  }

  /** Sweep over every task overlapping [a, b] ms: (busy core-seconds,
    * seconds with no task running, with exactly one, with all cores busy). */
  def occupancy(tasks: Seq[TaskRec], a: Long, b: Long,
      cores: Int): (Double, Double, Double, Double) = {
    val ev = tasks.filter(t => t.finishMs > a && t.launchMs < b)
      .flatMap(t => Seq((math.max(t.launchMs, a), 1), (math.min(t.finishMs, b), -1)))
      .sortBy(e => (e._1, e._2))
    var running = 0
    var last = a
    var busy, idle, serial, full = 0.0
    def acc(until: Long): Unit = {
      val dt = (until - last) / 1e3
      busy += dt * running
      if (running == 0) idle += dt
      if (running == 1) serial += dt
      if (running >= cores) full += dt
      last = until
    }
    ev.foreach { case (t, d) => acc(t); running += d }
    acc(math.max(b, last))
    (busy, idle, serial, full)
  }
}
