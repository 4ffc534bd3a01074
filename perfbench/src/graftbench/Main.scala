package graftbench

import org.apache.spark.graftbench.ListenerDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.CachedData

import scala.collection.mutable

/** Shared state of one benchmark process. */
final class Ctx(val spark: SparkSession, val cores: Int, val seed: Long,
    val work: String, val listener: ProfileListener) {
  def sc: org.apache.spark.SparkContext = spark.sparkContext
  def drain(): Unit = ListenerDrain(sc)

  private def cacheManager = spark.sharedState.cacheManager

  /** Drop every cached Dataset and persisted RDD, so passes stay independent,
    * and wait until the block manager has removed their blocks (an op's own
    * non-blocking unpersist may still be in flight). Then the listener's
    * cache count starts again from zero. Last, a full collection, so every
    * pass starts from the same heap state rather than inheriting the
    * previous pass's garbage. */
  def clearCaches(): Unit = {
    cacheManager.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val deadline = System.nanoTime() + 10000000000L
    while (ListenerDrain.rddBlocks() > 0 && System.nanoTime() < deadline) Thread.sleep(20)
    drain()
    listener.resetEmpty()
    System.gc()
  }

  /** Cache entries of the session. The list is private to CacheManager;
    * only its size is public, and the leak accounting needs the entries. */
  def cacheEntries: Seq[CachedData] = {
    val f = cacheManager.getClass.getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(cacheManager).asInstanceOf[IndexedSeq[CachedData]].toSeq
  }

  def entryRddId(e: CachedData): Option[Int] = {
    val b = e.cachedRepresentation.cacheBuilder
    if (b.isCachedColumnBuffersLoaded) Some(b.cachedColumnBuffers.id) else None
  }

  def rddBytes: Map[Int, Long] =
    sc.getRDDStorageInfo.map(i => i.id -> (i.memSize + i.diskSize)).toMap
}

/** Counts operations and the ones that threw or failed their check. */
final class Outcomes {
  var attempted = 0
  var failed = 0
  val notes = mutable.ArrayBuffer.empty[String]

  /** Run one checked operation; `body` returns the failed checks' names. */
  def op(name: String)(body: => Seq[String]): Unit = {
    attempted += 1
    val bad = try body catch {
      case e: Throwable =>
        val msg = String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")
        Seq(s"threw ${e.getClass.getSimpleName}: ${msg.take(200)}")
    }
    if (bad.nonEmpty) {
      failed += 1
      if (notes.length < 20) notes += s"$name: ${bad.mkString("; ")}"
    }
  }
}

/** A metric as printed: value and unit. */
final case class Metric(value: Double, unit: String)

object Main {

  /** Set-ups per run; setup_s is their median. */
  val Setups = 3

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Highest percentile with at least ten samples above it, if any. */
  def tailPercentile(xs: Seq[Double]): Option[(Int, Double)] = {
    val s = xs.sorted
    (99 to 50 by -1).find(q => s.length - math.ceil(s.length * q / 100.0) >= 10)
      .map(q => q -> s(math.ceil(s.length * q / 100.0).toInt - 1))
  }

  def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case i: Int => i.toString
    case l: Long => l.toString
    case b: Boolean => b.toString
    case m: Metric => s"""{"value": ${json(m.value)}, "unit": ${json(m.unit)}}"""
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ", ", "]")
    case null => "null"
    case other => json(other.toString)
  }

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  private def cpuModel: String = {
    val f = new java.io.File("/proc/cpuinfo")
    if (!f.canRead) System.getProperty("os.arch")
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("model name"))
        .map(_.split(":", 2)(1).trim).getOrElse("unknown")
      finally src.close()
    }
  }

  private def calibration(): Map[String, Double] = Map(
    "scalar_s" -> graft.Bench.measureCalibration(reps = 1)._1,
    "parallel_s" -> graft.Bench.measureCalibrationParallel(reps = 1)._1)

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val workloadName = arg(args, "--workload").getOrElse(sys.error("--workload required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(sys.error("--seed required"))
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(sys.error("--seconds required"))
    val trace = arg(args, "--trace").contains("1")
    val cores = arg(args, "--cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val work = arg(args, "--work").getOrElse(sys.error("--work required"))
    val workload = Workload(workloadName)

    // host speed before and after, in traced runs (≈3 s each, so the
    // measuring runs skip it)
    val calT0 = System.nanoTime()
    val calBefore = if (trace) calibration() else Map.empty[String, Double]
    val calS = (System.nanoTime() - calT0) / 1e9
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workloadName")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new ProfileListener
    spark.sparkContext.addSparkListener(listener)
    val ctx = new Ctx(spark, cores, seed, work, listener)
    val outcomes = new Outcomes

    try {
      // set-up (inputs written and read back, IVF trained); the first also
      // pays JVM start, session and class loading, but not the calibration
      val setupS = (0 until Setups).map { i =>
        ctx.clearCaches()
        val t0 = System.currentTimeMillis()
        workload.setup(ctx)
        val t1 = System.currentTimeMillis()
        if (i == 0) (t1 - jvmStartMs) / 1e3 - calS else (t1 - t0) / 1e3
      }
      val w0 = System.nanoTime()
      workload.warmup(ctx, outcomes)
      val warmupS = (System.nanoTime() - w0) / 1e9
      val result =
        if (trace) workload.traced(ctx, outcomes, seconds)
        else workload.measured(ctx, outcomes, seconds)
      ctx.clearCaches()
      val calAfter = if (trace) calibration() else Map.empty[String, Double]

      val host = Map(
        "nproc" -> Runtime.getRuntime.availableProcessors, "cores" -> cores,
        "cpu_model" -> cpuModel,
        "jvm_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576L,
        "spark_version" -> spark.version,
        "calibration_before" -> calBefore, "calibration_after" -> calAfter)
      val metrics: Map[String, Metric] =
        if (trace) result.perLayer
        else Map("setup_s" -> Metric(median(setupS), "s")) ++ result.endToEnd
      // report lines, then the result line
      println(s"[host] ${json(host)}")
      println(s"[input] ${json(workload.inputProps(ctx))}")
      println(f"[setup] ${setupS.map(s => f"$s%.3f").mkString(" ")} s (median of $Setups%d); " +
        f"then warm-up $warmupS%.3f s")
      result.report.foreach(l => println(s"[report] $l"))
      outcomes.notes.foreach(n => println(s"[failed] $n"))
      println(f"[report] failed_frac = ${outcomes.failed.toDouble / math.max(outcomes.attempted, 1)}%.4f ratio " +
        s"(${outcomes.failed} of ${outcomes.attempted} operations)")
      metrics.toSeq.sortBy(_._1).foreach { case (k, m) =>
        println(s"[metric] $k = ${m.value} ${m.unit}")
      }
      if (trace) {
        val dir = new java.io.File(work, "traces")
        dir.mkdirs()
        val f = new java.io.File(dir, s"$workloadName-seed$seed.json")
        val w = new java.io.PrintWriter(f, "UTF-8")
        try w.println(json(Map("workload" -> workloadName, "seed" -> seed,
          "host" -> host, "input" -> workload.inputProps(ctx), "setup_s" -> setupS,
          "metrics" -> metrics.map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) },
          "trace" -> result.traceDoc)))
        finally w.close()
      }
      println(json(Map(
        "correct" -> (outcomes.failed == 0 && outcomes.attempted > 0),
        "attempted" -> math.max(outcomes.attempted, 1),
        "failed" -> (if (outcomes.attempted == 0) 1 else outcomes.failed),
        "metrics" -> metrics)))
    } finally spark.stop()
  }
}
