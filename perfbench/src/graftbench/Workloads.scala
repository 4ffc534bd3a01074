package graftbench

import graft.core.GlmData
import graft.estimators._
import graft.families.{Family, Logistic, Normal, Poisson}
import graft.linalg.Kernels
import graft.ops.{Dedup, Quality, Similarity}
import graft.regularizers.{ElasticNet, Regularizer}
import graft.solvers.Solvers
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** What a run reports: end-to-end metrics (untraced run) or per-layer
  * metrics (traced run), report lines, and the trace document. */
final case class Result(endToEnd: Map[String, Metric], perLayer: Map[String, Metric],
    report: Seq[String], traceDoc: Any)

/** One untraced pass: its timings, and the checks to run once the clock
  * has stopped. */
final case class Pass(times: Map[String, Double], check: () => Unit)

/** One traced pass: per-layer values, and its checks. */
final case class TracedPass(values: Map[String, Double], tracer: Tracer,
    root: SpanRec, leaks: Seq[(String, Double, Int)], check: () => Unit)

abstract class Workload {
  def name: String
  /** Generate and write the inputs, read them back, train what the passes
    * need. */
  def setup(ctx: Ctx): Unit
  /** One checked pass before the clock starts: loads classes and compiles
    * the hot loops. */
  def warmup(ctx: Ctx, out: Outcomes): Unit = {
    pass(ctx, out).check()
    ctx.clearCaches()
  }
  def inputProps(ctx: Ctx): Map[String, Any]
  protected def pass(ctx: Ctx, out: Outcomes): Pass
  protected def tracedPass(ctx: Ctx, out: Outcomes): TracedPass
  /** Values measured outside the passes (e.g. in set-up). */
  protected def setupValues: Map[String, Double] = Map.empty
  /** Passes measured even when they outlast the window, so pass_s is a
    * median over more than one pass. */
  protected def minPasses: Int = 1

  private def elapsed(t0: Long) = (System.nanoTime() - t0) / 1e9

  /** Run one untraced pass: clear caches, time, read the cache peak, check. */
  private def measuredPass(ctx: Ctx, out: Outcomes): Option[Map[String, Double]] = {
    ctx.clearCaches()
    val p = try Some(pass(ctx, out)) catch {
      case e: Exception => out.op(s"$name pass")(throw e); None
    }
    p.map { ps =>
      ctx.drain()
      val peak = ctx.listener.peakBytes / SpanStats.MB
      val t = System.nanoTime()
      ps.check()
      ps.times + ("peak_cache_mb" -> peak) + ("check_s" -> (System.nanoTime() - t) / 1e9)
    }
  }

  def measured(ctx: Ctx, out: Outcomes, seconds: Double): Result = {
    val samples = mutable.ArrayBuffer.empty[Map[String, Double]]
    val t0 = System.nanoTime()
    var tries = 0
    while (tries < minPasses || elapsed(t0) < seconds) {
      measuredPass(ctx, out).foreach(samples += _)
      tries += 1
    }
    require(samples.nonEmpty, "no pass completed")
    val passS = samples.map(_("pass_s")).toSeq
    val keys = samples.flatMap(_.keys).distinct.sorted
    val med = keys.map(k => k -> Main.median(samples.flatMap(_.get(k)).toSeq)).toMap
    val tail = Main.tailPercentile(passS)
      .map { case (q, v) => f"p$q = $v%.4f s" }
      .getOrElse("no percentile has 10 passes above it")
    val report = Seq(
      f"passes = ${samples.length} closed loop, 1 client; pass_s median ${med("pass_s")}%.4f s; $tail",
      s"pass_s each = ${passS.map(v => f"$v%.3f").mkString(" ")} s") ++
      keys.filterNot(Set("pass_s", "peak_cache_mb")).map(k => f"$k = ${med(k)}%.6g ${Units(k)}")
    Result(Map(
        "pass_s" -> Metric(med("pass_s"), "s"),
        "peak_cache_mb" -> Metric(med("peak_cache_mb"), "MB")),
      Map.empty, report, null)
  }

  /** Untraced and traced passes alternate; per-layer values are medians
    * over the traced ones, the overhead compares the two on equal work. */
  def traced(ctx: Ctx, out: Outcomes, seconds: Double): Result = {
    val plain = mutable.ArrayBuffer.empty[Map[String, Double]]
    val traced = mutable.ArrayBuffer.empty[TracedPass]
    val t0 = System.nanoTime()
    while (traced.isEmpty || elapsed(t0) < seconds) {
      measuredPass(ctx, out).foreach(plain += _)
      ctx.clearCaches()
      ctx.listener.clear()
      val tp = tracedPass(ctx, out)
      ctx.drain()
      traced += tp
      tp.check()
    }
    val keys = traced.flatMap(_.values.keys).distinct
    val vals = keys.map(k => k -> Main.median(traced.flatMap(_.values.get(k)).toSeq)).toMap
    val equalWork = traced.map { tp =>
      tp.root.seconds - tp.tracer.spans.filter(s => s.probe && s.parent == tp.root.id).map(_.seconds).sum
    }.toSeq
    val plainPass = Main.median(plain.map(_("pass_s")).toSeq)
    val fromPlain = plain.flatMap(_.keys).distinct.filter(k => k.startsWith("fit_s.") ||
      k == "score_rows_per_s").map(k => k -> Main.median(plain.flatMap(_.get(k)).toSeq))
    val all = Units.perLayer.map { case (k, _) => k -> 0.0 }.toMap ++ vals ++ fromPlain ++
      setupValues + ("trace.overhead_frac" -> (Main.median(equalWork) / plainPass - 1.0))
    val last = traced.last
    val table = spanTable(ctx, last)
    val selfSum = last.tracer.spans.filter(_.id != last.root.id).map(last.tracer.selfSeconds).sum
    val report = Seq(
      f"traced passes = ${traced.length}, untraced passes = ${plain.length}; untraced pass_s median $plainPass%.4f s",
      f"span self times ${selfSum}%.4f s + unattributed ${last.tracer.selfSeconds(last.root)}%.4f s = " +
        f"${selfSum + last.tracer.selfSeconds(last.root)}%.4f s; traced pass wall ${last.root.seconds}%.4f s") ++
      table.map(r => r.mkString(" | ")) ++
      last.leaks.map { case (op, mb, n) => f"leak after $op: $mb%.3f MB in $n entries" }
    Result(Map.empty,
      Units.perLayer.map { case (k, u) => k -> Metric(all.getOrElse(k, 0.0), u) }.toMap,
      report,
      Map("spans" -> last.tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name,
          "parent" -> s.parent, "probe" -> s.probe, "seconds" -> s.seconds,
          "self_seconds" -> last.tracer.selfSeconds(s))),
        "table" -> table,
        "leaks" -> last.leaks.map { case (op, mb, n) => Map("op" -> op, "mb" -> mb, "entries" -> n) }))
  }

  /** Per-span table of the last traced pass: name, wall, self, jobs, tasks,
    * core utilization, seconds with no task running, shuffle write. */
  private def spanTable(ctx: Ctx, tp: TracedPass): Seq[Seq[String]] = {
    val header = Seq("span", "wall_s", "self_s", "jobs", "tasks", "core_util", "idle_s", "shuffle_write_mb")
    header +: tp.tracer.spans.toSeq.map { s =>
      val st = SpanStats.of(tp.tracer, ctx.listener, s, ctx.cores)
      val label = if (s.id == tp.root.id) "pass (self = unattributed)" else s.name
      Seq(label, f"${s.seconds}%.4f", f"${tp.tracer.selfSeconds(s)}%.4f", st.jobs.toString,
        st.tasks.toString, f"${st.coreUtil}%.3f", f"${st.idleS}%.3f", f"${st.shuffleWriteMb}%.3f")
    }
  }

  // -------------------------------------------------- shared trace helpers

  /** Cache state before an op span, for the leak accounting. */
  protected final case class CacheSnap(entries: Set[Int], rdds: Set[Int])

  protected def snap(ctx: Ctx): CacheSnap = CacheSnap(
    ctx.cacheEntries.map(System.identityHashCode).toSet, ctx.sc.getPersistentRDDs.keySet.toSet)

  /** Entries and bytes an op left cached beyond `owned` (frames the
    * benchmark persisted itself, and results the op documents as persisted). */
  protected def leaked(ctx: Ctx, before: CacheSnap, owned: Seq[DataFrame],
      ownedRdds: Set[Int] = Set.empty): (Double, Int) = {
    val cm = ctx.spark.sharedState.cacheManager
    val ownedEntries = owned.flatMap(d => cm.lookupCachedData(
      d.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])).map(System.identityHashCode).toSet
    val entries = ctx.cacheEntries.filter { e =>
      val h = System.identityHashCode(e)
      !before.entries(h) && !ownedEntries(h)
    }
    val ownedEntryRdds = ctx.cacheEntries.filter(e => ownedEntries(System.identityHashCode(e)))
      .flatMap(ctx.entryRddId).toSet
    val entryRdds = entries.flatMap(ctx.entryRddId).toSet
    val plainRdds = ctx.sc.getPersistentRDDs.keySet.toSet -- before.rdds -- ownedRdds --
      ownedEntryRdds -- entryRdds
    val bytes = ctx.rddBytes
    val mb = (entryRdds ++ plainRdds).toSeq.map(bytes.getOrElse(_, 0L)).sum / SpanStats.MB
    (mb, entries.length + plainRdds.size)
  }

  /** Scheduler metrics of a whole traced pass. */
  protected def schedValues(ctx: Ctx, tr: Tracer, root: SpanRec): Map[String, Double] = {
    val st = SpanStats.of(tr, ctx.listener, root, ctx.cores)
    Map("sched.core_util" -> st.coreUtil, "sched.idle_frac" -> st.idleS / st.wallS,
      "sched.serial_frac" -> st.serialS / st.wallS, "sched.full_frac" -> st.fullS / st.wallS,
      "sched.gc_s" -> st.gcS, "sched.spill_mb" -> st.spillMb,
      "trace.unattributed_s" -> tr.selfSeconds(root))
  }

  protected def writeParquet(ctx: Ctx, df: DataFrame, files: Int): DataFrame = {
    val path = s"${ctx.work}/data/$name-seed${ctx.seed}"
    df.coalesce(files).write.mode("overwrite").parquet(path)
    ctx.spark.read.parquet(path)
  }

  protected def bytesOnDisk(ctx: Ctx): Long = {
    val dir = new java.io.File(s"${ctx.work}/data/$name-seed${ctx.seed}")
    Option(dir.listFiles).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
  }
}

object Workload {
  def apply(name: String): Workload = name match {
    case "glm_tall" => new GlmWorkload("glm_tall", Inputs.TallRows, Inputs.TallP,
      Inputs.glmTall, Seq(FitSpec("admm", "logistic", "l2", "label")), score = true)
    case "glm_wide" => new GlmWorkload("glm_wide", Inputs.WideRows, Inputs.WideP,
      Inputs.glmWide, Seq(
        FitSpec("gradient_descent", "logistic", "l2", "label_logistic"),
        FitSpec("newton", "poisson", "l2", "label_poisson"),
        FitSpec("lbfgs", "logistic", "l2", "label_logistic"),
        FitSpec("proximal_grad", "normal", "l1", "label_normal"),
        FitSpec("admm", "logistic", "elastic_net", "label_logistic")), score = false)
    case "curate_corpus" => new CurateWorkload
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Metric names and units. Every per-layer metric is printed on every
  * workload; a layer a workload does not run reads 0. */
object Units {
  val Solvers = Seq("admm", "lbfgs", "newton", "proximal_grad", "gradient_descent")

  val perLayer: Seq[(String, String)] = Seq(
    "core.ingest_s" -> "s", "core.ingest_share" -> "ratio", "core.ingest_jobs" -> "count",
    "core.ingest_tasks" -> "count", "core.ingest_core_util" -> "ratio",
    "core.ingest_idle_s" -> "s", "core.shuffle_write_mb" -> "MB", "core.cache_mb" -> "MB",
    "linalg.lossGrad_s" -> "s", "linalg.gradHess_s" -> "s", "linalg.tasks_per_call" -> "count",
    "linalg.task_skew" -> "ratio", "linalg.lossGrad_gbps" -> "GB/s") ++
    Solvers.flatMap(s => Seq(s"solvers.$s.jobs" -> "count", s"solvers.$s.driver_s" -> "s",
      s"solvers.$s.s_per_job" -> "s", s"fit_s.$s" -> "s")) ++ Seq(
    "estimators.score_s" -> "s", "estimators.score_tasks" -> "count",
    "score_rows_per_s" -> "rows/s",
    "quality.gopher_s" -> "s", "quality.dropped_docs" -> "count",
    "dedup.candidates_s" -> "s", "dedup.candidate_pairs" -> "count",
    "dedup.star_pairs" -> "count", "dedup.verify_s" -> "s", "dedup.verified_pairs" -> "count",
    "dedup.verify_yield" -> "ratio", "dedup.sym_edges" -> "count", "dedup.cluster_s" -> "s",
    "dedup.cluster_jobs" -> "count", "dedup.cluster_shuffle_mb" -> "MB", "dedup.keep_s" -> "s",
    "dedup.kept_docs" -> "count",
    "similarity.train_s" -> "s", "similarity.semdedup_s" -> "s",
    "similarity.semdedup_pairs" -> "count", "similarity.kept_docs" -> "count",
    "sched.core_util" -> "ratio", "sched.idle_frac" -> "ratio", "sched.serial_frac" -> "ratio",
    "sched.full_frac" -> "ratio", "sched.gc_s" -> "s", "sched.spill_mb" -> "MB",
    "trace.unattributed_s" -> "s", "trace.overhead_frac" -> "ratio",
    "cache.leaked_mb" -> "MB", "cache.leaked_entries" -> "count")

  private val all = perLayer.toMap ++ Map("pass_s" -> "s", "peak_cache_mb" -> "MB",
    "score_s" -> "s", "check_s" -> "s", "docs_per_s" -> "docs/s")
  def apply(k: String): String = all.getOrElse(k, "")
}

// ======================================================================= GLM

final case class FitSpec(solver: String, family: String, reg: String, label: String) {
  /** Estimator defaults, except ADMM's: 20 consensus rounds with warm-started
    * local solves (the library's own fit benchmark setting). At the default
    * 100 cold-started rounds a 6.4×10⁵-row fit takes about 45 s on 4 cores,
    * not 6 s, and reaches the same optimality residual. */
  def params(cores: Int): GlmParams = {
    val p = GlmParams(solver = solver, regularizer = reg, labelCol = label, nPartitions = cores)
    if (solver == "admm") p.copy(maxIter = 20, admmWarmStart = true) else p
  }
  def estimator(cores: Int): GLM = family match {
    case "logistic" => new LogisticRegression(params(cores))
    case "poisson" => new PoissonRegression(params(cores))
    case "normal" => new LinearRegression(params(cores))
  }
  def fam: Family = family match {
    case "logistic" => Logistic
    case "poisson" => Poisson
    case "normal" => Normal
  }
  /** Newton and gradient descent ignore the regularizer. */
  def objectiveReg: String =
    if (solver == "newton" || solver == "gradient_descent") "none" else reg
}

final class GlmWorkload(val name: String, rows: Int, p: Int,
    gen: (SparkSession, Long) => DataFrame, fits: Seq[FitSpec], score: Boolean)
    extends Workload {
  private var df: DataFrame = _
  private var stats: Checks.ColStats = _
  private var splits = 0

  def setup(ctx: Ctx): Unit = {
    // one parquet file, like the reference's single-file test data
    df = writeParquet(ctx, gen(ctx.spark, ctx.seed), 1)
    splits = df.rdd.getNumPartitions
    stats = null
  }

  def inputProps(ctx: Ctx): Map[String, Any] = Map(
    "seed" -> ctx.seed, "rows" -> rows, "p" -> p, "intercept" -> true,
    "bytes_on_disk" -> bytesOnDisk(ctx), "parquet_splits" -> splits,
    "driver_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576L,
    "fits" -> fits.map(f => s"${f.solver}/${f.family}/${f.objectiveReg}"))

  private def checkFit(out: Outcomes, f: FitSpec, beta: Array[Double]): Unit =
    out.op(s"fit ${f.solver}") {
      if (stats == null) stats = Checks.colStats(df, f.label, p)
      val c = Checks.glmResidual(df, f.label, beta, f.family, f.objectiveReg,
        f.params(0).lamduh, stats, f.params(0).elasticNetWeight)
      val tol = Checks.ResidualTol(f.solver)
      Seq(
        if (c.residual < tol) None
        else Some(f"optimality residual ${c.residual}%.3g >= $tol%.1g"),
        if (f.family != "logistic" || c.moment < Checks.MomentTol) None
        else Some(f"moment |Σσ(Xβ)−Σy|/n ${c.moment}%.3g >= ${Checks.MomentTol}%.1g")
      ).flatten
    }

  private def checkScore(out: Outcomes, beta: Array[Double], acc: Double): Unit =
    out.op("score") {
      val mine = Checks.accuracy(df, beta, p)
      if (math.abs(mine - acc) <= 1.0 / rows) Nil
      else Seq(f"accuracy $acc%.6f vs recomputed $mine%.6f")
    }

  protected def pass(ctx: Ctx, out: Outcomes): Pass = {
    val times = mutable.Map.empty[String, Double]
    val t0 = System.nanoTime()
    val fitted = fits.map { f =>
      val t = System.nanoTime()
      val m = f.estimator(ctx.cores).fit(df)
      times(s"fit_s.${f.solver}") = (System.nanoTime() - t) / 1e9
      f -> m
    }
    var acc = Double.NaN
    if (score) {
      val t = System.nanoTime()
      acc = fitted.head._2.asInstanceOf[LogisticRegression].score(df)
      val s = (System.nanoTime() - t) / 1e9
      times("score_s") = s
      times("score_rows_per_s") = rows / s
    }
    times("pass_s") = (System.nanoTime() - t0) / 1e9
    Pass(times.toMap, () => {
      fitted.foreach { case (f, m) => checkFit(out, f, m.rawCoef.toArray) }
      if (score) checkScore(out, fitted.head._2.rawCoef.toArray, acc)
    })
  }

  /** The estimator's fit, spelled out through the layers' public
    * functions (Estimators.fit, same arguments), with a span per call. */
  protected def tracedPass(ctx: Ctx, out: Outcomes): TracedPass = {
    val tr = new Tracer(ctx.sc)
    val betas = mutable.ArrayBuffer.empty[(FitSpec, Array[Double])]
    val leaks = mutable.ArrayBuffer.empty[(String, Double, Int)]
    var acc = Double.NaN
    var cacheMb = 0.0
    tr("pass") {
      fits.zipWithIndex.foreach { case (f, i) =>
        val before = snap(ctx)
        val pr = f.params(ctx.cores)
        val (data, isSparse) = tr("core.ingest") {
          val base0 = tr("core.fromDF")(GlmData.fromDF(df, pr.featuresCol, pr.labelCol))
          val base = tr("core.repartition")(base0.repartition(pr.nPartitions))
          val withIntercept = tr("core.addIntercept")(base.addIntercept)
          tr("core.persist") {
            withIntercept.persist(StorageLevel.MEMORY_AND_DISK)
            withIntercept.rows.count()
          }
          (withIntercept, base.isSparse)
        }
        cacheMb = math.max(cacheMb, ctx.rddBytes.getOrElse(data.rows.id, 0L) / SpanStats.MB)
        if (i == 0) {
          // kernel probes on the persisted rows: calls a fit makes, timed alone
          val b = breeze.linalg.DenseVector.fill(data.numFeatures)(0.01)
          for (_ <- 0 until 3) {
            tr("linalg.lossGrad", probe = true)(Kernels.lossGrad(data, b, Logistic))
            tr("linalg.gradHess", probe = true)(Kernels.gradHess(data, b, Logistic))
          }
        }
        val beta = tr(s"solvers.${f.solver}") {
          Solvers.solve(pr.solver, data, f.fam, maxIter = pr.maxIter, tol = pr.tol,
            regularizer = pr.regularizer match {
              case "elastic_net" => new ElasticNet(pr.elasticNetWeight)
              case other => Regularizer.get(other)
            },
            lamduh = pr.lamduh, rho = pr.rho, overRelax = pr.overRelax,
            abstol = pr.abstol, reltol = pr.reltol,
            normalize = pr.normalize && !isSparse, admmWarmStart = pr.admmWarmStart)
        }
        data.unpersist()
        val (mb, n) = leaked(ctx, before, Nil)
        leaks += ((s"fit ${f.solver}", mb, n))
        betas += (f -> beta.toArray)
      }
      if (score) {
        val m = new LogisticRegression(fits.head.params(ctx.cores))
        m.rawCoef = breeze.linalg.DenseVector(betas.head._2)
        acc = tr("estimators.score")(m.score(df))
      }
    }
    val root = tr.spans.head
    ctx.drain()
    val v = mutable.Map.empty[String, Double]
    val l = ctx.listener
    val ingest = tr.named("core.ingest", root.id).map(s => SpanStats.of(tr, l, s, ctx.cores))
    val solves = fits.map(f => f -> tr.named(s"solvers.${f.solver}", root.id).head)
    val ingestS = ingest.map(_.wallS).sum
    v("core.ingest_s") = ingestS
    v("core.ingest_share") = ingestS / (ingestS + solves.map(_._2.seconds).sum)
    v("core.ingest_jobs") = ingest.map(_.jobs).sum
    v("core.ingest_tasks") = ingest.map(_.tasks).sum
    v("core.ingest_core_util") = ingest.map(s => s.coreUtil * s.wallS).sum / ingestS
    v("core.ingest_idle_s") = ingest.map(_.idleS).sum
    v("core.shuffle_write_mb") = ingest.map(_.shuffleWriteMb).sum
    v("core.cache_mb") = cacheMb
    val lg = tr.named("linalg.lossGrad", root.id).map(s => SpanStats.of(tr, l, s, ctx.cores))
    v("linalg.lossGrad_s") = Main.median(tr.named("linalg.lossGrad", root.id).map(_.seconds))
    v("linalg.gradHess_s") = Main.median(tr.named("linalg.gradHess", root.id).map(_.seconds))
    v("linalg.tasks_per_call") = Main.median(lg.map(_.tasks.toDouble))
    v("linalg.task_skew") = Main.median(lg.map(_.skew))
    v("linalg.lossGrad_gbps") = rows.toDouble * (p + 1) * 8 / v("linalg.lossGrad_s") / 1e9
    solves.foreach { case (f, s) =>
      val st = SpanStats.of(tr, l, s, ctx.cores)
      v(s"solvers.${f.solver}.jobs") = st.jobs
      v(s"solvers.${f.solver}.driver_s") = st.idleS
      v(s"solvers.${f.solver}.s_per_job") = s.seconds / math.max(st.jobs, 1)
    }
    if (score) {
      val s = tr.named("estimators.score", root.id).head
      v("estimators.score_s") = s.seconds
      v("estimators.score_tasks") = SpanStats.of(tr, l, s, ctx.cores).tasks
    }
    v ++= schedValues(ctx, tr, root)
    v("cache.leaked_mb") = leaks.map(_._2).sum
    v("cache.leaked_entries") = leaks.map(_._3).sum
    TracedPass(v.toMap, tr, root, leaks.toSeq, () => {
      betas.foreach { case (f, b) => checkFit(out, f, b) }
      if (score) checkScore(out, betas.head._2, acc)
    })
  }
}

// ==================================================================== corpus

/** Curation pipeline over a generated corpus (no GLM code): Gopher quality
  * filter, MinHash candidates, exact Jaccard verification, one document per
  * near-duplicate cluster, then semantic dedup over the embeddings. */
final class CurateWorkload extends Workload {
  val name = "curate_corpus"

  /** Jaccard threshold of the verification step: planted documents one
    * edit apart (≈0.84) and two apart (≈0.68) verify, three apart (≈0.55)
    * do not. */
  val Tau = 0.6
  /** Cosine threshold of semantic dedup. */
  val TauCos = 0.95
  val IvfCells = 128
  /** clusterPairs' default: edge sets up to this size are labelled on the
    * driver, larger ones by the distributed rounds. */
  val LocalEdgeThreshold = 100000L
  val NProbe = 2
  /** Floors on the share of planted pairs found. Consecutive chain
    * documents (Jaccard ≈ 0.84) share a MinHash band with probability
    * 1 − (1 − 0.84²)⁴ ≈ 0.99 at the default 4 bands × 2 rows. */
  val ChainRecallFloor = 0.95
  val EmbRecallFloor = 0.99

  private var corpus: Inputs.Corpus = _
  private var df: DataFrame = _
  private var centroids: Array[Array[Double]] = _
  private val trainS = mutable.ArrayBuffer.empty[Double]
  private var splits = 0
  private var edges = 0L

  def setup(ctx: Ctx): Unit = {
    corpus = Inputs.corpus(ctx.seed)
    df = writeParquet(ctx, Inputs.corpusFrame(ctx.spark, corpus, ctx.cores), ctx.cores)
    splits = df.rdd.getNumPartitions
    val t = System.nanoTime()
    centroids = Similarity.trainIvfCentroids(df, "embedding", IvfCells, seed = ctx.seed)
    trainS += (System.nanoTime() - t) / 1e9
  }

  override protected def setupValues: Map[String, Double] =
    Map("similarity.train_s" -> Main.median(trainS.toSeq))

  def inputProps(ctx: Ctx): Map[String, Any] = Map(
    "seed" -> ctx.seed, "docs" -> corpus.size, "unique_docs" -> Inputs.UniqueDocs,
    "chains" -> Inputs.ChainCount, "chain_length" -> Inputs.ChainLength,
    "templates" -> s"${Inputs.TemplateCount} x ${Inputs.TemplateSize}",
    "words_per_doc" -> s"${Inputs.DocWords._1}..${Inputs.DocWords._2}",
    "flood_size" -> Inputs.FloodSize, "max_bucket" -> Dedup.DefaultMaxBucket,
    "low_quality_docs" -> corpus.lowQuality.size,
    "embedding_dim" -> Inputs.EmbDim,
    "embedding_clusters" -> s"${Inputs.EmbClusters} x ${Inputs.EmbClusterSize}",
    "symmetrized_edges" -> edges, "local_edge_threshold" -> LocalEdgeThreshold,
    "bytes_on_disk" -> bytesOnDisk(ctx), "parquet_splits" -> splits,
    "driver_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576L)

  private def filtered(src: DataFrame): DataFrame =
    Quality.gopherQuality(src, "text", minWords = Inputs.MinWords).filter(col("gopher_keep"))
      .select("id", "text", "embedding")

  /** The warm-up runs the pipeline once on every WarmStride-th document
    * (ids are a seeded permutation, so that is a sample of every planted
    * group), with the bucket cap and edge threshold scaled down so the star
    * branch and the distributed clusterPairs rounds run. That loads and
    * compiles most of the code in about 60% of a cold full pass's time.
    * The first full pass after it is still 10–20% slower than later ones
    * (so is the second after a full warm-up pass), and a single pass varies
    * by ±5%, so pass_s is the median of at least two passes even when one
    * pass outlasts the window. */
  val WarmStride = 4
  val WarmMaxBucket = Dedup.DefaultMaxBucket / WarmStride / 2

  override def warmup(ctx: Ctx, out: Outcomes): Unit = {
    pipeline((_, _, _) => body => own(body)._1, probe = false, warm = true)
    ctx.clearCaches()
  }

  override protected def minPasses: Int = 2

  /** Materialize an op's output as a fresh, lineage-free frame (an eager
    * local checkpoint, the library's own pipeline idiom), so the next op
    * cannot reuse a cache entry of this one and each step owns its
    * execution. Returns the frame and the id of the RDD that holds it. */
  private def own(d: DataFrame): (DataFrame, Int) = {
    val m = d.localCheckpoint(eager = true)
    val id = m.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      case other => sys.error(s"unexpected checkpoint plan ${other.nodeName}")
    }
    (m, id)
  }

  private final case class Frames(q: DataFrame, cand: DataFrame, ver: DataFrame,
      labels: Option[DataFrame], kept: DataFrame, sd: DataFrame)

  /** The pipeline, each op's output materialized before the next reads it.
    * `step` wraps every call (a span in the traced run). `probe` adds the
    * calls only the traced run makes: clusterPairs on its own, so its
    * rounds and labels can be seen (keepOnePerCluster runs it internally). */
  private def pipeline(step: (String, Boolean, Boolean) => (=> DataFrame) => DataFrame,
      probe: Boolean, warm: Boolean = false): Frames = {
    val src = if (warm) df.filter(col("id") % WarmStride === 0) else df
    val q = step("quality.gopherQuality", false, false)(filtered(src))
    val cand = step("dedup.minhashCandidates", false, false)(
      if (warm) Dedup.minhashCandidates(q, "id", "text", maxBucket = WarmMaxBucket)
      else Dedup.minhashCandidates(q, "id", "text"))
    val ver = step("dedup.jaccardVerify", false, false)(
      Dedup.jaccardVerify(q, cand, "id", "text", Tau))
    // clusterPairs materializes (and above the local threshold persists)
    // its result itself: a documented result, not a leak
    val labels = if (!probe) None else Some(step("dedup.clusterPairs", true, true)(
      Dedup.clusterPairs(ver)))
    val kept = step("dedup.keepOnePerCluster", false, false)(
      if (warm) Dedup.keepOnePerCluster(q, "id", ver, localEdgeThreshold = 0L)
      else Dedup.keepOnePerCluster(q, "id", ver))
    val sd = step("similarity.semDedup", false, false)(
      Dedup.semDedup(kept, "id", "embedding", centroids, TauCos, nprobe = NProbe))
    Frames(q, cand, ver, labels, kept, sd)
  }

  protected def pass(ctx: Ctx, out: Outcomes): Pass = {
    val t0 = System.nanoTime()
    val f = pipeline((_, _, _) => body => own(body)._1, probe = false)
    val s = (System.nanoTime() - t0) / 1e9
    val data = collect(f, probe = false)
    Pass(Map("pass_s" -> s, "docs_per_s" -> corpus.size / s), () => checkSteps(out, data))
  }

  protected def tracedPass(ctx: Ctx, out: Outcomes): TracedPass = {
    val tr = new Tracer(ctx.sc)
    val leaks = mutable.ArrayBuffer.empty[(String, Double, Int)]
    // what the benchmark itself holds (checkpoints) and the results an op
    // documents as persisted; everything else an op leaves cached is a leak
    val ownedFrames = mutable.ArrayBuffer.empty[DataFrame]
    val ownedRdds = mutable.Set.empty[Int]
    def step(name: String, probe: Boolean, documented: Boolean)(
        body: => DataFrame): DataFrame = {
      val before = snap(ctx)
      val d = tr(name, probe) {
        if (documented) body
        else { val (m, id) = own(body); ownedRdds += id; m }
      }
      if (documented) ownedFrames += d
      val (mb, n) = leaked(ctx, before, ownedFrames.toSeq, ownedRdds.toSet)
      leaks += ((name, mb, n))
      d
    }
    val frames = tr("pass")(pipeline((n, p, d) => body => step(n, p, d)(body), probe = true))
    val root = tr.spans.head
    ctx.drain()
    // the step outputs, collected once the clock has stopped
    val data = collect(frames, probe = true)
    val l = ctx.listener
    def st(n: String) = SpanStats.of(tr, l, tr.named(n, root.id).head, ctx.cores)
    def secs(n: String) = tr.named(n, root.id).head.seconds
    val v = mutable.Map.empty[String, Double]
    v("quality.gopher_s") = secs("quality.gopherQuality")
    v("quality.dropped_docs") = corpus.size - data.q.size
    v("dedup.candidates_s") = secs("dedup.minhashCandidates")
    v("dedup.candidate_pairs") = data.cand.length
    v("dedup.star_pairs") = data.starPairs
    v("dedup.verify_s") = secs("dedup.jaccardVerify")
    v("dedup.verified_pairs") = data.ver.length
    v("dedup.verify_yield") = data.ver.length.toDouble / math.max(data.cand.length, 1)
    v("dedup.sym_edges") = 2.0 * data.ver.length
    v("dedup.cluster_s") = secs("dedup.clusterPairs")
    v("dedup.cluster_jobs") = st("dedup.clusterPairs").jobs
    v("dedup.cluster_shuffle_mb") = st("dedup.clusterPairs").shuffleWriteMb
    v("dedup.keep_s") = secs("dedup.keepOnePerCluster")
    v("dedup.kept_docs") = data.kept.size
    v("similarity.semdedup_s") = secs("similarity.semDedup")
    v("similarity.semdedup_pairs") = data.cosPairs.map(_.length.toDouble).getOrElse(0.0)
    v("similarity.kept_docs") = data.survivors.size
    v ++= schedValues(ctx, tr, root)
    v("cache.leaked_mb") = leaks.map(_._2).sum
    v("cache.leaked_entries") = leaks.map(_._3).sum
    TracedPass(v.toMap, tr, root, leaks.toSeq, () => checkSteps(out, data))
  }

  /** Everything the checks need from one pass. Labels and the semantic
    * pairs come from the traced run's extra calls. */
  private final case class Steps(q: Set[Long], cand: Array[(Long, Long)],
      ver: Array[(Long, Long, Double)], labels: Option[Map[Long, Long]], kept: Set[Long],
      cosPairs: Option[Array[(Long, Long, Double)]], survivors: Set[Long], starPairs: Long)

  private def ids(d: DataFrame): Set[Long] = d.select("id").collect().map(_.getLong(0)).toSet

  private def collect(f: Frames, probe: Boolean): Steps = {
    val cand = f.cand.select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1)))
    // semDedup does not expose its pairs: recompute them with the same
    // arguments semDedup passes
    val cos = if (!probe) None else Some(
      Dedup.cosineNearDupsMultiProbe(f.kept, "id", "embedding", TauCos, centroids, NProbe)
        .select("id1", "id2", "cos").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
    // every bucket of a flood document is above maxBucket, so each pair
    // touching the flood's minimum id comes from the star branch
    val floodRep = corpus.flood.min
    val s = Steps(ids(f.q), cand,
      f.ver.select("id1", "id2", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))),
      f.labels.map(_.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap),
      ids(f.kept), cos, ids(f.sd),
      cand.count { case (a, b) => a == floodRep || b == floodRep }.toLong)
    edges = 2L * s.ver.length
    s
  }

  private def checkSteps(out: Outcomes, s: Steps): Unit = {
    val sh = new Checks.Shingles(corpus.text)
    out.op("gopherQuality") {
      val dropped = (0L until corpus.size.toLong).filterNot(s.q).toSet
      if (dropped == corpus.lowQuality) Nil
      else Seq(s"dropped ${dropped.size} docs, planted ${corpus.lowQuality.size} low-quality docs")
    }
    out.op("minhashCandidates") {
      val bad = s.cand.count { case (a, b) => a >= b || !s.q(a) || !s.q(b) }
      if (bad == 0 && s.cand.distinct.length == s.cand.length) Nil
      else Seq(s"$bad candidate pairs not (id1 < id2) over filtered docs, or duplicates")
    }
    out.op("jaccardVerify") {
      val verSet = s.ver.map(p => (p._1, p._2)).toSet
      val wrong = s.ver.count { case (a, b, j) =>
        sh.jaccard(a, b).forall(e => e < Tau || math.abs(e - j) > 1e-12)
      }
      val missed = s.cand.count { case (a, b) =>
        !verSet((a, b)) && sh.jaccard(a, b).exists(_ >= Tau)
      }
      val planted = corpus.chains.toSeq.flatMap(c => c.sliding(2).map(w =>
        (math.min(w(0), w(1)), math.max(w(0), w(1)))))
      val rec = Checks.recall(planted, verSet)
      val ends = corpus.chains.count(c => sh.jaccard(c.head, c.last).exists(_ >= Tau))
      Seq(
        if (wrong == 0) None else Some(s"$wrong verified pairs below threshold or off exact Jaccard"),
        if (missed == 0) None else Some(s"$missed candidate pairs at or above threshold dropped"),
        if (rec >= ChainRecallFloor) None else Some(f"chain recall $rec%.4f < $ChainRecallFloor"),
        if (ends == 0) None else Some(s"$ends chains whose ends are above the threshold"),
        // the input must reach the distributed clusterPairs path it measures
        if (2L * s.ver.length > LocalEdgeThreshold) None
        else Some(s"${2 * s.ver.length} symmetrized edges, not above $LocalEdgeThreshold")
      ).flatten
    }
    val verPairs = s.ver.map(p => (p._1, p._2))
    s.labels.foreach { labels =>
      out.op("clusterPairs") {
        val expect = Checks.components(verPairs)
        if (expect == labels) Nil
        else Seq(s"labels differ from union-find (${expect.size} vs ${labels.size} nodes)")
      }
    }
    out.op("keepOnePerCluster") {
      val expect = Checks.survivors(s.q, verPairs)
      if (expect == s.kept) Nil else Seq(s"kept ${s.kept.size} docs, expected ${expect.size}")
    }
    out.op("semDedup") {
      val emb = corpus.emb
      // the survivors are a subset of the input, and every dropped row has
      // a row of the input within the cosine threshold
      val keptArr = s.kept.toArray.sorted
      val unjustified = (s.kept -- s.survivors).count { r =>
        !keptArr.exists(o => o != r &&
          Checks.cosine(emb(r.toInt), emb(o.toInt)) >= TauCos - 1e-6)
      }
      // planted clusters whose members all reached semDedup keep one member
      val planted = corpus.embClusters.filter(_.forall(s.kept))
      val collapsed = planted.count(c => c.count(s.survivors) == 1)
      val rec = if (planted.isEmpty) 1.0 else collapsed.toDouble / planted.length
      Seq(
        if (s.survivors.subsetOf(s.kept)) None else Some("survivors outside the input"),
        if (unjustified == 0) None else Some(s"$unjustified rows dropped without a near neighbour"),
        if (rec >= EmbRecallFloor) None
        else Some(f"planted clusters kept to one row $rec%.4f < $EmbRecallFloor")
      ).flatten ++ s.cosPairs.toSeq.flatMap { pairs =>
        val low = pairs.count { case (a, b, _) =>
          Checks.cosine(emb(a.toInt), emb(b.toInt)) < TauCos - 1e-6
        }
        val expect = Checks.survivors(s.kept, pairs.map(p => (p._1, p._2)))
        Seq(
          if (low == 0) None else Some(s"$low pairs below cosine $TauCos"),
          if (expect == s.survivors) None
          else Some(s"${s.survivors.size} survivors, union-find over its pairs keeps ${expect.size}")
        ).flatten
      }
    }
  }
}
