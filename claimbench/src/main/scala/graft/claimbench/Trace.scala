package graft.claimbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{ClaimbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One Spark job of a traced pass, attributed to a layer. */
final class JobRec(val span: String, val pass: Int, val module: String,
    val start: Long) {
  var end: Long = -1L
  var tasks = 0L
  var failedTasks = 0L
  var busyMs = 0L
  var gcMs = 0L
  var schedMs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var outputRecords = 0L
  var shuffleBytes = 0L
}

final case class SpanRec(name: String, pass: Int, start: Long, end: Long)

/** Attributes every Spark job of a traced pass to a layer.
  *
  * The benchmark tags each call into the library with two local
  * properties: the span (the public function it called) and the pass.
  * A job's layer is the innermost frame of a library module named in
  * [[Trace.Layers]] in its stages' call site (`StageInfo.details`), else
  * in the call site of the SQL execution the job belongs to; a job
  * started where no such frame is on the stack — an action the
  * benchmark itself calls on a returned DataFrame — belongs to its
  * span. That splits
  * `UploadFlow.run` into its `HubStore`, `SeriesCounts` and
  * `SeriesMart` parts without touching the library.
  */
final class LayerListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  /** Time spent inside this listener's callbacks: tracing's own cost. */
  @volatile var selfNanos = 0L

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally selfNanos += System.nanoTime() - t0
  }
  private val execModule = mutable.HashMap.empty[Long, String]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = timed(synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    prop(Trace.PassProp).foreach { p =>
      val span = prop(Trace.SpanProp).getOrElse("untagged")
      // Adaptive execution materializes query stages from a thread pool,
      // whose call sites hold no library frame; such jobs take the call
      // site of the SQL execution they belong to.
      val module = e.stageInfos.sortBy(-_.stageId).iterator
        .flatMap(s => Trace.moduleOf(s.details)).nextOption()
        .orElse(prop("spark.sql.execution.id")
          .flatMap(id => execModule.get(id.toLong)))
        .getOrElse(span)
      val rec = new JobRec(span, p.toInt, module, e.time)
      jobs(e.jobId) = rec
      e.stageIds.foreach(s => stageJob(s) = rec)
    }
  })

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => timed(synchronized {
      val own = Trace.moduleOf(s.details)
      val root = s.rootExecutionId.flatMap(execModule.get)
      (own.orElse(root)).foreach(m => execModule(s.executionId) = m)
    })
    case _ => ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed(synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  })

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    timed(synchronized {
      if (stageJob.contains(e.stageInfo.stageId))
        stageSubmitted(e.stageInfo.stageId) =
          e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed(synchronized {
    stageJob.get(e.stageId).foreach { j =>
      val info = e.taskInfo
      j.tasks += 1
      if (e.reason != Success) j.failedTasks += 1
      j.busyMs += info.duration
      stageSubmitted.get(e.stageId).foreach(s =>
        j.schedMs += math.max(0L, info.launchTime - s))
      val m = e.taskMetrics
      if (m != null) {
        j.gcMs += m.jvmGCTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.outputBytes += m.outputMetrics.bytesWritten
        j.outputRecords += m.outputMetrics.recordsWritten
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  })
}

/** Totals over a set of jobs. */
final case class Agg(jobs: Int, tasks: Long, busyS: Double,
    inputMb: Double, outputMb: Double, outputRecords: Long,
    shuffleMb: Double)

/** Aggregates of one traced pass, by span name and by layer. */
final class PassStats(jobs: Seq[JobRec], spans: Seq[SpanRec],
    val wallS: Double) {

  private def agg(js: Seq[JobRec]): Agg = Agg(js.size, js.map(_.tasks).sum,
    js.map(_.busyMs).sum / 1e3, js.map(_.inputBytes).sum / Trace.Mb,
    js.map(_.outputBytes).sum / Trace.Mb, js.map(_.outputRecords).sum,
    js.map(_.shuffleBytes).sum / Trace.Mb)

  def module(name: String): Agg = agg(jobs.filter(_.module == name))
  def span(name: String): Agg = agg(jobs.filter(_.span == name))
  def all: Agg = agg(jobs)

  def spanCount(name: String): Int = spans.count(_.name == name)
  def spanWallS(name: String): Double =
    spans.filter(_.name == name).map(s => s.end - s.start).sum / 1e3

  /** Span wall time minus the time any of its jobs was running: time
    * the driver spent planning, listing files and waiting on itself.
    */
  def spanDriverS(name: String): Double =
    spans.filter(_.name == name).map { s =>
      val iv = jobs.filter(j => j.span == name && j.end >= 0)
        .map(j => (math.max(j.start, s.start), math.min(j.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = -1L
      var curB = -1L
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      (s.end - s.start - covered) / 1e3
    }.sum

  def gcS: Double = jobs.map(_.gcMs).sum / 1e3
  def schedS: Double = jobs.map(_.schedMs).sum / 1e3
  def failedTasks: Long = jobs.map(_.failedTasks).sum
}

/** Spans, the listener, and the per-layer metric table. */
final class Tracer(spark: SparkSession, enabled: Boolean) {
  private val listener = new LayerListener
  private val spans = ArrayBuffer.empty[SpanRec]
  private val passes = ArrayBuffer.empty[(Int, Double, Map[String, Double])]
  private val passWall = mutable.HashMap.empty[Int, Double]
  private var current: Option[Int] = None

  if (enabled) spark.sparkContext.addSparkListener(listener)

  /** Runs `f` as one pass; traced passes tag their jobs and spans. */
  def pass[T](index: Int, traced: Boolean)(f: => T): T = {
    val sc = spark.sparkContext
    current = if (enabled && traced) Some(index) else None
    current.foreach(i => sc.setLocalProperty(Trace.PassProp, i.toString))
    val t0 = System.nanoTime()
    try f
    finally {
      passWall(index) = Clock.since(t0)
      sc.setLocalProperty(Trace.PassProp, null)
      current = None
    }
  }

  /** Records the workload-side counts of a traced pass. */
  def passDone(index: Int, extras: Map[String, Double]): Unit =
    passes += ((index, passWall.getOrElse(index, 0.0), extras))

  def span[T](name: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Trace.SpanProp)
    sc.setLocalProperty(Trace.SpanProp, name)
    val t0 = System.currentTimeMillis()
    try f
    finally {
      current.foreach(p =>
        spans += SpanRec(name, p, t0, System.currentTimeMillis()))
      sc.setLocalProperty(Trace.SpanProp, prev)
    }
  }

  /** Per-layer metrics, each the median over traced passes. */
  def report(cores: Int): Map[String, Double] = {
    ClaimbenchBus.drain(spark.sparkContext)
    val perPass = listener.synchronized {
      passes.toSeq.map { case (i, wall, extras) =>
        val st = new PassStats(listener.jobs.values.filter(_.pass == i).toSeq,
          spans.filter(_.pass == i).toSeq, wall)
        Trace.metrics(st, extras, cores)
      }
    }
    val wall = passes.map(_._2).sum
    val self = listener.selfNanos / 1e9
    val overhead = Map("trace.listener_s" -> self,
      "trace.listener_share" -> (if (wall > 0) self / wall else 0.0))
    if (perPass.isEmpty) overhead
    else overhead ++ perPass.head.keys.map(k =>
      k -> Trace.median(perPass.map(_(k)))).toMap
  }

  /** Layer → job count over all traced passes (diagnostic table). */
  def jobsByLayer: Map[String, Int] = listener.synchronized {
    listener.jobs.values.groupBy(j => s"${j.span}>${j.module}")
      .map { case (k, v) => k -> v.size }
  }
}

object Trace {
  val SpanProp = "claimbench.span"
  val PassProp = "claimbench.pass"
  val Mb: Double = 1024.0 * 1024.0

  /** Library modules a job can be attributed to by call site. Wrappers
    * that run a caller's closure (leases, journals, caches, pins) are
    * not layers: jobs inside them belong to the caller.
    */
  val Layers: Set[String] = Set(
    "ClaimsEtl", "HubStore", "SeriesCounts", "SeriesMart", "UploadFlow",
    "RiskScanJob",
    "Dashboard", "PivotWithSubtotals", "SalesStore", "Trainer",
    "DedupJobs", "CurationOps", "SemDedup")

  private val Frame = """^\s*(?:at\s+)?graft\.([\w.$]+)\.[\w$<>]+\(""".r

  /** Innermost library layer frame of a call site's long form. */
  def moduleOf(details: String): Option[String] =
    Option(details).iterator.flatMap(_.linesIterator).flatMap { l =>
      Frame.findFirstMatchIn(l).map(_.group(1)).filterNot(
        _.startsWith("claimbench")).map { cls =>
        cls.split('.').last.takeWhile(_ != '$')
      }
    }.find(Layers)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

  /** Every per-layer metric of one pass. Workload-side counts arrive in
    * `x`; a layer the workload never calls reads 0.
    */
  def metrics(st: PassStats, x: Map[String, Double],
      cores: Int): Map[String, Double] = {
    def e(k: String) = x.getOrElse(k, 0.0)
    val up = st.span("UploadFlow")
    val etl = st.span("ClaimsEtl")
    val hub = st.module("HubStore")
    val counts = st.module("SeriesCounts")
    val mart = st.module("SeriesMart")
    val lookups = st.spanCount("SeriesMart.lookup")
    val all = st.all
    Map(
      "UploadFlow.wall_s" -> st.spanWallS("UploadFlow"),
      "UploadFlow.driver_s" -> st.spanDriverS("UploadFlow"),
      "UploadFlow.jobs" -> up.jobs.toDouble,
      "UploadFlow.read_amp" ->
        ratio((up.inputMb + etl.inputMb) * Mb, e("upload_csv_bytes")),
      "UploadFlow.csv_mb" -> e("upload_csv_bytes") / Mb,
      "UploadFlow.write_amp" ->
        ratio(up.outputRecords.toDouble, e("claims_uploaded")),
      "UploadFlow.claims" -> e("claims_uploaded"),
      "ClaimsEtl.wall_s" -> st.spanWallS("ClaimsEtl"),
      "ClaimsEtl.jobs" -> st.module("ClaimsEtl").jobs.toDouble,
      "HubStore.task_busy_s" -> hub.busyS,
      "HubStore.input_mb" -> hub.inputMb,
      "HubStore.output_mb" -> hub.outputMb,
      "HubStore.files" -> e("hub_files"),
      "HubStore.rows_per_file" -> ratio(e("hub_rows"), e("hub_files")),
      "HubStore.catalog_s" -> st.spanWallS("HubStore.catalog"),
      "HubStore.catalog_input_mb" -> st.span("HubStore.catalog").inputMb,
      "SeriesCounts.task_busy_s" -> counts.busyS,
      "SeriesCounts.output_mb" -> counts.outputMb,
      "SeriesMart.task_busy_s" -> mart.busyS,
      "SeriesMart.output_mb" -> mart.outputMb,
      "SeriesMart.docs_rewritten" -> mart.outputRecords.toDouble,
      "SeriesMart.docs_touched" -> e("docs_touched"),
      "SeriesMart.touched_per_rewritten" ->
        ratio(e("docs_touched"), mart.outputRecords.toDouble),
      "SeriesMart.lookup_tasks" ->
        ratio(st.span("SeriesMart.lookup").tasks.toDouble, lookups),
      "SeriesMart.lookup_driver_s" ->
        ratio(st.spanDriverS("SeriesMart.lookup"), lookups),
      "RiskScanJob.wall_s" -> st.spanWallS("RiskScanJob"),
      "RiskScanJob.input_mb" -> st.span("RiskScanJob").inputMb,
      "RiskScanJob.task_busy_s" -> st.span("RiskScanJob").busyS,
      "RiskScanJob.shuffle_mb" -> st.span("RiskScanJob").shuffleMb,
      "Dashboard.wall_s" -> st.spanWallS("Dashboard"),
      "Dashboard.input_mb" -> st.span("Dashboard").inputMb,
      "PivotWithSubtotals.wall_s" -> st.spanWallS("PivotWithSubtotals"),
      "PivotWithSubtotals.input_mb" -> st.span("PivotWithSubtotals").inputMb,
      "SalesStore.wall_s" -> st.spanWallS("SalesStore"),
      "SalesStore.input_mb" -> st.span("SalesStore").inputMb,
      "Trainer.wall_s" -> st.spanWallS("Trainer"),
      "Trainer.driver_s" -> st.spanDriverS("Trainer"),
      "Trainer.series_fitted" -> e("series_fitted"),
      "DedupJobs.wall_s" -> st.spanWallS("DedupJobs"),
      "DedupJobs.shuffle_mb" -> st.span("DedupJobs").shuffleMb,
      "DedupJobs.candidate_pairs" -> e("candidate_pairs"),
      "DedupJobs.verified_pairs" -> e("verified_pairs"),
      "DedupJobs.verified_per_candidate" ->
        ratio(e("verified_pairs"), e("candidate_pairs")),
      "CurationOps.wall_s" -> st.spanWallS("CurationOps"),
      "CurationOps.shuffle_mb" -> st.span("CurationOps").shuffleMb,
      "SemDedup.wall_s" -> st.spanWallS("SemDedup"),
      "SemDedup.kept" -> e("semdedup_kept"),
      "SemDedup.input" -> e("semdedup_input"),
      "SessionCache.pins" -> e("cache_pins"),
      "SessionCache.build_s" -> e("cache_build_s"),
      "spark.jobs" -> all.jobs.toDouble,
      "spark.tasks" -> all.tasks.toDouble,
      "spark.task_busy_s" -> all.busyS,
      "spark.sched_wait_s" -> st.schedS,
      "spark.gc_s" -> st.gcS,
      "spark.failed_tasks" -> st.failedTasks.toDouble,
      "spark.core_util" -> ratio(all.busyS, st.wallS * cores),
      "spark.pass_wall_s" -> st.wallS)
  }
}
