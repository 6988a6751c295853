package graft.claimbench

/** One workload of the benchmark: set up (timed, several times), one
  * untimed warm-up operation, then passes until the measuring time is
  * spent and at least `minPasses` are done. A pass returns the
  * workload-side counts the traced run reports next to the listener's
  * numbers.
  */
trait Workload {
  def setup(): Unit
  def warmup(): Unit
  def pass(p: Recorder#Pass): Map[String, Double]
  def minPasses: Int = 1
}

/** Benchmark runner: `run.py` launches it once per run and reads the
  * raw result file it writes. With `--trace 1` the layer listener is
  * registered and every pass is traced.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val (spark, startS) = Clock.time(Session.build(a))
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder
    rec.set("session_start_s", startS)
    val tr = new Tracer(spark, a.trace)
    val w: Workload = a.workload match {
      case "ingest" => new Ingest(spark, a, rec, tr)
      case "dashboard" => new DashboardSession(spark, a, rec, tr)
      case "curation" => new Curation(spark, a, rec, tr)
      case other => sys.error(s"unknown workload $other")
    }
    var layers = Map.empty[String, Double]
    var passes = 0
    try {
      rec.set("setup_phase_s", Clock.time(w.setup())._2)
      rec.set("warmup_s", Clock.time(w.warmup())._2)
      val t0 = System.nanoTime()
      while (passes < w.minPasses || Clock.since(t0) < a.seconds) {
        val p = new rec.Pass(passes, traced = a.trace)
        val before = graft.SessionCache.buildSecondsSnapshot
        val extras = w.pass(p)
        HeapWatch.sample()
        if (p.traced) {
          val grown = graft.SessionCache.buildSecondsSnapshot.collect {
            case (k, v) if v > before.getOrElse(k, 0.0) =>
              v - before.getOrElse(k, 0.0)
          }
          tr.passDone(p.index, extras ++ Map(
            "cache_pins" -> grown.size.toDouble,
            "cache_build_s" -> grown.sum))
        }
        passes += 1
      }
      rec.set("measure_s", Clock.since(t0))
      if (a.trace) layers = tr.report(a.cores)
    } catch {
      case e: Exception => rec.error("run", e)
    }
    rec.set("passes", passes.toDouble)
    rec.set("peak_heap_mb", HeapWatch.peakMb())
    Json.write(a.out, Map(
      "samples" -> rec.samples,
      "counters" -> rec.counters,
      "attempted" -> rec.attempted,
      "failed" -> rec.failed,
      "checks" -> rec.checks.map { case (n, ok, d) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "errors" -> rec.errors,
      "layers" -> layers,
      "jobs_by_layer" -> (if (a.trace) tr.jobsByLayer else Map.empty),
      "spark_master" -> spark.sparkContext.master,
      "spark_version" -> spark.version))
    spark.stop()
  }
}
