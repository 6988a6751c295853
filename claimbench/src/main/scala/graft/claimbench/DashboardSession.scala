package graft.claimbench

import graft.claims.{ClaimsSchema, PivotWithSubtotals, RiskScanJob}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** `dashboard`: the read path over the restored base, no hub writes.
  * Each pass is one fixed analyst session: the period catalog, the
  * risk radar, the seeded point lookups (hot keys from the radar's top
  * rows mixed with Zipf-drawn cold parents), LOT alerts, lag
  * statistics, a one-plant pivot, PPM over the seeded sales, and a
  * champion forecast for one (plant, major).
  */
final class DashboardSession(spark: SparkSession, a: Args, rec: Recorder,
    tr: Tracer) extends Workload {
  private val base = new ClaimsBase(spark, a, rec)
  private val ex = base.expect
  private val parents = Fs.lines(s"${base.in}/parents.txt")
  private val lookups = Fs.lines(s"${base.in}/lookups.txt").map(_.split(" "))
  private val riskKeys = Seq("플랜트", "대분류", "소분류", "등급기준")
  private var dir = ""

  def setup(): Unit = dir = base.setup()

  def warmup(): Unit =
    base.engine(dir).loadSeries(base.mart(dir), parents.last).collect()

  private def scan(): Array[Row] =
    RiskScanJob.scan(base.engine(dir).loadHub(), keyCols = riskKeys,
      dateCol = ClaimsSchema.receiptDateCol, gradeCol = Some("등급기준"),
      asOf = base.asOf).collect()

  /** Mart keys of the radar's top rows: the first (Zipf-ranked) parent
    * under each top (plant, major), distinct, in score order.
    */
  private def hotKeys(risks: Array[Row]): IndexedSeq[String] =
    risks.sortBy(r => (-r.getAs[Number]("score").doubleValue,
        riskKeys.map(k => String.valueOf(r.getAs[Any](k))).mkString("|")))
      .iterator.flatMap { r =>
        val plant = r.getAs[String]("플랜트")
        val major = r.getAs[String]("대분류")
        parents.find { k =>
          val p = k.split("_"); p(0) == plant && p(2) == major
        }
      }.distinct.toIndexedSeq

  def pass(p: Recorder#Pass): Map[String, Double] = {
    graft.SessionCache.clear()
    val eng = base.engine(dir)
    val mart = base.mart(dir)
    var fitted = 0.0
    val t0 = System.nanoTime()
    tr.pass(p.index, p.traced) {
      p.op("catalog")(tr.span("HubStore.catalog") {
        eng.availablePeriods().collect()
      }) { rows =>
        val n = rows.map(_.getAs[Long]("건수")).sum
        if (n == ex("base_claims").toLong && rows.length == ex("months").toInt)
          None
        else Some(s"catalog: ${rows.length} periods, $n claims")
      }
      val risks = p.op("risk_scan")(tr.span("RiskScanJob")(scan())) { rows =>
        if (rows.length == ex("risk_keys").toInt) None
        else Some(s"risk scan keys ${rows.length}, generated ${ex("risk_keys")}")
      }.getOrElse(Array.empty[Row])
      val hot = hotKeys(risks)
      lookups.foreach { l =>
        val (key, want) =
          if (l(0) == "hot") (hot.lift(l(1).toInt % math.max(hot.size, 1))
            .getOrElse(parents.head), 1)
          else (l(1), l(2).toInt)
        p.op("lookup")(tr.span("SeriesMart.lookup") {
          eng.loadSeries(mart, key).collect()
        }) { docs =>
          if (docs.length == want) None
          else Some(s"lookup $key returned ${docs.length} documents, want $want")
        }
      }
      p.op("lot_alerts")(tr.span("Dashboard")(eng.lotAlerts().collect())) {
        rows =>
          if (rows.length >= ex("lot_clusters").toInt) None
          else Some(s"${rows.length} LOT alerts, ${ex("lot_clusters")} planted")
      }
      p.op("lag_stats")(tr.span("Dashboard")(eng.lagStats().collect())) {
        rows =>
          if (rows.length == ex("plants").toInt) None
          else Some(s"lag stats for ${rows.length} plants")
      }
      val plant = ex("pivot_plant")
      p.op("pivot")(tr.span("PivotWithSubtotals") {
        val hub = eng.loadHub().filter(col("플랜트") === plant)
          .withColumn("ym", date_format(col(ClaimsSchema.receiptDateCol),
            "yyyy-MM"))
        val months = hub.select("ym").distinct().collect()
          .map(_.getString(0)).filter(_ != null).sorted.toSeq
        PivotWithSubtotals.build(hub, Seq("대분류", "중분류"), "ym", months)
          .collect()
      }) { rows =>
        if (rows.exists(_.toSeq.contains("Total"))) None
        else Some("pivot has no Total row")
      }
      p.op("ppm")(tr.span("SalesStore")(eng.ppm().collect())) { rows =>
        if (rows.length == ex("plant_months").toInt) None
        else Some(s"ppm rows ${rows.length}, want ${ex("plant_months")}")
      }
      p.op("train")(tr.span("Trainer") {
        eng.trainChampion(ex("train_plant"), ex("train_major"))
          .map(_.collect())
      }) {
        case Some(board) if board.nonEmpty => fitted += 1; None
        case _ => Some("no champion trained")
      }
    }
    val session = Clock.since(t0)
    val clean = p.clean
    p.commit(ok = true)
    if (clean) {
      rec.add("session_s", session)
      rec.count("session_ops", lookups.size + 7)
      rec.count("session_total_s", session)
    }
    rec.set("store_bytes", Fs.bytesUnder(base.stores(dir): _*).toDouble)
    base.hubLayout(dir, p.traced) + ("series_fitted" -> fitted)
  }
}
