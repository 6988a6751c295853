package graft.claimbench

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import graft.api.ClaimAnalysisEngine
import graft.claims.{HubStore, SeriesCounts, SeriesMart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The claims base shared by `ingest` and `dashboard`: the generated
  * history uploaded through the same verb users call
  * (`processClaimData` then `uploadBatch`), which builds the hub, the
  * count store and the bucketed series mart, plus the sales store. Every
  * store a run touches lives under the run dir, the maintenance leases
  * included (they sit beside the mart and the hub).
  */
final class ClaimsBase(spark: SparkSession, a: Args, rec: Recorder) {
  val in: String = a.inputs
  val expect: Map[String, String] = Fs.props(s"$in/expect.properties")
  val asOf: LocalDate = LocalDate.parse(expect("as_of"))

  def hub(dir: String) = s"$dir/hub"
  def mart(dir: String) = s"$dir/mart"
  def counts(dir: String): String = SeriesCounts.dirFor(mart(dir))
  def stores(dir: String): Seq[String] = Seq(hub(dir), counts(dir), mart(dir))

  def engine(dir: String) = new ClaimAnalysisEngine(spark, hub(dir),
    s"$dir/sales", s"$dir/models", s"$dir/series")

  /** Restores the base into the run dir `setups` times and keeps the
    * last copy; each restore is the store half of one `setup_s` sample
    * (`run.py` adds the input generation; the spare copies are deleted
    * after the last restore, outside the timed part). The base itself
    * is the generated history uploaded once through the upload verb
    * into the checkout's base cache, by the first run that finds no
    * cache; every run reports that build's seconds as `base_build_s`,
    * which `run.py` adds to `setup_s`.
    */
  def setup(): String = {
    val cache = a.baseCache
    if (!Files.exists(Paths.get(s"$cache/READY"))) buildCache(cache)
    rec.set("base_build_s", new String(
      Files.readAllBytes(Paths.get(s"$cache/READY"))).trim.toDouble)
    val dirs = (0 until a.setups).map { k =>
      val dir = s"${a.work}/base-$k"
      rec.add("setup_s", Clock.time(Fs.restore(cache, dir))._2)
      dir
    }
    dirs.init.foreach(Fs.delete)
    Files.delete(Paths.get(s"${dirs.last}/READY"))
    dirs.last
  }

  private def buildCache(cache: String): Unit = {
    val tmp = s"$cache.building"
    Fs.delete(tmp)
    graft.SessionCache.clear()
    val (_, s) = Clock.time {
      val eng = engine(tmp)
      eng.uploadBatch(eng.processClaimData(s"$in/base.csv"), asOf, mart(tmp))
      writeSales(tmp)
    }
    val n = HubStore.read(spark, hub(tmp)).count()
    if (!rec.check("base hub holds every generated claim",
        n == expect("base_claims").toLong,
        s"hub rows $n, generated ${expect("base_claims")}"))
      sys.error("base build lost claims")
    Files.write(Paths.get(s"$tmp/READY"), s.toString.getBytes)
    Files.move(Paths.get(tmp), Paths.get(cache))
  }

  private def writeSales(dir: String): Unit =
    spark.read.option("header", "true").csv(s"$in/sales.csv")
      .select(col("ID"), col("플랜트"), col("년").cast("int").as("년"),
        col("월").cast("int").as("월"),
        col("매출수량").cast("double").as("매출수량"))
      .write.mode("overwrite").parquet(s"$dir/sales")

  /** The maintained mart equals a from-scratch build from the count
    * store (documents compared whole, except the refresh stamp that
    * legitimately differs between documents refreshed at different
    * times), and the hub holds exactly the distinct claim keys
    * uploaded.
    */
  def verifyStores(dir: String, expectedClaims: Long): Boolean = {
    val hc = HubStore.read(spark, hub(dir))
      .agg(count(lit(1)), countDistinct(col("상담번호"))).head()
    val (rows, keys) = (hc.getLong(0), hc.getLong(1))
    val hubOk = rec.check("hub rows = distinct claim keys uploaded",
      rows == expectedClaims && keys == expectedClaims,
      s"hub rows $rows, distinct keys $keys, expected $expectedClaims")
    val c = SeriesCounts.read(spark, counts(dir))
    val b = c.filter(col("ym").isNotNull).agg(min("ym"), max("ym")).head()
    val fresh = normalize(SeriesMart.buildFromCounts(c, asOf.toString,
      Some((b.getString(0), b.getString(1)))))
    val stored = normalize(spark.read.parquet(mart(dir)).drop("key_bucket"))
    val cols = fresh.columns.sorted
    val f = fresh.select(cols.map(col): _*)
    val s = stored.select(cols.map(col): _*)
    // Multiset fingerprints first (one aggregate per side); the exact
    // difference is only computed to describe a mismatch.
    def fp(df: DataFrame) = {
      val r = df.agg(count(lit(1)), sum(xxhash64(cols.map(col): _*))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val martOk = rec.check("maintained mart = rebuild from count store",
      fp(f) == fp(s),
      s"${s.exceptAll(f).count()} stored documents not in the rebuild, " +
        s"${f.exceptAll(s).count()} missing")
    hubOk && martOk
  }

  private def normalize(df: DataFrame): DataFrame =
    df.withColumn("meta", col("meta").dropFields("last_updated"))

  /** Files and rows of the hub (the layout the scans pay for), for the
    * traced run's table; counting rows costs a job, so untraced runs
    * skip it.
    */
  def hubLayout(dir: String, traced: Boolean): Map[String, Double] =
    if (!traced) Map.empty
    else Map(
      "hub_files" -> Fs.files(hub(dir), ".parquet").toDouble,
      "hub_rows" -> HubStore.read(spark, hub(dir)).count().toDouble)
}
