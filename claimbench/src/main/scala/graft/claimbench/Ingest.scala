package graft.claimbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** `ingest`: the write path. Each pass restores the base into a fresh
  * pass dir and uploads the fixed sequence of CSV slices through
  * `processClaimData` then `uploadBatch`, one closed-loop client. The
  * first slice opens a new month, which takes the counts-bounded
  * rebuild; it is the untimed lead-in (the warm-up op). The rest add
  * new and re-filed claims to that month on the incremental path and
  * are timed.
  */
final class Ingest(spark: SparkSession, a: Args, rec: Recorder, tr: Tracer)
    extends Workload {
  private val base = new ClaimsBase(spark, a, rec)
  private val uploads = Fs.lines(s"${base.in}/uploads.txt").map { l =>
    val Array(file, rows, fresh, touched) = l.split(" ")
    (file, rows.toInt, fresh.toInt, touched.toInt)
  }
  private val finalClaims = base.expect("final_claims").toLong
  private var baseDir = ""

  def setup(): Unit = baseDir = base.setup()

  /** The sequence's first slice, uploaded untimed onto a fresh restore:
    * the warm-up op, and the state the timed slices continue from.
    */
  private var leadIn: Option[String] = None

  private def restoreWithLeadIn(): String = {
    val dir = s"${a.work}/pass"
    Fs.delete(dir)
    Fs.restore(baseDir, dir)
    val eng = base.engine(dir)
    eng.uploadBatch(eng.processClaimData(s"${base.in}/${uploads.head._1}"),
      base.asOf, base.mart(dir))
    dir
  }

  def warmup(): Unit = leadIn = Some(restoreWithLeadIn())

  def pass(p: Recorder#Pass): Map[String, Double] = {
    val dir = leadIn.getOrElse(restoreWithLeadIn())
    leadIn = None
    graft.SessionCache.clear()
    val eng = base.engine(dir)
    val timed = uploads.tail
    val t0 = System.nanoTime()
    tr.pass(p.index, p.traced) {
      timed.foreach { case (file, _, _, _) =>
        p.op("upload") {
          val prepared = tr.span("ClaimsEtl") {
            eng.processClaimData(s"${base.in}/$file")
          }
          tr.span("UploadFlow") {
            eng.uploadBatch(prepared, base.asOf, base.mart(dir))
          }
        }()
      }
    }
    val loop = Clock.since(t0)
    val ok = base.verifyStores(dir, finalClaims)
    p.commit(ok)
    if (ok) {
      rec.count("claims_uploaded", timed.map(_._2).sum)
      rec.count("upload_loop_s", loop)
    }
    rec.set("store_bytes", Fs.bytesUnder(base.stores(dir): _*).toDouble)
    base.hubLayout(dir, p.traced) ++ Map(
      "upload_csv_bytes" -> timed.map { case (f, _, _, _) =>
        Files.size(Paths.get(s"${base.in}/$f")).toDouble }.sum,
      "claims_uploaded" -> timed.map(_._2).sum.toDouble,
      "docs_touched" -> timed.map(_._4).sum.toDouble)
  }
}
