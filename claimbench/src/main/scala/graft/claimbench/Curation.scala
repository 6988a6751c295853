package graft.claimbench

import graft.text.{CurationOps, DedupJobs}
import graft.vector.SemDedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `curation`: the training-data engine as one batch job over the
  * seeded corpus — exact dedup, MinHash near-dup groups, repetition
  * metrics, contamination against the held-out set, semantic dedup of
  * the embeddings, and sequence packing. Every pass starts cold: the
  * session cache is cleared and the persisted index root emptied.
  */
final class Curation(spark: SparkSession, a: Args, rec: Recorder,
    tr: Tracer) extends Workload {
  private val in = a.inputs
  private val ex = Fs.props(s"$in/expect.properties")
  private val dim = ex("dim").toInt
  private val nDocs = ex("docs").toLong
  private val exactGroups = Fs.lines(s"$in/exact_groups.txt")
    .map(_.split(" ").map(_.toLong).toSeq)
  private val nearPairs = Fs.lines(s"$in/near_pairs.txt").map { l =>
    val Array(x, y) = l.split(" ").map(_.toLong); (x, y)
  }
  private val contaminated = Fs.lines(s"$in/contaminated.txt")
    .map(_.toLong).toSet
  private val indexRoot = sys.props("graft.index.root")
  private var dir = ""

  def setup(): Unit = (0 until a.setups).foreach { k =>
    val d = s"${a.work}/corpus-$k"
    val (_, s) = Clock.time {
      spark.read.option("header", "true")
        .schema("id LONG, source STRING, text STRING")
        .csv(s"$in/docs.csv").write.parquet(s"$d/docs")
      spark.read.option("header", "true").schema("id LONG, text STRING")
        .csv(s"$in/bench.csv").write.parquet(s"$d/bench")
      val schema = StructType(StructField("id", LongType) +:
        (0 until dim).map(i => StructField(s"v$i", DoubleType)))
      spark.read.option("header", "true").schema(schema)
        .csv(s"$in/emb.csv")
        .select(col("id"), array((0 until dim).map(i => col(s"v$i")): _*)
          .as("emb"))
        .write.parquet(s"$d/emb")
    }
    rec.add("setup_s", s)  // run.py adds the input generation
    if (dir.nonEmpty) Fs.delete(dir)
    dir = d
  }

  private def docs: DataFrame = spark.read.parquet(s"$dir/docs")

  /** One whole pass, untimed, into a throwaway recorder: the timed
    * passes then do not pay the JVM's and Spark's first-run compilation
    * of the pipeline's plans, which is most of a first pass and varies
    * from run to run far more than the work itself.
    */
  def warmup(): Unit = {
    val scratch = new Recorder
    run(new scratch.Pass(-1, traced = false), scratch)
  }

  /** Two passes a run: a pass is about as long as a run's measuring
    * time, so a time limit alone would give one pass on some runs and
    * two on others.
    */
  override def minPasses: Int = 2

  private def cold(): Unit = {
    graft.SessionCache.clear()
    Fs.delete(indexRoot)
    Fs.mkdirs(indexRoot)
  }

  def pass(p: Recorder#Pass): Map[String, Double] = run(p, rec)

  private def run(p: Recorder#Pass, rec: Recorder): Map[String, Double] = {
    cold()
    val d = docs
    val bench = spark.read.parquet(s"$dir/bench")
    val emb = spark.read.parquet(s"$dir/emb")
    var kept = 0.0
    var input = 0.0
    val t0 = System.nanoTime()
    tr.pass(p.index, p.traced) {
      p.op("exact_dedup")(tr.span("DedupJobs") {
        DedupJobs.exactDupGroups(d, "id", "text").filter(col("n_docs") > 1)
          .select("keep_id", "n_docs").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      }) { got =>
        val want = exactGroups.map(g => (g.min, g.size.toLong)).toSet
        if (got == want) None
        else Some(s"exact groups: ${(want -- got).size} planted groups " +
          s"not found, ${(got -- want).size} unexpected")
      }
      p.op("minhash_dedup")(tr.span("DedupJobs") {
        DedupJobs.minhashDupGroups(d, "id", "text")
          .select("doc_id", "dup_group").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      }) { group =>
        val hit = nearPairs.count { case (x, y) =>
          group.get(x).exists(g => group.get(y).contains(g)) }
        val recall = hit.toDouble / math.max(nearPairs.size, 1)
        val exactOk = exactGroups.forall(g => g.map(group.get).distinct.size == 1)
        val floor = ex("near_recall_floor").toDouble
        if (group.size == nDocs && recall >= floor && exactOk) None
        else Some(f"near-dup recall $recall%.3f (floor $floor), exact " +
          s"groups together: $exactOk, docs ${group.size}")
      }
      p.op("repetition")(tr.span("CurationOps") {
        CurationOps.repetitionMetrics(d, "id", "text")
          .agg(count(lit(1)), sum(when(col("pass_repetition"), 1L)
            .otherwise(0L))).head()
      }) { r =>
        if (r.getLong(0) == nDocs) None
        else Some(s"repetition metrics for ${r.getLong(0)} docs")
      }
      p.op("contamination")(tr.span("CurationOps") {
        CurationOps.contamination(d, bench, "id", "text")
          .filter(col("contaminated")).select("id").collect()
          .map(_.getLong(0)).toSet
      }) { flagged =>
        val missed = contaminated -- flagged
        if (missed.isEmpty) None
        else Some(s"${missed.size} planted contaminated docs not flagged")
      }
      p.op("semdedup")(tr.span("SemDedup") {
        SemDedup.summary(emb, "id", "emb", k = 16, tau = 0.95,
          datasetKey = s"claimbench-${a.seed}")
          .agg(sum("n_vecs"), sum("n_kept"), sum("n_dropped")).head()
      }) { r =>
        input = r.getLong(0).toDouble
        kept = r.getLong(1).toDouble
        val copies = exactGroups.map(_.size - 1).sum
        if (r.getLong(0) == nDocs && r.getLong(2) >= copies) None
        else Some(s"semdedup: ${r.getLong(0)} vectors, ${r.getLong(2)} " +
          s"dropped, $copies exact copies planted")
      }
      p.op("pack")(tr.span("CurationOps") {
        CurationOps.packSequences(d, "id", "source", "text", 2048)
          .agg(sum("tokens"), sum("n_docs")).head()
      }) { r =>
        if (r.getLong(0) == ex("tokens").toLong && r.getLong(1) == nDocs) None
        else Some(s"packed ${r.getLong(0)} tokens of ${r.getLong(1)} docs")
      }
    }
    val wall = Clock.since(t0)
    val clean = p.clean
    p.commit(ok = true)
    if (clean) {
      rec.add("pass_s", wall)
      rec.count("docs_done", nDocs.toDouble)
      rec.count("pass_total_s", wall)
    }
    rec.set("store_bytes", Fs.bytesUnder(dir, indexRoot).toDouble)
    val pairs =
      if (!p.traced) Map.empty[String, Double]
      else Map(
        "verified_pairs" ->
          DedupJobs.minhashCandidatePairs(d, "id", "text").count().toDouble,
        "candidate_pairs" -> DedupJobs.minhashCandidatePairs(d, "id", "text",
          threshold = 0.0).count().toDouble)
    pairs ++ Map("semdedup_kept" -> kept, "semdedup_input" -> input)
  }
}
