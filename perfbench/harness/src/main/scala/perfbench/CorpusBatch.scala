package perfbench

import java.nio.file.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkEntry
import graft.ops.{CurationPipeline, Dedup, Materialize, TextAnalytics}
import Main.{runAll, seconds}

/** `corpus_batch`: the data-pipeline jobs a user runs over a document
  * corpus. One pass runs three jobs: `CurationPipeline.run`, the pair
  * detectors and the text jobs, each query timed through the `noop`
  * sink so every returned column is computed. */
object CorpusBatch {
  val Pairs = Seq("q15_jaccard_pairs", "q72_source_overlap", "q128_winnow_pairs",
    "q170_graph_triangles")
  val Text = Seq("q85_bm25_search", "q172_rm3_expansion", "q69_tfidf_keywords",
    "q129_distinct_ngrams")

  /** Order-independent digest of a frame's rows; doubles are rounded
    * to 9 digits so summation order cannot change it. */
  def frameDigest(df: DataFrame): String = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round(c.cast(DoubleType), 9)
        case _ => c
      }
    }
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .collect()(0)
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)}"
  }

  private def job(c: Ctx, name: String, req: String)(df: => DataFrame): Double = {
    val (s, _) = seconds(c.span(name, req) { runAll(df) })
    Materialize.release(c.spark)
    s
  }

  /** One pass: the three jobs. Returns whether all three succeeded;
    * a failure is recorded by job and pass. A recorded (timed) pass
    * adds to the attempted count and the per-job series and writes the
    * curation report to the `noop` sink; the warm-up pass writes it to
    * `out/report`, for the output checks. */
  def pass(c: Ctx, data: Path, out: Path, req: String, record: Boolean): Boolean = {
    val spark = c.spark
    val d = data.toString
    def timed(group: String)(body: => Double): Boolean = {
      if (record) c.res.attempted += 1
      try {
        val (s, _) = seconds(c.span(group, req)(body))
        if (record) c.res.add(s"${group}_s", s)
        true
      } catch { case e: Exception => c.res.fail(s"$group:$req", e); false }
    }
    Seq(
      timed("curation") {
        if (record) job(c, "curation.run", req)(CurationPipeline.run(spark, d, s"$out/curated"))
        else seconds {
          CurationPipeline.run(spark, d, s"$out/curated").write.parquet(s"$out/report")
          Materialize.release(spark)
        }._1
      },
      timed("pairs") {
        Pairs.map(q => job(c, s"pairs.$q", req)(SparkEntry.queries(q)(spark, d))).sum
      },
      timed("text") {
        Text.map(q => job(c, s"text.$q", req)(SparkEntry.queries(q)(spark, d))).sum
      }).forall(identity)
  }

  private def digest(c: Ctx, df: => DataFrame): String = {
    val h = frameDigest(df)
    Materialize.release(c.spark)
    h
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val data = c.input.resolve("main")
    // set-up is the warm-up, untimed: one pass over a second corpus of
    // the same size (so the timed passes run plans already compiled),
    // and a separate corpus, so nothing the warm-up leaves behind can
    // answer a timed job
    c.tracer.on = false
    val warmOut = c.work.resolve("warm_out")
    val (warmS, ok) = seconds(Main.setup(
      pass(c, c.input.resolve("warm"), warmOut, "warm", record = false)))
    if (!ok) throw new SetupFailed(new IllegalStateException("the warm-up pass failed"))
    c.res.add("setup_s", warmS)
    c.res.set("docs", spark.read.parquet(s"$data/documents.parquet").count().toDouble)
    c.startTimed()
    val deadline = System.nanoTime() + (c.seconds * 1e9).toLong
    var p = 0
    var last = 0.0
    do {
      // a traced run makes three passes: one to settle, one traced and
      // one untraced; the gap between the last two is the tracing
      // overhead. An untraced run starts another pass only if one as
      // long as the last still ends within --seconds.
      c.tracer.on = c.tracer.enabled && p == 1
      val (s, ok) = seconds(pass(c, data, c.work.resolve(s"out$p"), s"pass$p", record = true))
      last = s
      if (ok) c.res.add(
        if (!c.tracer.enabled || p == 1) "pass_s" else if (p == 0) "settle_pass_s"
        else "untraced_pass_s", s)
      p += 1
    } while (if (c.tracer.enabled) p < 3 else System.nanoTime() + (last * 1e9).toLong <= deadline)
    c.endTimed()
    c.tracer.on = c.tracer.enabled
    // output checks (untimed): a row-set digest of every query's output
    // over the corpus the timed passes ran on, after them, and of the
    // curated rows each timed pass wrote; the warm-up's curation report
    val checks0 = System.nanoTime()
    c.res.observe("digests", (Pairs ++ Text).map(q =>
      q -> digest(c, SparkEntry.queries(q)(spark, data.toString))).toMap)
    c.res.observe("timed_curated", (0 until p).map(i =>
      digest(c, spark.read.parquet(s"${c.work.resolve(s"out$i")}/curated"))))
    c.res.observe("curation_report", spark.read.parquet(s"$warmOut/report").collect()
      .map(r => (0 until r.length).map(r.get).toSeq).toSeq)
    val written = spark.read.parquet(s"$warmOut/curated").count()
    c.res.set("curation.written_rows", written.toDouble)
    c.res.observe("written_rows", written)
    c.res.set("checks_s", (System.nanoTime() - checks0) / 1e9)
    if (c.tracer.enabled) {
      // the public siblings of curation's two heavy stages, timed alone
      val d = data.toString
      job(c, "textanalytics.filterFunnel", "stages")(TextAnalytics.filterFunnel(spark, d))
      job(c, "dedup.dedupSurvivors", "stages")(Dedup.dedupSurvivors(spark, d))
    }
  }
}
