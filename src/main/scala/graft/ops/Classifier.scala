package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.TextKernel

/** Model-based quality classification over `documents` — the
  * fasttext-style curation step (train a cheap linear classifier on
  * hashed token features, score the corpus, keep what scores well)
  * that CCNet/LLaMA-class pipelines run between heuristic filters and
  * expensive dedup.
  *
  * Everything here is INTEGER arithmetic (counts, signed sums), so the
  * trained weights and every score are bit-identical across engines —
  * a linear classifier whose training step is hash-checkable against
  * the DuckDB oracle, the same trick q73 plays for k-means.
  */
object Classifier {

  /** Feature space: token md5 (32-bit, the oracle-mirrorable width)
    * modulo this many buckets. Hashing bounds the weight vector at any
    * corpus scale — the classic hashing trick (Weinberger et al.
    * 2009). */
  val PerceptronBuckets = 64L

  /** The binary target: "is this the target language" — a stand-in for
    * any deterministic doc-level label (quality heuristic, source
    * allowlist). `en` is the corpus majority-minority split point. */
  val PerceptronTargetLang = "en"

  /** (doc_id, y, b, x): hashed bag-of-words features, one row per
    * (doc, bucket) with x = token count in that bucket. Computed per
    * document inside a typed flatMap — a doc's tokens live in one row,
    * so feature extraction is a local 64-slot histogram at scan
    * speed (no token-stream shuffle), the q69/q33 discipline. */
  private def features(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val nb = PerceptronBuckets.toInt
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        when(col("lang") === PerceptronTargetLang, 1L).otherwise(-1L).as("y"),
        col("text"))
      .as[(Long, Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, y, txt) =>
          val counts = new Array[Long](nb)
          TextKernel.gramHashes(TextKernel.words(txt), 1, 32, md)
            .foreach(hv => counts((hv % nb).toInt) += 1L)
          (0 until nb).iterator.collect {
            case b if counts(b) > 0L => (id, y, b.toLong, counts(b))
          }
        }
      }
      .toDF("doc_id", "y", "b", "x")
  }

  /** q84: ONE batch perceptron step from w₀ = 0, then score the corpus
    * with the updated weights. At w₀ = 0 every score is 0, prediction
    * is −1, so the misclassified set is exactly the positive class and
    * the update is w = Σ_{y=+1} y·x — the textbook rule, evaluated as
    * one aggregation. A full training run is this operator in a driver
    * loop with the (PerceptronBuckets-row) weight table as the only
    * state, exactly like q73's Lloyd iteration.
    *
    * Scale shape: feature extraction is scan-local; the weight build
    * shuffles only per-partition bucket partials (≤64 rows each); the
    * scoring pass joins the broadcast 64-row weight table back and
    * re-aggregates per doc with map-side combine (a doc's feature rows
    * are partition-local by construction). The corpus never shuffles
    * full rows.
    *
    * Output per doc: label, integer score under the updated weights,
    * the resulting prediction, and whether it is now correct — the
    * oracle pins the learned weights through every score. */
  def perceptronStep(spark: SparkSession, sfDir: String): DataFrame = {
    val feats = features(spark, sfDir)
    val w = feats.filter(col("y") === 1L)
      .groupBy("b").agg(sum(col("x")).as("w"))
    val scores = feats.join(broadcast(w), "b")
      .groupBy("doc_id").agg(sum(col("x") * col("w")).as("s"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        when(col("lang") === PerceptronTargetLang, 1L).otherwise(-1L).as("label"))
      .join(scores, Seq("doc_id"), "left")
      .select(col("doc_id"), col("label"),
        coalesce(col("s"), lit(0L)).as("score"),
        when(coalesce(col("s"), lit(0L)) > 0L, 1L).otherwise(-1L).as("pred"))
      .withColumn("correct", col("pred") === col("label"))
      .orderBy("doc_id")
  }

  def perceptronStepSql: String = {
    // token md5 -> 32-bit int, mirroring Dedup.shingleHashExpr
    val h32 = (0 until 8).map { j =>
      val wgt = 1L << (4 * (7 - j))
      s"cast(strpos('0123456789abcdef', substring(md5(tok), ${j + 1}, 1)) - 1 as bigint) * $wgt"
    }.mkString("(", " + ", ")")
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    CASE WHEN lang = '$PerceptronTargetLang' THEN 1 ELSE -1 END AS y,
       |    unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '')) AS tok
       |  FROM documents),
       |feat AS (
       |  SELECT doc_id, y, $h32 % $PerceptronBuckets AS b,
       |    cast(count(*) as bigint) AS x
       |  FROM toks GROUP BY 1, 2, 3),
       |w AS (SELECT b, sum(x) AS w FROM feat WHERE y = 1 GROUP BY b),
       |s AS (
       |  SELECT feat.doc_id, cast(sum(feat.x * w.w) as bigint) AS s
       |  FROM feat JOIN w USING (b) GROUP BY 1)
       |SELECT d.doc_id,
       |  cast(CASE WHEN d.lang = '$PerceptronTargetLang' THEN 1 ELSE -1 END as bigint) AS label,
       |  coalesce(s.s, 0) AS score,
       |  cast(CASE WHEN coalesce(s.s, 0) > 0 THEN 1 ELSE -1 END as bigint) AS pred,
       |  (CASE WHEN coalesce(s.s, 0) > 0 THEN 1 ELSE -1 END) =
       |    (CASE WHEN d.lang = '$PerceptronTargetLang' THEN 1 ELSE -1 END) AS correct
       |FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }
}
