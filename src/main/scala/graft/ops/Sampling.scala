package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.TextKernel

/** Deterministic sampling / splitting operators for training-data
  * pipelines. Both are driven by a content-independent HASH of the
  * stable document id — never by rand() — so assignments are
  * reproducible across runs, engines, cluster sizes, and repartitions:
  * the property that makes train/test splits auditable and leak-free
  * at 100 TB (a random split re-drawn per run silently contaminates
  * evaluation sets). Scale shape: pure map-side predicates on the scan
  * (no shuffle at all until the verification aggregate).
  */
object Sampling {

  /** Portable 32-bit hash of the doc_id column: first 8 hex nibbles of
    * md5(cast(doc_id as string)) — the shared graft.core.Hash32
    * construction, bit-identical in DuckDB. */
  private[ops] def docIdHash: Column =
    graft.core.Hash32.column("md5(cast(doc_id as string))")

  private[ops] val sqlDocHash =
    graft.core.Hash32.sql("md5(cast(doc_id as varchar))")

  val TrainPct = 80L
  val ValPct = 10L // remainder = test

  /** q50: deterministic train/val/test split — bucket = hash mod 100;
    * <80 train, <90 val, else test. Verified by the per-split counts
    * and token totals (the assignment itself is a scan-time map). */
  def hashSplit(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("split", splitOf(pmod(docIdHash, lit(100L))))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(TextAnalytics.tokens(col("text"))).cast("long")).as("n_tokens"))
      .orderBy("split")

  /** The ONE DuckDB spelling of the q50 split rule (the Hash32
    * discipline: one definition per engine, so q50/q177/q180 cannot
    * drift copy-by-copy). Spark twin: [[splitOf]]. */
  private[ops] def sqlSplitCase: String =
    s"""CASE WHEN $sqlDocHash % 100 < $TrainPct THEN 'train'
       |         WHEN $sqlDocHash % 100 < ${TrainPct + ValPct} THEN 'val'
       |         ELSE 'test' END""".stripMargin

  def hashSplitSql: String =
    s"""SELECT split, count(*) AS n_docs,
       |  cast(sum(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != ''))) as bigint) AS n_tokens
       |FROM (
       |  SELECT text, $sqlSplitCase AS split
       |  FROM documents)
       |GROUP BY split
       |ORDER BY split""".stripMargin

  val SourceCap = 60L

  /** q53: per-source quota cap — keep at most SourceCap docs per
    * source, selected deterministically by (doc hash, doc_id) order,
    * never by rand(). This is the "cap documents per domain" step of a
    * web-scale corpus (one domain must not dominate the training mix).
    * Physical shape: the rank<=cap filter directly above the window
    * triggers Spark's WindowGroupLimit, so each partition keeps only
    * its top rows BEFORE the shuffle — per-group selection work is
    * O(cap), not O(group). The output aggregates (count + doc_id
    * checksum of the kept set) prove the exact selected SET matches
    * the oracle, not just its size. */
  def sourceCap(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("h"), col("doc_id"))
    val ranked = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"))
      .withColumn("h", docIdHash)
      .withColumn("rn", row_number().over(w))
    val kept = ranked.filter(col("rn") <= SourceCap)
    val totals = Tables.documents(spark, sfDir)
      .groupBy("source").agg(count(lit(1)).as("n_total"))
    kept.groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("kept_id_sum"))
      .join(totals, "source")
      .select(col("source"), col("n_total"), col("n_kept"), col("kept_id_sum"))
      .orderBy("source")
  }

  def sourceCapSql: String =
    s"""WITH ranked AS (
       |  SELECT doc_id, source,
       |    row_number() OVER (PARTITION BY source ORDER BY $sqlDocHash, doc_id) AS rn
       |  FROM documents)
       |SELECT source,
       |  (SELECT count(*) FROM documents d WHERE d.source = ranked.source) AS n_total,
       |  count(*) AS n_kept,
       |  cast(sum(doc_id) as bigint) AS kept_id_sum
       |FROM ranked
       |WHERE rn <= $SourceCap
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** Feature-hash buckets for [[importanceWeights]]. */
  val DsirBuckets = 1024L
  /** Target-domain predicate: English documents stand in for the
    * "high-quality target distribution" of the DSIR formulation. */
  val DsirTargetLang = "en"

  /** q71: data-selection importance weights, after DSIR (Xie et al.
    * 2023, "Data Selection for Language Models via Importance
    * Resampling"): hash word bigrams into a small feature space, model
    * target (English docs) and raw (whole corpus) as bucket count
    * distributions, and score every document by the sum of its
    * features' target-vs-raw ratios. High-weight docs look like the
    * target domain; sampling proportional to the weight is the
    * selection step. The per-feature score is the INTEGER ratio
    * ((cnt_target+1) * 1e6) div (cnt_raw+1) — add-one smoothed, the
    * same monotone surrogate-for-log-ratio trade q69 makes, so the
    * whole computation is integer-exact and hash-checkable.
    *
    * Scale shape: the feature table has at most [[DsirBuckets]] rows
    * no matter the corpus size — both distributions come out of ONE
    * aggregation pass over the hashed bigrams (count + conditional
    * count), and the score table BROADCASTS back onto the same
    * materialized bigram rows (map-side join), leaving one shuffle by
    * doc_id. Bigrams hash in a typed flatMap to i64 rows (see
    * dupSpans for why not HOF lambdas). */
  def importanceWeights(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val feats = Materialize.shared(spark,
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("lang"), col("text"))
        .as[(Long, String, String)]
        .mapPartitions { it =>
          val md = java.security.MessageDigest.getInstance("MD5")
          it.flatMap { case (id, lang, txt) =>
            TextKernel.gramHashes(TextKernel.words(txt), 2, 32, md)
              .map(hv => (id, lang, hv % DsirBuckets))
          }
        }
        .toDF("doc_id", "lang", "fh"))
    val buckets = feats.groupBy("fh").agg(
      count(lit(1)).as("cnt_all"),
      sum(when(col("lang") === DsirTargetLang, 1L).otherwise(0L)).as("cnt_t"))
    val scores = broadcast(
      buckets.withColumn("score", expr("((cnt_t + 1) * 1000000) div (cnt_all + 1)"))
        .select("fh", "score"))
    val per = feats.join(scores, "fh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), sum(col("score")).as("weight"))
    Tables.documents(spark, sfDir).select("doc_id")
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("weight"), lit(0L)).as("weight"),
        coalesce(expr("weight div n_feats"), lit(0L)).as("mean_score"))
      .orderBy("doc_id")
  }

  def importanceWeightsSql: String = {
    val bgHash = (0 until 8).map { j =>
      val w = 1L << (4 * (7 - j))
      s"(cast(strpos('0123456789abcdef', substring(md5(g), ${j + 1}, 1)) as bigint) - 1) * $w"
    }.mkString("(", " + ", ")")
    s"""WITH bg AS (
       |  SELECT doc_id, lang, unnest(CASE WHEN len(t) >= 2
       |    THEN [t[i+1]||' '||t[i+2] for i in range(len(t)-1)] ELSE [] END) AS g
       |  FROM (SELECT doc_id, lang,
       |          list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '') t
       |        FROM documents)),
       |f AS (SELECT doc_id, lang, $bgHash % $DsirBuckets AS fh FROM bg),
       |b AS (
       |  SELECT fh, count(*) AS cnt_all,
       |    cast(sum(CASE WHEN lang = '$DsirTargetLang' THEN 1 ELSE 0 END) as bigint) AS cnt_t
       |  FROM f GROUP BY fh),
       |s AS (SELECT fh, ((cnt_t + 1) * 1000000) // (cnt_all + 1) AS score FROM b),
       |per AS (
       |  SELECT doc_id, count(*) AS n_feats, cast(sum(score) as bigint) AS weight
       |  FROM f JOIN s USING (fh) GROUP BY doc_id)
       |SELECT d.doc_id,
       |  coalesce(n_feats, 0) AS n_feats,
       |  coalesce(weight, 0) AS weight,
       |  coalesce(weight // n_feats, 0) AS mean_score
       |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** q77: temperature-scaled source mixture weights — the "data
    * mixing" step that turns per-source token counts into sampling
    * probabilities for training. Raw proportional sampling lets one
    * huge crawl source drown everything; full uniform over-samples
    * tiny sources into repetition. The standard compromise is
    * p_i ∝ n_i^alpha with alpha in (0,1) (the multilingual-sampling
    * temperature trick, e.g. XLM-R); alpha = 0.5 here because
    * sqrt of an exactly-representable bigint is a correctly-rounded
    * IEEE op, so floor(sqrt(n) * 1e6) is the same integer in Spark
    * and DuckDB and the whole report stays hash-checkable.
    *
    * Scale shape: one aggregation by source (map-side combine carries
    * a count + token sum per source per task), then the permille
    * normalization joins against a ONE-ROW total frame — broadcast,
    * no second shuffle of anything corpus-sized. */
  def mixtureWeights(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = TextAnalytics.tokens(col("text"))
    val per = Tables.documents(spark, sfDir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(toks).cast("long")).as("n_tokens"))
      .withColumn("weight",
        floor(sqrt(col("n_tokens").cast("double")) * lit(1000000.0)).cast("long"))
    val totals = per.agg(sum(col("n_tokens")).as("tt"), sum(col("weight")).as("tw"))
    per.crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("weight"),
        expr("n_tokens * 1000 div tt").as("raw_permille"),
        expr("weight * 1000 div tw").as("sampled_permille"))
      .orderBy("source")
  }

  def mixtureWeightsSql: String =
    s"""WITH per AS (
       |  SELECT source, count(*) AS n_docs,
       |    cast(sum(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != ''))) as bigint) AS n_tokens
       |  FROM documents GROUP BY source),
       |w AS (
       |  SELECT source, n_docs, n_tokens,
       |    cast(floor(sqrt(cast(n_tokens as double)) * 1000000.0) as bigint) AS weight
       |  FROM per),
       |tot AS (
       |  SELECT cast(sum(n_tokens) as bigint) AS tt, cast(sum(weight) as bigint) AS tw FROM w)
       |SELECT source, n_docs, n_tokens, weight,
       |  n_tokens * 1000 // tt AS raw_permille,
       |  weight * 1000 // tw AS sampled_permille
       |FROM w, tot
       |ORDER BY source""".stripMargin

  val SamplePerMille = 100L // 10% per stratum

  /** q51: stratified deterministic sample — keep docs whose hash lands
    * in the first 100 of 1000 buckets, WITHIN each (lang) stratum, so
    * every language keeps ~10% regardless of its share of the corpus
    * (plain sampling starves rare strata). Emits per-stratum totals vs
    * sampled counts so the rate is audit-checkable. */
  def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val keep = pmod(docIdHash, lit(1000L)) < SamplePerMille
    Tables.documents(spark, sfDir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_total"),
        sum(when(keep, 1L).otherwise(0L)).as("n_sampled"))
      .withColumn("rate",
        col("n_sampled").cast("double") / col("n_total").cast("double"))
      .orderBy("lang")
  }

  def stratifiedSampleSql: String =
    s"""SELECT lang, count(*) AS n_total,
       |  cast(sum(CASE WHEN $sqlDocHash % 1000 < $SamplePerMille THEN 1 ELSE 0 END) as bigint) AS n_sampled,
       |  cast(sum(CASE WHEN $sqlDocHash % 1000 < $SamplePerMille THEN 1 ELSE 0 END) as double)
       |    / cast(count(*) as double) AS rate
       |FROM documents
       |GROUP BY lang
       |ORDER BY lang""".stripMargin

  // -------------------------------------------------------------------
  // Token-budget allocation: the epochs-per-source training plan.
  // -------------------------------------------------------------------

  /** Train for the token-equivalent of this many passes over the
    * whole corpus (the budget constant the plan divides up). */
  val BudgetEpochsX = 2L

  /** q100: token-budget allocation — q77's temperature weights turned
    * into the actual training plan: each source's share of a fixed
    * token budget, and therefore how many EPOCHS of that source the
    * run will consume (epochs > 1 ⇒ the source repeats, the
    * small-data regime of Muennighoff et al. 2023; epochs < 1 ⇒ the
    * source is subsampled). This is the table a training run's data
    * loader is actually configured from.
    *
    * Integer discipline: the share is quantized to PERMILLE before
    * multiplying into the budget — budget × permille stays within
    * i64 for budgets up to ~9e15 tokens (far beyond a 100 TB corpus),
    * whereas multiplying budget × raw-weight first would overflow at
    * web scale. Same one-aggregation + one-row-broadcast shape as
    * q77. */
  def tokenBudget(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = TextAnalytics.tokens(col("text"))
    val per = Tables.documents(spark, sfDir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(toks).cast("long")).as("n_tokens"))
      .withColumn("weight",
        floor(sqrt(col("n_tokens").cast("double")) * lit(1000000.0)).cast("long"))
    val totals = per.agg(sum(col("n_tokens")).as("tt"), sum(col("weight")).as("tw"))
    per.crossJoin(broadcast(totals))
      .withColumn("share_permille", expr("weight * 1000 div tw"))
      .withColumn("alloc_tokens",
        expr(s"($BudgetEpochsX * tt * share_permille) div 1000"))
      .withColumn("epochs_milli", expr("alloc_tokens * 1000 div n_tokens"))
      .withColumn("repeats", col("epochs_milli") > 1000L)
      .select("source", "n_docs", "n_tokens", "weight", "share_permille",
        "alloc_tokens", "epochs_milli", "repeats")
      .orderBy("source")
  }

  def tokenBudgetSql: String =
    s"""WITH per AS (
       |  SELECT source, count(*) AS n_docs,
       |    cast(sum(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != ''))) as bigint) AS n_tokens
       |  FROM documents GROUP BY source),
       |w AS (
       |  SELECT source, n_docs, n_tokens,
       |    cast(floor(sqrt(cast(n_tokens as double)) * 1000000.0) as bigint) AS weight
       |  FROM per),
       |tot AS (
       |  SELECT cast(sum(n_tokens) as bigint) AS tt, cast(sum(weight) as bigint) AS tw FROM w),
       |s AS (
       |  SELECT source, n_docs, n_tokens, weight,
       |    weight * 1000 // tw AS share_permille,
       |    ($BudgetEpochsX * tt * (weight * 1000 // tw)) // 1000 AS alloc_tokens
       |  FROM w, tot)
       |SELECT source, n_docs, n_tokens, weight, share_permille, alloc_tokens,
       |  (alloc_tokens * 1000) // n_tokens AS epochs_milli,
       |  ((alloc_tokens * 1000) // n_tokens > 1000) AS repeats
       |FROM s
       |ORDER BY source""".stripMargin

  // -------------------------------------------------------------------
  // UniMax: capped-uniform language allocation (waterfilling).
  // -------------------------------------------------------------------

  /** Per-language repeat ceiling in milli-epochs: no language may
    * contribute more than 2.5 passes over its own tokens. */
  val UniMaxEpochCapMilli = 2500L
  /** Total training budget, as a multiple of the corpus token count. */
  val UniMaxBudgetX = 2L

  /** q113: UniMax language allocation (Chung et al. 2023, "UniMax:
    * Fairer and More Effective Language Sampling for Large-Scale
    * Multilingual Pretraining"). Where q77/q100 soften the corpus
    * distribution with a temperature (p ∝ n^α — big languages still
    * get more), UniMax solves the OTHER standard formulation: spread
    * the token budget as UNIFORMLY as possible across languages,
    * subject to a per-language repeat ceiling (capacity_l = epoch cap
    * × n_tokens_l). The optimum is a waterfill: languages too small to
    * absorb an equal share are capped at their capacity, and the
    * remainder splits equally among the rest.
    *
    * Closed form instead of the paper's loop: sort by capacity
    * ascending; the saturated set is a PREFIX of that order (if a
    * language can't absorb the equal share, neither could any smaller
    * one), so per-row `capacity × slots_remaining ≤ budget −
    * cum_prev_capacity` — all i64 multiplications, no division, hence
    * exact — marks the prefix, and the water level is the first
    * unsaturated row's `remaining div slots`. Induction on the exact
    * inequality shows no later row can falsely re-saturate, so one
    * window pass replaces the iteration. Integer div undershoots the
    * budget by < n_langs tokens — stated rather than redistributed.
    *
    * Scale shape: ONE corpus aggregation by lang (map-side combine);
    * everything after runs on the languages-sized frame (the window's
    * single partition holds ≤ thousands of rows — answer-sized by
    * construction, like q77's one-row totals). i64 headroom: capacity
    * × slots ≤ 2.5 × 10^13 tokens × 10^4 langs ≈ 2.5 × 10^17 at
    * 100 TB. */
  def uniMaxAllocation(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = Tables.documents(spark, sfDir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(TextAnalytics.tokens(col("text"))).cast("long")).as("n_tokens"))
      .withColumn("capacity", expr(s"(n_tokens * $UniMaxEpochCapMilli) div 1000"))
    val totals = per.agg(sum(col("n_tokens")).as("tt"),
      count(lit(1)).as("nl"))
    val w = Window.orderBy(col("capacity"), col("lang"))
    val t = per.crossJoin(broadcast(totals))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cum_prev",
        coalesce(sum(col("capacity")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("remaining", expr(s"$UniMaxBudgetX * tt - cum_prev"))
      .withColumn("slots", col("nl") - col("rn") + 1L)
      .withColumn("sat", col("capacity") * col("slots") <= col("remaining"))
      .withColumn("lvl", expr("remaining div slots"))
    val level = t.agg(
      min_by(col("lvl"), when(!col("sat"), col("rn"))).as("level"))
    t.crossJoin(broadcast(level))
      .withColumn("alloc_tokens",
        when(col("sat"), col("capacity"))
          .otherwise(coalesce(col("level"), col("capacity"))))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("capacity"),
        col("sat").as("saturated"), col("alloc_tokens"),
        expr("alloc_tokens * 1000 div n_tokens").as("epochs_milli"))
      .orderBy("lang")
  }

  def uniMaxAllocationSql: String =
    s"""WITH per AS (
       |  SELECT lang, count(*) AS n_docs,
       |    cast(sum(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != ''))) as bigint) AS n_tokens
       |  FROM documents GROUP BY lang),
       |cap AS (SELECT lang, n_docs, n_tokens,
       |          (n_tokens * $UniMaxEpochCapMilli) // 1000 AS capacity FROM per),
       |tot AS (SELECT cast(sum(n_tokens) as bigint) AS tt, count(*) AS nl FROM cap),
       |t AS (SELECT lang, n_docs, n_tokens, capacity, tt, nl,
       |        row_number() OVER (ORDER BY capacity, lang) AS rn,
       |        coalesce(cast(sum(capacity) OVER (ORDER BY capacity, lang
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) as bigint), 0) AS cum_prev
       |      FROM cap, tot),
       |t2 AS (SELECT *, $UniMaxBudgetX * tt - cum_prev AS remaining,
       |         nl - rn + 1 AS slots,
       |         capacity * (nl - rn + 1) <= ($UniMaxBudgetX * tt - cum_prev) AS sat,
       |         ($UniMaxBudgetX * tt - cum_prev) // (nl - rn + 1) AS lvl
       |       FROM t),
       |lev AS (SELECT arg_min(lvl, rn) FILTER (WHERE NOT sat) AS level FROM t2)
       |SELECT lang, n_docs, n_tokens, capacity, sat AS saturated,
       |  CASE WHEN sat THEN capacity ELSE coalesce(level, capacity) END AS alloc_tokens,
       |  (CASE WHEN sat THEN capacity ELSE coalesce(level, capacity) END) * 1000 // n_tokens AS epochs_milli
       |FROM t2, lev
       |ORDER BY lang""".stripMargin

  // -------------------------------------------------------------------
  // Deterministic training order: the reproducible global shuffle.
  // -------------------------------------------------------------------

  /** Data-parallel width at test SF. In production this is
    * corpus_bytes / shard_target_bytes (thousands of shards), NOT the
    * trainer's rank count — see [[trainOrder]]. */
  val NumShards = 8L

  /** q114: deterministic training-order shards — the reproducible
    * global shuffle every training run needs. Each doc gets a shard
    * (hash mod [[NumShards]]), a position within its shard (ordered by
    * (hash, doc_id) — content-independent, so the order is stable
    * across runs, engines, and repartitions, and documents from the
    * same source/crawl-batch are interleaved rather than adjacent),
    * and the global step at which a round-robin data-parallel reader
    * would consume it. rand() would give none of that: resumable
    * training and ablation reruns need byte-identical order.
    *
    * Scale shape: one hash-partitioned window — each shard sorts
    * independently, and the within-shard sort IS the physical file
    * order a shard writer must produce anyway, so nothing here is
    * overhead. A window partition holds one shard; at 100 TB you size
    * [[NumShards]] = corpus_bytes / shard_target (thousands), keeping
    * every partition task-sized by construction — the same discipline
    * as WebDataset/TFRecord sharding. No global sort, no single-
    * partition window, no driver state. */
  /** The ONE definition of q114/q118's shard order: shard = hash mod
    * [[NumShards]], position = row_number over (h, doc_id) within the
    * shard. Shared so the manifest can never checksum a different
    * order than the one the trainer consumes. Input must carry a
    * `doc_id` column; any extra columns ride along (keep them NARROW —
    * they pass through the per-shard sort). */
  private def withShardOrder(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("shard").orderBy(col("h"), col("doc_id"))
    df.withColumn("h", docIdHash)
      .withColumn("shard", pmod(col("h"), lit(NumShards)))
      .withColumn("position", row_number().over(w).cast("long"))
  }

  def trainOrder(spark: SparkSession, sfDir: String): DataFrame =
    withShardOrder(Tables.documents(spark, sfDir).select(col("doc_id")))
      .withColumn("global_step",
        (col("position") - 1L) * lit(NumShards) + col("shard"))
      .select("doc_id", "shard", "position", "global_step")
      .orderBy("doc_id")

  def trainOrderSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, $sqlDocHash AS h FROM documents),
       |r AS (
       |  SELECT doc_id, h, h % $NumShards AS shard,
       |    row_number() OVER (PARTITION BY h % $NumShards ORDER BY h, doc_id) AS position
       |  FROM t)
       |SELECT doc_id, shard, position,
       |  (position - 1) * $NumShards + shard AS global_step
       |FROM r
       |ORDER BY doc_id""".stripMargin

  /** Modulus for q118's order-sensitive checksum (a prime < 2^30). */
  val ManifestMod = 1000000007L

  /** q118: shard manifest — the release artifact that rides q114's
    * training order: per shard, the doc count, the id checksum, the
    * token mass, and an ORDER-SENSITIVE content checksum
    * `Σ (position × contentHash) mod p` — swapping any two unequal
    * docs, dropping one, or altering any text changes it, so a
    * consumer can verify both WHAT a shard contains and in WHAT ORDER
    * without re-reading the corpus (the role a WebDataset/TFRecord
    * release manifest plays). The per-term product is reduced mod p
    * BEFORE summing: position ≤ 10^9 × hash < 2^32 stays inside i64
    * per term, and the running sum of mod-p terms needs ~10^9 rows per
    * shard to approach overflow — beyond any sane shard size, and the
    * final reduction restores canonical form anyway.
    *
    * Scale shape: content hash and token count are computed BEFORE the
    * per-shard sort, so only narrow (doc_id, h, ch, ntok) rows pass
    * through the window — the raw text never shuffles; the shard/order
    * derivation is literally q114's ([[withShardOrder]] — one
    * definition, so the manifest cannot checksum a different order
    * than the trainer consumes); the aggregate is one keyed pass with
    * map-side combine onto shards-sized output. */
  def shardManifest(spark: SparkSession, sfDir: String): DataFrame = {
    val narrow = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.core.Hash32.column("md5(text)").as("ch"),
        size(TextAnalytics.tokens(col("text"))).cast("long").as("ntok"))
    withShardOrder(narrow)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("id_sum"),
        sum(col("ntok")).as("n_tokens"),
        pmod(sum(pmod(col("position") * col("ch"), lit(ManifestMod))),
          lit(ManifestMod)).as("ordered_checksum"))
      .orderBy("shard")
  }

  def shardManifestSql: String = {
    val ch = graft.core.Hash32.sql("md5(text)")
    s"""WITH t AS (
       |  SELECT doc_id, $sqlDocHash AS h, $ch AS ch,
       |    cast(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '')) as bigint) AS ntok
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, ch, ntok, h % $NumShards AS shard,
       |    row_number() OVER (PARTITION BY h % $NumShards ORDER BY h, doc_id) AS position
       |  FROM t)
       |SELECT shard, cast(count(*) as bigint) AS n_docs,
       |  cast(sum(doc_id) as bigint) AS id_sum,
       |  cast(sum(ntok) as bigint) AS n_tokens,
       |  cast(sum((position * ch) % $ManifestMod) % $ManifestMod as bigint) AS ordered_checksum
       |FROM r GROUP BY shard
       |ORDER BY shard""".stripMargin
  }

  // -------------------------------------------------------------------
  // Negative-sampling distribution table (word2vec / contrastive
  // training): the unigram^0.75 sampler of Mikolov et al. 2013 — the
  // exponent that lifts rare words enough to be useful negatives
  // without letting stopwords dominate. The emitted table IS the
  // artifact a skip-gram or contrastive trainer draws from: cumulative
  // permille ranges over the top-K vocabulary, so sampling is "draw
  // uniform permille, binary-search the range column".
  // -------------------------------------------------------------------

  val NegSampleK = 100

  /** q144: (rank, tok, cnt, weight, cum_start_permille,
    * cum_end_permille) over the top-[[NegSampleK]] tokens.
    *
    * Portability: cnt^0.75 is NOT computed with pow (whose last-ulp
    * behavior is libm-specific) but as sqrt(cnt · sqrt(cnt)) — a
    * composition of correctly-rounded IEEE ops over an exactly-
    * representable integer, so the floored milli-weight is the same
    * integer in both engines.
    *
    * Scale shape: per-doc token counts collapse in the scan flatMap;
    * ONE keyed agg with map-side combine builds the count table;
    * top-K is physical top-k (TakeOrderedAndProject), and the
    * cumulative window runs on the K-row result — the corpus
    * vocabulary is never globally sorted. */
  def negativeSamplingTable(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val tf = Tables.documents(spark, sfDir)
      .select(col("text"))
      .as[String]
      .mapPartitions { it =>
        it.flatMap { txt =>
          val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
          TextKernel.words(txt).foreach(t => m.update(t, m.getOrElse(t, 0L) + 1L))
          m.iterator
        }
      }
      .toDF("tok", "c")
      .groupBy("tok").agg(sum(col("c")).as("cnt"))
    val top = tf.orderBy(col("cnt").desc, col("tok").asc).limit(NegSampleK)
      .withColumn("weight",
        floor(sqrt(col("cnt").cast("double") * sqrt(col("cnt").cast("double"))) * lit(1000.0))
          .cast("long"))
    val w = Window.orderBy(col("cnt").desc, col("tok").asc)
    val tw = top.agg(sum(col("weight")).as("tw"))
    top.crossJoin(broadcast(tw))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum",
        sum(col("weight")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cum_start_permille", expr("(cum - weight) * 1000 div tw"))
      .withColumn("cum_end_permille", expr("cum * 1000 div tw"))
      .select("rank", "tok", "cnt", "weight", "cum_start_permille", "cum_end_permille")
      .orderBy("rank")
  }

  def negativeSamplingTableSql: String =
    s"""WITH tf AS (
       |  SELECT tok, cast(count(*) as bigint) AS cnt FROM (
       |    SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '')) AS tok
       |    FROM documents)
       |  GROUP BY tok),
       |top AS (
       |  SELECT tok, cnt,
       |    cast(floor(sqrt(cast(cnt as double) * sqrt(cast(cnt as double))) * 1000.0) as bigint) AS weight,
       |    cast(row_number() OVER (ORDER BY cnt DESC, tok ASC) as bigint) AS rank
       |  FROM tf ORDER BY cnt DESC, tok ASC LIMIT $NegSampleK),
       |tw AS (SELECT cast(sum(weight) as bigint) AS tw FROM top),
       |c AS (
       |  SELECT rank, tok, cnt, weight,
       |    cast(sum(weight) OVER (ORDER BY rank
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint) AS cum
       |  FROM top)
       |SELECT rank, tok, cnt, weight,
       |  (cum - weight) * 1000 // tw AS cum_start_permille,
       |  cum * 1000 // tw AS cum_end_permille
       |FROM c, tw
       |ORDER BY rank""".stripMargin

  // -------------------------------------------------------------------
  // Epoch-capped PROPORTIONAL allocation: the data-constrained regime
  // (Muennighoff et al. 2023, "Scaling Data-Constrained Language
  // Models" — repeating past ~4 epochs stops helping). Completes the
  // mixture family's 2×2: q100 is proportional-uncapped, q113 is
  // uniform-capped (UniMax); this is proportional-capped — spread the
  // budget by q77's temperature weights, but no source may repeat past
  // the epoch ceiling, and capped-out surplus waterfills into the
  // remaining sources IN PROPORTION (not uniformly — that's q113's
  // policy, this one preserves the temperature shape among the
  // unsaturated).
  // -------------------------------------------------------------------

  /** Per-source repeat ceiling (milli-epochs): the ~4-epoch limit. */
  val EpochCapMilli = 4000L

  /** q137: proportional waterfill under per-source epoch caps.
    *
    * Closed form, one window pass (the q113 discipline generalized):
    * sort sources by capacity/share ratio ascending — the saturation
    * order for PROPORTIONAL targets (a source caps out exactly when
    * its cap-to-share ratio is below the waterline, so the saturated
    * set is a prefix of that order). The per-row saturation mark is
    * the cross-multiplied integer inequality `capacity × rw ≤ rb ×
    * share` (rw = share mass from this row on, rb = budget − caps
    * already granted) — exact in i64 (share ≤ 1000, rb ≤ 2×10¹⁴
    * tokens at 100 TB → 2×10¹⁷). The sort key itself is the double
    * ratio capacity/share (correctly-rounded division of exact
    * integers — identical ordering cross-engine; a tie at double
    * precision breaks by source name, which can only swap two sources
    * whose true ratios differ by < 1 ulp — a sub-ppm policy nuance,
    * never an infeasibility: the marking inequality stays exact for
    * whatever order is used). Zero-share sources sort last (ratio =
    * +∞), never saturate, and allocate exactly 0. Unsaturated rows
    * allocate `rb × share div rw` read at the first unsaturated row;
    * integer div undershoots the budget by < Σshares tokens — stated,
    * not redistributed.
    *
    * Scale shape: ONE corpus aggregation by source; the window and
    * everything after run on the sources-sized frame. */
  def epochCappedAllocation(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = TextAnalytics.tokens(col("text"))
    val per = Tables.documents(spark, sfDir)
      .groupBy("source")
      .agg(sum(size(toks).cast("long")).as("n_tokens"))
      .withColumn("weight",
        floor(sqrt(col("n_tokens").cast("double")) * lit(1000000.0)).cast("long"))
      .withColumn("capacity", expr(s"(n_tokens * $EpochCapMilli) div 1000"))
    val totals = per.agg(sum(col("n_tokens")).as("tt"), sum(col("weight")).as("tw"))
    val shared = per.crossJoin(broadcast(totals))
      .withColumn("share", expr("weight * 1000 div tw"))
      .withColumn("ratio",
        col("capacity").cast("double") / col("share").cast("double"))
    val w = Window.orderBy(col("ratio"), col("source"))
    val t = shared
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cum_cap",
        coalesce(sum(col("capacity")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("cum_share",
        coalesce(sum(col("share")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .crossJoin(broadcast(shared.agg(sum(col("share")).as("ts"))))
      .withColumn("rb", expr(s"$BudgetEpochsX * tt - cum_cap"))
      .withColumn("rw", col("ts") - col("cum_share"))
      .withColumn("sat", col("capacity") * col("rw") <= col("rb") * col("share"))
    val level = t.agg(
      min_by(struct(col("rb"), col("rw")), when(!col("sat"), col("rn"))).as("lv"))
    t.crossJoin(broadcast(level))
      .withColumn("alloc_tokens",
        when(col("sat"), col("capacity"))
          .otherwise(expr("lv.rb * share div lv.rw")))
      .select(col("source"), col("n_tokens"), col("weight"), col("share").as("share_permille"),
        col("capacity"), col("sat").as("saturated"), col("alloc_tokens"),
        expr("alloc_tokens * 1000 div n_tokens").as("epochs_milli"))
      .orderBy("source")
  }

  def epochCappedAllocationSql: String =
    s"""WITH per AS (
       |  SELECT source,
       |    cast(sum(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != ''))) as bigint) AS n_tokens
       |  FROM documents GROUP BY source),
       |w0 AS (
       |  SELECT source, n_tokens,
       |    cast(floor(sqrt(cast(n_tokens as double)) * 1000000.0) as bigint) AS weight,
       |    (n_tokens * $EpochCapMilli) // 1000 AS capacity
       |  FROM per),
       |tot AS (SELECT cast(sum(n_tokens) as bigint) AS tt, cast(sum(weight) as bigint) AS tw FROM w0),
       |sh AS (
       |  SELECT source, n_tokens, weight, capacity, tt,
       |    weight * 1000 // tw AS share,
       |    cast(capacity as double) / cast(weight * 1000 // tw as double) AS ratio
       |  FROM w0, tot),
       |ts AS (SELECT cast(sum(share) as bigint) AS ts FROM sh),
       |t AS (
       |  SELECT sh.*, ts.ts,
       |    row_number() OVER (ORDER BY ratio, source) AS rn,
       |    coalesce(cast(sum(capacity) OVER (ORDER BY ratio, source
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) as bigint), 0) AS cum_cap,
       |    coalesce(cast(sum(share) OVER (ORDER BY ratio, source
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) as bigint), 0) AS cum_share
       |  FROM sh, ts),
       |t2 AS (
       |  SELECT *, $BudgetEpochsX * tt - cum_cap AS rb, ts - cum_share AS rw,
       |    capacity * (ts - cum_share) <= ($BudgetEpochsX * tt - cum_cap) * share AS sat
       |  FROM t),
       |lev AS (
       |  SELECT arg_min(rb, rn) FILTER (WHERE NOT sat) AS lrb,
       |         arg_min(rw, rn) FILTER (WHERE NOT sat) AS lrw
       |  FROM t2)
       |SELECT source, n_tokens, weight, share AS share_permille, capacity,
       |  sat AS saturated,
       |  CASE WHEN sat THEN capacity ELSE lrb * share // lrw END AS alloc_tokens,
       |  (CASE WHEN sat THEN capacity ELSE lrb * share // lrw END) * 1000 // n_tokens AS epochs_milli
       |FROM t2, lev
       |ORDER BY source""".stripMargin

  // -------------------------------------------------------------------
  // Priority sampling (q169): Duffield, Lund & Thorup (JACM 2007) —
  // the weight-aware sample a pipeline keeps when it can afford k rows
  // but must still answer subset-sum queries over the full corpus
  // unbiasedly: draw u_i uniform, give item i priority w_i/u_i, keep
  // the k largest priorities, and estimate every kept item's weight as
  // max(w_i, tau) where tau is the (k+1)-th priority. DLT prove this
  // needs only k+1 samples to match the variance optimum.
  //
  // Engine-exact formulation: u_i is the portable-hash 20-bit uniform
  // (h20 = (hash32(doc_id) >> 12) + 1, u = h20/2^20), so the priority
  // is the exact integer (w << 20) div h20 — the DLT scheme on a 2^-20
  // grid. No float anywhere; the sample, tau, and the estimates are
  // deterministic integers. Unbiasedness is over the hash-induced u
  // (one fixed realization here, as with every hash-seeded sampler in
  // this file).
  //
  // Scale shape: one scan computing priorities, then top-(k+1) via
  // orderBy+limit — Spark's TakeOrderedAndProject (per-partition
  // top-k, merge at the driver, k+1 rows total); tau is read from the
  // (k+1)-th row of that ANSWER-SIZED frame, never a full-corpus
  // window. Weight = n_chars (the library convention for "cost" on
  // the documents table; swap for token counts in deployment).
  // -------------------------------------------------------------------

  val PrioritySampleK = 25

  def prioritySample(spark: SparkSession, sfDir: String): DataFrame = {
    val pri = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars").as("w"),
        (shiftright(docIdHash, 12) + lit(1L)).as("h20"))
      .withColumn("priority", expr("(w << 20) div h20"))
    // top k+1 rows by (priority desc, doc_id asc): answer-sized
    val top = pri.orderBy(col("priority").desc, col("doc_id").asc)
      .limit(PrioritySampleK + 1)
      .withColumn("rank", row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("priority").desc, col("doc_id").asc)).cast("long"))
    // n <= k degeneracy (DLT: keep everything, est_w = w): aggregate
    // tau as a max-filter so the frame is ALWAYS one row (null tau
    // when no (k+1)-th item exists), and coalesce the null to w —
    // a filter-then-crossJoin would silently drop every row instead
    val tau = top.agg(max(when(col("rank") === PrioritySampleK + 1,
      col("priority"))).as("tau"))
    top.filter(col("rank") <= PrioritySampleK).crossJoin(broadcast(tau))
      .select(col("rank"), col("doc_id"), col("w"), col("priority"),
        greatest(col("w"), coalesce(col("tau"), col("w"))).as("est_w"))
      .orderBy("rank")
  }

  def prioritySampleSql: String = {
    val k = PrioritySampleK
    s"""WITH pri AS (
       |  SELECT doc_id, n_chars AS w, ($sqlDocHash >> 12) + 1 AS h20
       |  FROM documents),
       |keyed AS (SELECT doc_id, w, (w << 20) // h20 AS priority FROM pri),
       |ranked AS (SELECT *, cast(row_number() OVER (ORDER BY priority DESC, doc_id ASC) as bigint) AS rank FROM keyed),
       |tau AS (SELECT priority AS t FROM ranked WHERE rank = ${k + 1})
       |SELECT rank, doc_id, w, priority,
       |  greatest(w, coalesce((SELECT t FROM tau), w)) AS est_w
       |FROM ranked WHERE rank <= $k ORDER BY rank""".stripMargin
  }

  // -------------------------------------------------------------------
  // Weighted reservoir sample (q174): Efraimidis & Spirakis (IPL 2006)
  // A-Res — THE weighted sampling-without-replacement primitive: give
  // item i key u_i^(1/w_i) (u uniform), keep the k largest keys; the
  // result is a probability-proportional-to-weight k-subset, and the
  // key is computable independently per item, so the "reservoir" is
  // just a distributed top-k. Complements q169 (DLT): DLT keeps a
  // sample that ANSWERS subset-sum queries unbiasedly (estimator
  // attached), A-Res draws the weighted-lottery subset itself — the
  // curriculum/mixture-draw primitive (weighted shuffle = repeated
  // A-Res).
  //
  // Engine-exact formulation: maximizing u^(1/w) is minimizing
  // (-log2 u)/w, and -log2 u on the 2^-16 grid is EXACT integer
  // arithmetic via functions.FixedLog2: u = h20/2^20 (q169's portable
  // 20-bit uniform, h20 in [1, 2^20]) gives
  // L = (20 << 16) - log2_q16(h20) >= 0, and the sort key is
  // floor((L << 20) / w) ascending — pure i64, no libm, ties by
  // doc_id. The 2^20 key scale keeps three decimal digits of log
  // resolution per unit weight at w up to ~10^6.
  //
  // Scale shape: one scan computing keys (codegen'd FixedLog2), then
  // physical top-k (TakeOrderedAndProject — per-partition top-k,
  // driver merge); the rank window runs on the ANSWER-SIZED frame
  // only, the q169-audited discipline.
  // -------------------------------------------------------------------

  val ReservoirK = 25

  /** The per-row A-Res key computation — the stream/batch shared core
    * (a row's key depends on nothing but the row, which is WHY A-Res
    * streams). Works on any frame with (doc_id, n_chars). */
  private[graft] def aresKeyed(docs: DataFrame): DataFrame =
    docs.filter(col("n_chars") >= 1)
      .select(col("doc_id"), col("n_chars").as("w"),
        (shiftright(docIdHash, 12) + lit(1L)).as("h20"))
      .withColumn("nl2", lit(20L << 16) - graft.functions.FixedLog2(col("h20")))
      .withColumn("es_key", expr("(nl2 << 20) div w"))

  /** Reservoir finisher: top-k by (key, doc_id) + answer-sized rank.
    * Shared by batch q174 and the streaming twin's final read. */
  private[graft] def aresTop(keyed: DataFrame): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
      .orderBy(col("es_key").asc, col("doc_id").asc)
    keyed.orderBy(col("es_key").asc, col("doc_id").asc)
      .limit(ReservoirK)
      .withColumn("rank", row_number().over(win).cast("long"))
      .select("rank", "doc_id", "w", "es_key")
      .orderBy("rank")
  }

  def weightedReservoir(spark: SparkSession, sfDir: String): DataFrame =
    aresTop(aresKeyed(Tables.documents(spark, sfDir)))

  // -------------------------------------------------------------------
  // Neyman optimal allocation (q183): Neyman (JRSS 1934), the
  // stratified-sampling allocation every survey text (Cochran)
  // canonizes — sample stratum h in proportion to N_h·S_h, so strata
  // whose metric VARIES more get more of the budget (minimum-variance
  // estimator for a fixed total k). q51 samples a fixed rate per
  // stratum; this is the budgeted form an eval-set curator actually
  // wants: "100 docs, spread so the length estimate is tightest".
  //
  // Engine-exact formulation: S_h is the exact integer floor-sqrt of
  // the SHARED FloorGrid variance of n_chars (one kernel definition per
  // engine — see ops.FloorGrid, which also keeps the moment sums exact
  // past 2^63; isqrt via float sqrt + ±1 integer correction, so the
  // double rounding can never flip the floor); weights w_h = N_h·S_h
  // (Hamilton's k·w_h stays in i64 to w_h ~ 9e16 — beyond that, shard
  // the apportionment per super-stratum); the k-budget apportions by
  // Hamilton largest-remainder — base_h = floor(k·w_h / W), the
  // k − Σbase leftovers go to the largest integer remainders
  // k·w_h − base_h·W, ties by stratum ascending — all i64. A zero
  // total weight (every stratum constant-length) falls back to
  // w_h = N_h (proportional allocation). The pick itself is the
  // deterministic (hash, doc_id)-order top-n_h per stratum, reported
  // as counts + picked-char mass so the oracle pins WHICH docs were
  // taken, not just how many. n_pick = min(n_alloc, N_h) — budget
  // redistribution under caps is q113's unimax waterfill discipline,
  // deliberately not duplicated here.
  //
  // Scale shape: one corpus scan folds N/Σ/Σ² per stratum (map-side
  // combine, strata-sized result); the allocation math runs on the
  // strata-sized frame (single-partition window is legal there — the
  // q169 answer-sized-window discipline); the pick is one
  // stratum-partitioned rank window over a second scan projection
  // joined to the broadcast allocation.
  // -------------------------------------------------------------------

  val NeymanK = 100L

  /** Spark spelling of the overflow-free isqrt ±1 correction (the
    * DuckDB spelling in [[neymanAllocSql]] is `//` for `div`). Exposed
    * for the 2⁶³-regime spec. */
  private[graft] val IsqrtSigmaSql: String =
    "CASE WHEN (s0+1) <= vr div (s0+1) THEN s0+1 " +
      "WHEN s0 > 0 AND s0 > vr div s0 THEN s0-1 ELSE s0 END"

  def neymanAlloc(spark: SparkSession, sfDir: String): DataFrame = {
    val stats = FloorGrid.moments(
        Tables.documents(spark, sfDir).select(col("lang"), col("n_chars")),
        Seq(col("lang")), col("n_chars"))
      .withColumnRenamed("n", "n_docs")
      .withColumn("vr", greatest(col("vr"), lit(0L)))
      .withColumn("s0", expr("cast(floor(sqrt(cast(vr as double))) as bigint)"))
      // isqrt ±1 correction in DIVISION form: the squared probes
      // (s0±1)² wrap i64 for vr near 2⁶³ — exactly the regime FloorGrid
      // exists for — silently in Spark and as a bigint-overflow error
      // in DuckDB. (s0+1) <= vr div (s0+1) ⟺ (s0+1)² <= vr for
      // non-negative ints, overflow-free in both engines (both
      // integer-divide non-negatives identically). s0 = 0 implies
      // vr = 0 (floor∘sqrt), so the s0 > 0 guard loses nothing.
      .withColumn("sigma", expr(IsqrtSigmaSql))
      .withColumn("w", col("n_docs") * col("sigma"))
    val weighted = stats
      .withColumn("wtot", sum(col("w")).over(org.apache.spark.sql.expressions.Window
        .partitionBy()))
      .withColumn("wx", when(col("wtot") > 0, col("w")).otherwise(col("n_docs")))
      .withColumn("wsum", sum(col("wx")).over(org.apache.spark.sql.expressions.Window
        .partitionBy()))
      .withColumn("base", expr(s"($NeymanK * wx) div wsum"))
      .withColumn("rem", expr(s"$NeymanK * wx - base * wsum"))
      .withColumn("basesum", sum(col("base")).over(org.apache.spark.sql.expressions.Window
        .partitionBy()))
      .withColumn("rr", row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("rem").desc, col("lang").asc)))
      .withColumn("n_alloc",
        col("base") + when(col("rr") <= lit(NeymanK) - col("basesum"), 1L).otherwise(0L))
      .select(col("lang"), col("n_docs"), col("sigma"), col("n_alloc"))
    val picked = Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        docIdHash.as("h"))
      .withColumn("rk", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("h").asc, col("doc_id").asc)))
      .join(broadcast(weighted.select(col("lang"), col("n_alloc"))), Seq("lang"))
      .filter(col("rk") <= col("n_alloc"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_picked"),
        sum(col("n_chars")).as("picked_chars"))
    weighted.join(picked, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("sigma"), col("n_alloc"),
        coalesce(col("n_picked"), lit(0L)).as("n_picked"),
        coalesce(col("picked_chars"), lit(0L)).as("picked_chars"))
      .orderBy("lang")
  }

  def neymanAllocSql: String =
    s"""WITH stats AS (
       |  ${graft.ops.FloorGrid.sqlMoments("SELECT lang, n_chars FROM documents", "lang", "n_chars")}),
       |vars AS (
       |  SELECT lang, n AS n_docs, greatest(vr, 0) AS vr,
       |    cast(floor(sqrt(cast(greatest(vr, 0) as double))) as bigint) AS s0
       |  FROM stats),
       |sig AS (
       |  SELECT lang, n_docs,
       |    CASE WHEN (s0+1) <= vr // (s0+1) THEN s0+1
       |         WHEN s0 > 0 AND s0 > vr // s0 THEN s0-1 ELSE s0 END AS sigma
       |  FROM vars),
       |wt AS (
       |  SELECT lang, n_docs, sigma,
       |    CASE WHEN sum(n_docs * sigma) OVER () > 0 THEN n_docs * sigma ELSE n_docs END AS wx
       |  FROM sig),
       |ap AS (
       |  SELECT lang, n_docs, sigma, wx,
       |    ($NeymanK * wx) // (sum(wx) OVER ()) AS base,
       |    $NeymanK * wx - (($NeymanK * wx) // (sum(wx) OVER ())) * (sum(wx) OVER ()) AS rem
       |  FROM wt),
       |alloc AS (
       |  SELECT lang, n_docs, sigma,
       |    base + CASE WHEN row_number() OVER (ORDER BY rem DESC, lang ASC)
       |      <= $NeymanK - sum(base) OVER () THEN 1 ELSE 0 END AS n_alloc
       |  FROM ap),
       |ranked AS (
       |  SELECT lang, doc_id, n_chars,
       |    row_number() OVER (PARTITION BY lang ORDER BY $sqlDocHash ASC, doc_id ASC) AS rk
       |  FROM documents),
       |picked AS (
       |  SELECT r.lang, cast(count(*) as bigint) AS n_picked,
       |    cast(sum(r.n_chars) as bigint) AS picked_chars
       |  FROM ranked r JOIN alloc a ON r.lang = a.lang
       |  WHERE r.rk <= a.n_alloc GROUP BY r.lang)
       |SELECT a.lang, a.n_docs, a.sigma, cast(a.n_alloc as bigint) AS n_alloc,
       |  coalesce(p.n_picked, 0) AS n_picked,
       |  coalesce(p.picked_chars, 0) AS picked_chars
       |FROM alloc a LEFT JOIN picked p ON a.lang = p.lang
       |ORDER BY a.lang""".stripMargin

  // -------------------------------------------------------------------
  // Split-leakage audit (q177): near-duplicate pairs that straddle the
  // q50 train/val/test hash split. Splitting BEFORE deduplicating is
  // the classic eval-contamination mechanism — a near-copy of a test
  // document in train inflates every benchmark it touches (Lee et al.,
  // ACL 2022; Dodge et al., EMNLP 2021 on C4) — and a hash split is
  // exactly as blind to duplicate structure as a random one. This op
  // is the audit a pipeline runs BEFORE trusting its splits: for every
  // (split, split) class, how many verified near-dup pairs straddle it,
  // how many documents are implicated, and how close the worst pair is.
  //
  // Composition, not regeneration: the pair relation is SERVED from the
  // persisted dedup graph (the q74/q105 artifact discipline — candidate
  // generation and verification are build-time), and the split is the
  // q50 rule recomputed as a narrow projection (doc_id only — splits
  // are a pure hash function, never a stored column). The timed work is
  // two keyed joins of the answer-sized pair relation against that
  // projection and one 6-row aggregate. jaccard is re-derived as exact
  // integer permille from the artifact's inter/uni counts — the stored
  // double never enters the report.
  //
  // Scale shape: the pair relation explodes to 2 doc rows per pair and
  // meets the corpus in ONE doc-keyed join (a two-join spelling would
  // scan the split projection once per pair side); the pair's two split
  // tags reassemble by min/max over the pair key (least/greatest with
  // exactly 2 rows), and the report agg runs over pair-sized frames —
  // after the single corpus scan, nothing touches corpus-sized data.
  // Report is <= |splits|^2 rows.
  // -------------------------------------------------------------------

  private[ops] def splitOf(bucket: Column): Column =
    when(bucket < TrainPct, "train")
      .when(bucket < TrainPct + ValPct, "val")
      .otherwise("test")

  def splitLeakage(spark: SparkSession, sfDir: String): DataFrame = {
    val path = Dedup.preparedDedupGraph(spark, sfDir, Dedup.OracleHashBits)
    val pairs = Dedup.loadGraphPairs(spark, path)
      .select(col("doc_a"), col("doc_b"),
        expr("cast(inter as bigint) * 1000 div cast(uni as bigint)").as("jac_permille"))
    val spl = Tables.documents(spark, sfDir)
      .select(col("doc_id"), splitOf(pmod(docIdHash, lit(100L))).as("split"))
    pairs
      .select(col("doc_a"), col("doc_b"), col("jac_permille"),
        explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .join(spl, Seq("doc_id"))
      .groupBy("doc_a", "doc_b", "jac_permille")
      .agg(min(col("split")).as("split_lo"), max(col("split")).as("split_hi"))
      .select(col("split_lo"), col("split_hi"), col("jac_permille"),
        explode(array(col("doc_a"), col("doc_b"))).as("doc"))
      .groupBy("split_lo", "split_hi")
      .agg(expr("count(1) div 2").as("n_pairs"),
        countDistinct(col("doc")).as("n_docs"),
        max(col("jac_permille")).as("max_jaccard_permille"))
      .withColumn("leak", when(col("split_lo") =!= col("split_hi"), 1L).otherwise(0L))
      .select("split_lo", "split_hi", "leak", "n_pairs", "n_docs", "max_jaccard_permille")
      .orderBy("split_lo", "split_hi")
  }

  def splitLeakageSql: String =
    s"""WITH ${Dedup.sqlCandCtes},
       |prs AS (
       |  SELECT doc_a, doc_b,
       |    (cast(len(list_intersect(sa.s, sb.s)) as bigint) * 1000)
       |      // cast(len(list_distinct(sa.s || sb.s)) as bigint) AS jac_permille
       |  FROM cand
       |  JOIN sets sa ON doc_a = sa.doc_id
       |  JOIN sets sb ON doc_b = sb.doc_id
       |  WHERE cast(len(list_intersect(sa.s, sb.s)) as double) / cast(len(list_distinct(sa.s || sb.s)) as double) >= ${graft.core.Consts.MinhashJaccardThreshold}),
       |spl AS (
       |  SELECT doc_id, $sqlSplitCase AS split
       |  FROM documents),
       |tagged AS (
       |  SELECT least(a.split, b.split) AS split_lo, greatest(a.split, b.split) AS split_hi,
       |    jac_permille, unnest([doc_a, doc_b]) AS doc
       |  FROM prs JOIN spl a ON doc_a = a.doc_id JOIN spl b ON doc_b = b.doc_id)
       |SELECT split_lo, split_hi,
       |  cast(CASE WHEN split_lo != split_hi THEN 1 ELSE 0 END as bigint) AS leak,
       |  cast(count(*) // 2 as bigint) AS n_pairs,
       |  cast(count(DISTINCT doc) as bigint) AS n_docs,
       |  max(jac_permille) AS max_jaccard_permille
       |FROM tagged GROUP BY split_lo, split_hi
       |ORDER BY split_lo, split_hi""".stripMargin

  def weightedReservoirSql: String = {
    val src = s"SELECT doc_id, n_chars AS w, ($sqlDocHash >> 12) + 1 AS h20 " +
      "FROM documents WHERE n_chars >= 1"
    val withLog = graft.functions.FixedLog2.sqlNested(src, "h20", "z_", "l")
    s"""SELECT * FROM (
       |  SELECT cast(row_number() OVER (ORDER BY es_key ASC, doc_id ASC) as bigint) AS rank,
       |    doc_id, w, es_key
       |  FROM (SELECT doc_id, w, ((${20L << 16} - l) << 20) // w AS es_key FROM ($withLog))
       |  ORDER BY es_key ASC, doc_id ASC LIMIT $ReservoirK)
       |ORDER BY rank""".stripMargin
  }
}
