package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.TextKernel

/** Sketch-based operators: HyperLogLog approximate distinct counts and
  * Bloom-filter join pruning. The reference has no approximate
  * aggregates (SURVEY.md §2.I); these are north-star additions for the
  * 100 TB regime, where exact distinct counts and full shuffles stop
  * being affordable.
  *
  * No DuckDB oracle: sketch outputs are engine-specific by nature.
  * The specs pin their behavior against exact computation instead
  * (HLL within its error bound; Bloom prefilter = exact semi-join
  * after re-verification).
  */
object Sketches {

  /** Exact vs HLL distinct users per event type, with the relative
    * error — demonstrates `approx_count_distinct` (default rsd 5%). */
  def approxDistinctUsers(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(
        countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id")).as("approx_users"))
      .withColumn("rel_err",
        abs(col("approx_users") - col("exact_users")).cast("double") /
          col("exact_users").cast("double"))
      .orderBy("event_type")

  /** Bloom-prefiltered semi-join: build a Bloom filter over the small
    * side's keys, prefilter the big side with the NATIVE
    * BloomFilterMightContain at the scan, THEN run the exact semi-join
    * over the survivors. Results are exactly the plain semi-join (false
    * positives are removed by the join); what changes at scale is that
    * the big side's shuffle input shrinks to the filter's pass-rate
    * before any exchange.
    *
    * One sizing pass, zero UDFs: the filter is built by Spark's own
    * BloomFilterAggregate (codegen'd xxhash64 keys, default
    * expectedNumItems sizing from SQLConf — no separate count() job),
    * and the probe is BloomFilterMightContain over a binary literal —
    * the same expressions InjectRuntimeFilter plants, so the predicate
    * stays inside whole-stage codegen instead of a boxed Scala UDF. */
  def bloomPrunedOrderLineitems(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.graft.Bridge
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    val l = Tables.lineitem(spark, sfDir)
    // sized to the build side: the default (4M items / 8M bits = 1 MB
    // serialized) makes the bitmap literal the dominant cost of the
    // probe's codegen + task broadcast. 64k items / 512k bits = 64 KB
    // covers the tested SFs (~30k URGENT keys at sf0.1) at ~1% fpp; a
    // production caller sizes from its own build-side estimate — an
    // UNDERSIZED filter only loses pruning (fpp degrades toward 1),
    // never correctness, because the exact semi-join follows
    val bloomExpectedItems = 65536L
    val buildAgg = new BloomFilterAggregate(
      new XxHash64(Seq(Bridge.expression(col("o_orderkey")))),
      org.apache.spark.sql.catalyst.expressions.Literal(bloomExpectedItems),
      org.apache.spark.sql.catalyst.expressions.Literal(bloomExpectedItems * 8L))
      .toAggregateExpression()
    val bloomBytes = o.select(Bridge.column(buildAgg).as("bloom"))
      .head().getAs[Array[Byte]](0) // the ONLY extra job
    val probe = Bridge.column(BloomFilterMightContain(
      Literal.create(bloomBytes, org.apache.spark.sql.types.BinaryType),
      new XxHash64(Seq(Bridge.expression(col("l_orderkey"))))))
    l.filter(probe)                                   // sketch prefilter
      .join(o, col("l_orderkey") === col("o_orderkey"), "left_semi") // exact
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_lines"),
        graft.functions.ExactSums.moneySum(col("l_extendedprice")).as("sum_price"))
      .orderBy("l_returnflag")
  }

  /** q56: approximate quantiles (Spark's Greenwald-Khanna-style
    * approx_percentile sketch) next to the exact values — the sketch a
    * 100 TB pipeline uses for length/quality distribution monitoring,
    * where an exact per-group sort is unaffordable. Like the HLL query,
    * sketch outputs are engine-specific, so the driver records a
    * rows-only check and the spec pins the error against the exact
    * percentiles. */
  def approxValueQuantiles(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(
        expr("percentile(value, array(0.5, 0.9, 0.99))").as("exact_q"),
        expr("approx_percentile(value, array(0.5, 0.9, 0.99), 1000)").as("approx_q"))
      .select(col("event_type"),
        col("exact_q")(0).as("p50_exact"), col("approx_q")(0).as("p50_approx"),
        col("exact_q")(1).as("p90_exact"), col("approx_q")(1).as("p90_approx"),
        col("exact_q")(2).as("p99_exact"), col("approx_q")(2).as("p99_approx"))
      .orderBy("event_type")

  /** q45 oracle-checked form: the full sketch value is engine-specific
    * (DuckDB cannot reproduce Spark's HLL), so the HASHED columns are
    * the exact count plus a `within_bound` boolean computed in-query
    * from the sketch — the oracle emits the exact count and a literal
    * `true`, so a sketch drifting outside its 3-sigma bound (rsd 5%)
    * fails the driver's hash gate, not just a spec. */
  def approxDistinctChecked(spark: SparkSession, sfDir: String): DataFrame =
    approxDistinctUsers(spark, sfDir)
      .select(col("event_type"), col("exact_users"),
        (col("rel_err") <= 0.15).as("within_bound"))
      .orderBy("event_type")

  def approxDistinctCheckedSql: String =
    """SELECT event_type, count(DISTINCT user_id) AS exact_users, true AS within_bound
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q56 oracle-checked form, same pattern as [[approxDistinctChecked]]:
    * exact percentiles quantized to integer micro-units plus one
    * `within_bound` covering all three quantiles.
    *
    * The bound is the sketch's ACTUAL guarantee — RANK error: the
    * value approx_percentile returns is an observed element whose
    * rank must lie within n/accuracy of the target rank q·n (±1 rank
    * of boundary slack). An earlier form checked a 5% VALUE-space
    * tolerance instead, which is not what Greenwald-Khanna promises —
    * it held at sf0.01 but failed at sf0.001, where a within-bound
    * rank step crosses more than 5% of a heavy-tailed value range.
    * The rank check holds at every corpus size by theorem, so the
    * gate stays green at any SF the driver chooses. Ranks of the
    * three returned values come from ONE extra aggregation over the
    * events scan (conditional sums against the broadcast approx
    * values) — two scans total, same as the exact-percentile
    * reference itself.
    *
    * Residual risk, accepted: exact-percentile quantization happens
    * AFTER interpolation, and Spark's `percentile` and DuckDB's
    * `quantile_cont` use algebraically-equal but differently-rounded
    * interpolation formulas — if an interpolated value ever lands
    * within ulps of a micro-unit boundary, the floors could disagree
    * (~1e-10 per cell, deterministic for a fixed dataset). */
  def approxQuantilesChecked(spark: SparkSession, sfDir: String): DataFrame = {
    def micro(c: org.apache.spark.sql.Column) =
      floor(c * lit(1000000L)).cast("long")
    val base = approxValueQuantiles(spark, sfDir)
    val approxes = broadcast(base.select(col("event_type"),
      col("p50_approx"), col("p90_approx"), col("p99_approx")))
    val quantiles = Seq(50 -> 0.5, 90 -> 0.9, 99 -> 0.99)
    val rankCols = quantiles.flatMap { case (p, _) =>
      Seq(
        sum(when(col("value") <= col(s"p${p}_approx"), 1L).otherwise(0L)).as(s"r${p}_le"),
        sum(when(col("value") < col(s"p${p}_approx"), 1L).otherwise(0L)).as(s"r${p}_lt"))
    }
    val ranks = Tables.events(spark, sfDir)
      .join(approxes, "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), rankCols: _*)
    // the returned element occupies ranks (r_lt, r_le]; in-bound means
    // that span intersects [q*n - slack, q*n + slack] with
    // slack = n/accuracy + 1 (the +1 absorbs target-rank rounding)
    def okRank(p: Int, q: Double): org.apache.spark.sql.Column = {
      val slack = col("n").cast("double") / lit(1000.0) + lit(1.0)
      val target = lit(q) * col("n").cast("double")
      (col(s"r${p}_le").cast("double") >= target - slack) &&
        (col(s"r${p}_lt").cast("double") <= target + slack)
    }
    base.join(ranks, "event_type")
      .select(col("event_type"),
        micro(col("p50_exact")).as("p50_exact_micro"),
        micro(col("p90_exact")).as("p90_exact_micro"),
        micro(col("p99_exact")).as("p99_exact_micro"),
        quantiles.map { case (p, q) => okRank(p, q) }.reduce(_ && _).as("within_bound"))
      .orderBy("event_type")
  }

  def approxQuantilesCheckedSql: String =
    """SELECT event_type,
      |  cast(floor(quantile_cont(value, 0.5)  * 1000000) as bigint) AS p50_exact_micro,
      |  cast(floor(quantile_cont(value, 0.9)  * 1000000) as bigint) AS p90_exact_micro,
      |  cast(floor(quantile_cont(value, 0.99) * 1000000) as bigint) AS p99_exact_micro,
      |  true AS within_bound
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** The exact formulation the Bloom variant must reproduce. */
  def exactOrderLineitems(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    Tables.lineitem(spark, sfDir)
      .join(o, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_lines"),
        graft.functions.ExactSums.moneySum(col("l_extendedprice")).as("sum_price"))
      .orderBy("l_returnflag")
  }

  /** Oracle for the BLOOM variant: since verification makes it exact,
    * it matches the plain semi-join SQL. */
  def bloomPrunedSql: String =
    """SELECT l_returnflag, count(*) AS n_lines,
      |  sum(cast(floor(l_extendedprice*100) as bigint))/100.0 AS sum_price
      |FROM lineitem
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_orderkey = l_orderkey AND o_orderpriority = '1-URGENT')
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // -------------------------------------------------------------------
  // Heavy hitters: exact top-k tokens next to a distributed
  // Misra-Gries summary (Misra & Gries 1982; the SpaceSaving/
  // frequent-items sketch family). At 100 TB the exact top-k needs a
  // full vocabulary shuffle; the sketch answers the same question from
  // per-partition summaries of fixed size m with deterministic error
  // ≤ n/m — the monitoring view a pipeline keeps per micro-batch.
  // -------------------------------------------------------------------

  val TopTokensK = 10
  val MgCapacity = 256

  /** Per-partition Misra-Gries summaries of the token stream, merged
    * by counter addition (the standard mergeable-summary result:
    * summed MG summaries keep the Σ nᵢ/m = n/m error bound). Each
    * summary is ≤ m entries regardless of partition size. */
  private[graft] def mgMerged(spark: SparkSession, sfDir: String, m: Int):
      scala.collection.Map[String, Long] = {
    import spark.implicits._
    val summaries = Tables.documents(spark, sfDir)
      .select(col("text")).as[String]
      .mapPartitions { it =>
        val counts = scala.collection.mutable.HashMap.empty[String, Long]
        it.foreach { txt =>
          TextKernel.words(txt).foreach { t =>
            if (counts.contains(t) || counts.size < m) counts(t) = counts.getOrElse(t, 0L) + 1L
            else {
              // decrement-all on a full miss; drop zeros
              val dead = scala.collection.mutable.ArrayBuffer.empty[String]
              counts.keysIterator.foreach { k =>
                val v = counts(k) - 1L
                if (v == 0L) dead += k else counts(k) = v
              }
              dead.foreach(counts.remove)
            }
          }
        }
        Iterator.single(counts.toMap)
      }
      .collect() // ≤ partitions × m entries — driver-bounded by design
    summaries.foldLeft(Map.empty[String, Long]) { (acc, s) =>
      s.foldLeft(acc) { case (a, (k, v)) => a.updated(k, a.getOrElse(k, 0L) + v) }
    }
  }

  /** q88: exact top-k tokens (the oracle-pinned half) with the merged
    * sketch's estimate checked against the deterministic MG bound:
    * (exact − est)·m ≤ n — integer arithmetic, no tolerance knob. The
    * synthetic vocabulary is smaller than MgCapacity so the local
    * estimates are exact here; the eviction path is exercised by a
    * probe spec with vocabulary ≫ m. */
  def topTokensChecked(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val est = mgMerged(spark, sfDir, MgCapacity)
    val estDf = broadcast(est.toSeq.toDF("tok", "mg_est"))
    val toks = Tables.documents(spark, sfDir)
      .select(explode(graft.ops.TextAnalytics.tokens(col("text"))).as("tok"))
    val total = broadcast(toks.agg(count(lit(1)).as("n_total")))
    // rank via the knnExact discipline: the limit's output is made
    // explicitly single-partition and locally re-sorted before ids are
    // assigned — monotonically_increasing_id alone is NOT guaranteed
    // to follow the orderBy once plans shift
    toks.groupBy("tok").agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("tok").asc)
      .limit(TopTokensK)
      .coalesce(1)
      .sortWithinPartitions(col("n_exact").desc, col("tok").asc)
      .withColumn("rank", monotonically_increasing_id() + 1L)
      .join(estDf, Seq("tok"), "left")
      .crossJoin(total)
      .select(col("rank"), col("tok"), col("n_exact"),
        ((col("n_exact") - coalesce(col("mg_est"), lit(0L))) * lit(MgCapacity.toLong)
          <= col("n_total")).as("within_bound"))
      .orderBy("rank")
  }

  // -------------------------------------------------------------------
  // Count-Min sketch (Cormode & Muthukrishnan 2005): the mergeable
  // point-query frequency summary — the sketch a pipeline keeps when it
  // wants O(1) "how often does token X occur" answers without a
  // vocabulary-sized state (MG keeps only the heavy set; CMS answers
  // ANY point query, always overestimating, off by at most the mass
  // that collides into the queried cells).
  // -------------------------------------------------------------------

  val CmsDepth = 4
  val CmsWidth = 1024

  /** md5-derived CMS row hash: Hash32 of "r:token" (the one shared
    * 32-bit construction), modulo the width. Deterministic, so the
    * sketch is REPRODUCIBLE cross-engine: the oracle rebuilds the same
    * cells and the estimates hash-match exactly — a stronger gate than
    * a bound-only check. */
  private def cmsCol(r: Int, tok: String, md: java.security.MessageDigest): Int = {
    val h = TextKernel.packHash(md.digest(s"$r:$tok".getBytes(java.nio.charset.StandardCharsets.UTF_8)), 32)
    (h % CmsWidth).toInt
  }

  /** The merged CMS cell table (r, c, cell_n), ≤ depth×width rows.
    * Built the honest streaming way: each partition folds its tokens
    * into a LOCAL depth×width long array (the token stream never
    * shuffles — only ≤ partitions × 4096 cell rows do), and cells
    * merge by addition (the standard mergeable-summary property). */
  private[graft] def cmsCells(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(col("text")).as[String]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val cells = Array.ofDim[Long](CmsDepth * CmsWidth)
        it.foreach { txt =>
          TextKernel.words(txt).foreach { t =>
            var r = 0
            while (r < CmsDepth) {
              cells(r * CmsWidth + cmsCol(r, t, md)) += 1L
              r += 1
            }
          }
        }
        Iterator.tabulate(cells.length)(i => (i / CmsWidth, i % CmsWidth, cells(i)))
          .filter(_._3 != 0L)
      }
      .toDF("r", "c", "n")
      .groupBy("r", "c").agg(sum(col("n")).as("cell_n"))
  }

  /** q107: every vocabulary token's exact count next to its CMS
    * estimate. `within_bound` is the CMS guarantee est ≥ exact — and
    * because the hash is the shared md5 construction, the ESTIMATE
    * itself is cross-engine deterministic and hash-checked, not just
    * bounded. The exact side exists only for the check (it needs the
    * vocabulary shuffle CMS exists to avoid); a production pipeline
    * serves point queries from the ≤4096-cell broadcast alone. */
  def cmsTokensChecked(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = broadcast(cmsCells(spark, sfDir))
    val exact = Tables.documents(spark, sfDir)
      .select(explode(graft.ops.TextAnalytics.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n_exact"))
    exact
      .withColumn("r", explode(sequence(lit(0), lit(CmsDepth - 1))))
      .withColumn("c",
        pmod(graft.core.Hash32.column("md5(concat(cast(r as string), ':', tok))"),
          lit(CmsWidth.toLong)))
      .join(cells, Seq("r", "c"))
      .groupBy("tok")
      .agg(max(col("n_exact")).as("n_exact"), min(col("cell_n")).as("cms_est"))
      .select(col("tok"), col("n_exact"), col("cms_est"),
        (col("cms_est") - col("n_exact")).as("overcount"),
        (col("cms_est") >= col("n_exact")).as("within_bound"))
      .orderBy("tok")
  }

  def cmsTokensCheckedSql: String = {
    val h = graft.core.Hash32.sql("md5(cast(r as varchar) || ':' || tok)")
    s"""WITH toks AS (
       |  SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '')) AS tok
       |  FROM documents),
       |tc AS (SELECT tok, cast(count(*) as bigint) AS n_exact FROM toks GROUP BY tok),
       |rs AS (SELECT unnest([0, 1, 2, 3]) AS r),
       |hashed AS (SELECT tok, n_exact, r, $h % $CmsWidth AS c FROM tc CROSS JOIN rs),
       |cells AS (SELECT r, c, cast(sum(n_exact) as bigint) AS cell_n
       |          FROM hashed GROUP BY r, c)
       |SELECT tok, max(n_exact) AS n_exact, min(cell_n) AS cms_est,
       |  min(cell_n) - max(n_exact) AS overcount,
       |  min(cell_n) >= max(n_exact) AS within_bound
       |FROM hashed JOIN cells USING (r, c)
       |GROUP BY tok
       |ORDER BY tok""".stripMargin
  }

  def topTokensCheckedSql: String =
    s"""SELECT rank, tok, n_exact, true AS within_bound FROM (
       |  SELECT tok, cast(count(*) as bigint) AS n_exact,
       |    cast(row_number() OVER (ORDER BY count(*) DESC, tok ASC) as bigint) AS rank
       |  FROM (SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '')) AS tok
       |        FROM documents)
       |  GROUP BY tok)
       |WHERE rank <= $TopTokensK
       |ORDER BY rank""".stripMargin

  // -------------------------------------------------------------------
  // Mergeable-sketch union: the property that makes sketches the
  // distributed-aggregation primitive. q45 checks ONE sketch against
  // its bound; this one exercises the MERGE: per-source DataSketches
  // HLL sketches (sketch once, at the shard/source where the data
  // lives) union into a corpus-wide estimate WITHOUT rescanning or
  // reshuffling any token — the exact-distinct alternative must move
  // every (source, token) pair through a corpus-wide shuffle again.
  // At 100 TB the union-of-sketches is the only affordable refresh
  // path for vocabulary dashboards; this report keeps it honest by
  // hash-gating each estimate against the exact count's error bound
  // (the q45 checked-sketch discipline).
  // -------------------------------------------------------------------

  /** Relative error gate: lgK=12 DataSketches HLL has rsd ≈ 1.6%, so
    * 5% is a ≥3σ bound — a within_bound=false is sketch breakage, not
    * bad luck. */
  val HllUnionRelErr = 0.05

  /** q139: per-source distinct-token estimates plus the union row
    * (scope `~union`, sorting after every source name in both
    * engines). Hashed columns are scope + exact + within_bound — the
    * estimates themselves are engine-specific sketch outputs, so the
    * oracle pins exact counts and literal-true bounds exactly like
    * q45. */
  def hllUnionReport(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = Tables.documents(spark, sfDir)
      .select(col("source"), explode(TextAnalytics.tokens(col("text"))).as("tok"))
    val per = tok.groupBy("source")
      .agg(countDistinct(col("tok")).as("exact_distinct"),
        hll_sketch_agg(col("tok")).as("sk"))
    val perOut = per.select(col("source").as("scope"),
      col("exact_distinct"),
      (abs(hll_sketch_estimate(col("sk")).cast("double") - col("exact_distinct").cast("double"))
        <= col("exact_distinct").cast("double") * lit(HllUnionRelErr)).as("within_bound"))
    val exactUnion = tok.agg(countDistinct(col("tok")).as("exact_distinct"))
    val unionOut = per.agg(hll_union_agg(col("sk")).as("usk"))
      .crossJoin(exactUnion)
      .select(lit("~union").as("scope"),
        col("exact_distinct"),
        (abs(hll_sketch_estimate(col("usk")).cast("double") - col("exact_distinct").cast("double"))
          <= col("exact_distinct").cast("double") * lit(HllUnionRelErr)).as("within_bound"))
    perOut.unionAll(unionOut).orderBy("scope")
  }

  def hllUnionReportSql: String =
    """WITH tok AS (
      |  SELECT source, unnest(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '')) AS tok
      |  FROM documents)
      |SELECT source AS scope, cast(count(DISTINCT tok) as bigint) AS exact_distinct,
      |  true AS within_bound
      |FROM tok GROUP BY source
      |UNION ALL
      |SELECT '~union', cast(count(DISTINCT tok) as bigint), true FROM tok
      |ORDER BY scope""".stripMargin
}
