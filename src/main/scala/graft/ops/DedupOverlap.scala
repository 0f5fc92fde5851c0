package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Consts, Tables}
import graft.functions.{PairCounts, TextKernel}
import graft.ops.TextAnalytics.{tokens, shingles3, sqlShingles}

/** Set-overlap families over the shared shingle tables: n-gram
  * Jaccard, containment, novelty, benchmark decontamination
  * (single/multi-suite + span redaction), duplicated-span surgery,
  * and exact source overlap.
  *
  * One mixin slice of [[Dedup]] (round-12 file split along the family
  * seams; no behavior change — every member keeps its `Dedup.` call
  * surface through the mixin).
  */
trait DedupOverlap { this: Dedup.type =>


  // -------------------------------------------------------------------
  // n-gram Jaccard pairs: sparse inverted-index join (the default and
  // the scale path) + blocked pairwise baseline (spec cross-check).
  // -------------------------------------------------------------------

  /** Default = the sparse inverted-index formulation below, which is
    * CAPPED BY DEFAULT at [[JaccardDfCap]] (round 14): a per-source
    * shingle with document frequency over the cap is treated as
    * boilerplate and contributes NOTHING to intersection counts — no
    * re-verification pass recovers it — so whenever any (source,
    * shingle) df exceeds the cap, surviving pairs that share the hot
    * shingle get UNDERcounted jaccard and a pair whose evidence is
    * mostly boilerplate can drop below threshold. Oracle equality with
    * the uncapped DuckDB SQL therefore holds exactly when max
    * per-source shingle df ≤ [[JaccardDfCap]] — true on every test
    * corpus (measured max df 25 at sf0.1; TextDedupSimilaritySpec pins
    * both the invariance and the cap biting on planted boilerplate).
    * Below threshold-0 exactness still holds (a pair sharing zero
    * shingles has jaccard 0); fan-out is bounded by Σ min(df, cap)²
    * over shingle document frequencies. Pass `dfCap = None` through
    * [[jaccardPairsSparse]] for the exact uncapped scan. */
  def jaccardPairs(spark: SparkSession, sfDir: String,
                   bits: Int = DefaultHashBits): DataFrame =
    jaccardPairsSparse(spark, sfDir, bits = bits)

  /** Blocked pairwise Jaccard: within-source pairs, hash-based
    * sorted-merge intersect over the full O(block^2) pair set. Kept as
    * the small-block correctness baseline the sparse path is
    * spec-checked against; not the benched default. */
  def jaccardPairsBlocked(spark: SparkSession, sfDir: String,
                          bits: Int = DefaultHashBits): DataFrame = {
    val sets = shingleSets(spark, sfDir, bits)
    val a = sets.alias("a"); val b = sets.alias("b")
    val inter = graft.functions.LongArrayIntersectCount(col("a.s"), col("b.s"))
    a.join(b,
        col("a.source") === col("b.source") &&
        col("a.doc_id") < col("b.doc_id"))
      .withColumn("jaccard",
        // |A∪B| = |A| + |B| - |A∩B| over distinct-element sets — the
        // same integer DuckDB gets from len(list_distinct(a || b))
        inter.cast("double") /
          (size(col("a.s")) + size(col("b.s")) - inter).cast("double"))
      .filter(col("jaccard") >= Consts.JaccardPairThreshold)
      .select(
        col("a.source").as("source"),
        col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"),
        col("jaccard"))
      .orderBy("source", "doc_a", "doc_b")
  }

  /** Default document-frequency cap on q15's shingle inverted index —
    * ON by default (round-14: the [[graft.ops.DedupWinnow]] WinnowDfCap
    * discipline, decided in advance rather than left as a knob). A
    * 3-gram present in more than this many documents of one source is
    * a stop-phrase / boilerplate shingle: it contributes ≤ cap² pair
    * fan-out instead of an unbounded hot key, and dropping it only
    * UNDERcounts intersections (jaccard is conservative), so a pair is
    * lost only when its similarity evidence is mostly boilerplate —
    * the q14 MinHash family is the principled approximate path when
    * that trade matters. The value never bites on the test corpora
    * (measured max shingle df: 25 at sf0.1; amplified Scaling decades
    * keep per-replica df constant), which keeps the capped-by-default
    * query byte-identical to its uncapped DuckDB oracle —
    * TextDedupSimilaritySpec pins BOTH that invariance and the cap
    * actually biting on a planted boilerplate corpus. */
  val JaccardDfCap = 64L

  /** Sparse (inverted-index) formulation: count shared shingles via
    * per-(source, shingle) POSTING LISTS instead of materializing all
    * O(n^2) pairs and intersecting arrays. Identical results to the
    * blocked pairwise join (pairs sharing no shingle have jaccard
    * 0 < threshold), and the work tracks actual overlap: pair fan-out
    * is sum over shingles of df^2.
    *
    * Plan shape (round-14 rewrite of the self-equi-join form): ONE
    * exchange of the exploded shingle table builds the posting lists
    * (the old a-join-b form exchanged and sorted that table TWICE as
    * the two join sides — measured 64 s / top-decade exponent 1.06 at
    * the f=512 Scaling decade); the scan emits each posting list as
    * one sorted row, [[PairCounts]] forms its i<j pairs, and its
    * grouped count is the exact intersection count — the same Σ df²
    * volume the join produced.
    *
    * `dfCap` (default [[JaccardDfCap]], see there for the recall
    * trade): the posting buffer is a PHYSICAL memory bound — the group
    * scan holds at most cap+1 doc ids at a time and a saturated
    * (over-cap) shingle emits nothing. `None` runs the same scan with
    * an unbounded buffer (the spec's exact cross-check mode).
    *
    * The posting scan is repartition-by-key + in-partition sort + one
    * streaming pass (mapPartitions) rather than a collect_list-style
    * aggregate: the exchange and sort are exactly what a sort-based
    * aggregation pays anyway, and the streaming pass allocates ZERO
    * per-group state (a typed-aggregate form measured 2× slower at
    * f=8/f=64 purely on per-group buffer alloc + serde across millions
    * of df=1 singleton groups). */
  def jaccardPairsSparse(spark: SparkSession, sfDir: String,
                         dfCap: Option[Long] = Some(JaccardDfCap),
                         bits: Int = DefaultHashBits): DataFrame = {
    // the cached summary feeds the posting build AND the set sizes;
    // sizes are a projection of the cached arrays, not an aggregate
    // (the row-table materialization this replaces was 11.6 s / 27%
    // of the round-2 bench as a recompute, then ~0.4 s as a persist)
    val (_, _, sizes) = sharedSummary(spark, sfDir, bits)
    jaccardFromCounts(sharedShingleCounts(spark, sfDir, dfCap, bits), sizes)
  }

  /** The q15 report over any (source, doc_a, doc_b, cnt) shared-count
    * relation + (doc_id, sz) set sizes — the ONE formula the inline
    * form and the postings-artifact serve share, so serve==inline is
    * structural, not coincidental. */
  private def jaccardFromCounts(counts: DataFrame, sizes: DataFrame): DataFrame =
    counts.withColumnRenamed("cnt", "inter")
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sza")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("szb")), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sza") + col("szb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= Consts.JaccardPairThreshold)
      .select(col("source"), col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy("source", "doc_a", "doc_b")

  /** The one shared-shingle pair-count kernel q15 AND q83 build on:
    * (source, doc_a, doc_b, cnt) where cnt = |shingles(doc_a) ∩
    * shingles(doc_b)| over same-source pairs sharing ≥ 1 (uncapped)
    * shingle, doc_a < doc_b. Plan shape per the q15 scaladoc above:
    * one keyed exchange + in-partition sort + streaming group scan +
    * [[PairCounts]]. */
  private def sharedShingleCounts(spark: SparkSession, sfDir: String,
                                  dfCap: Option[Long],
                                  bits: Int): DataFrame = {
    import spark.implicits._
    val (_, sh, _, nDocs) = sharedSummaryN(spark, sfDir, bits)
    val cap = dfCap.map(_.toInt).getOrElse(Int.MaxValue)
    // a real cluster scales partition count with the corpus; under the
    // harness's fixed spark.sql.shuffle.partitions the posting scan's
    // per-task sort would grow with the corpus instead (measured: the
    // f=512 Scaling decade read exponent 0.97 at 32 fixed partitions,
    // ~86 MB sorted per task). The exchange width therefore scales at
    // ~20k docs/partition, never below the session default — at the
    // oracle and bench SFs (≤5k docs) that clamp makes this exactly
    // the session default, so test-SF plans are byte-identical. The
    // doc count rides the summary materialization's own eager count
    // (round 15: the separate sizes.count() job is gone).
    val defaultParts = spark.sessionState.conf.numShufflePartitions
    val parts = math.max(defaultParts, math.ceil(nDocs / 20000.0).toInt)
    // null-source rows can never pair (the join form's a.source =
    // b.source drops them); the group scan must drop them too
    val runs = sh.filter(col("source").isNotNull)
      .select(col("source"), col("hv"), col("doc_id"))
      .as[(String, Long, Long)]
      .repartition(parts, col("source"), col("hv"))
      .sortWithinPartitions("source", "hv", "doc_id")
      .mapPartitions { it =>
        // stream (source, hv) runs: doc ids arrive sorted, so each kept
        // run is one sorted (source, ids) row for PairCounts; a run past
        // the cap is boilerplate — emit nothing and skip to the next run
        new Iterator[(String, Array[Long])] {
          var out: (String, Array[Long]) = null
          var curSrc: String = null
          var curHv: Long = 0L
          val run = new scala.collection.mutable.ArrayBuffer[Long]()
          var saturated = false
          def flushRun(): Unit = {
            if (!saturated && run.length >= 2) out = (curSrc, run.toArray)
            run.clear(); saturated = false
          }
          def advance(): Unit = {
            while (out == null && it.hasNext) {
              val (src, hv, id) = it.next()
              if (src != curSrc || hv != curHv) {
                flushRun()
                curSrc = src; curHv = hv
              }
              if (saturated) ()
              else if (run.length >= cap) { run.clear(); saturated = true }
              else run += id
            }
            if (out == null && !it.hasNext) flushRun()
          }
          def hasNext: Boolean = { advance(); out != null }
          def next(): (String, Array[Long]) = {
            advance(); val r = out; out = null; r
          }
        }
      }
      .toDF("source", "ids")
    PairCounts(runs, "ids", "source")
      .select(col("source"), col("a").as("doc_a"), col("b").as("doc_b"), col("n").as("cnt"))
  }

  def jaccardPairsSql: String =
    s"""WITH sets AS (
       |  SELECT doc_id, source, list_distinct([${shingleHashExpr("strpos", "md5(x)")} for x in s0]) AS s
       |  FROM (SELECT doc_id, source, $sqlShingles s0
       |        FROM (SELECT doc_id, source, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '') t FROM documents)))
       |SELECT a.source AS source, a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  cast(len(list_intersect(a.s, b.s)) as double) / cast(len(list_distinct(a.s || b.s)) as double) AS jaccard
       |FROM sets a JOIN sets b ON a.source = b.source AND a.doc_id < b.doc_id
       |WHERE cast(len(list_intersect(a.s, b.s)) as double) / cast(len(list_distinct(a.s || b.s)) as double) >= ${Consts.JaccardPairThreshold}
       |ORDER BY source, doc_a, doc_b""".stripMargin

  // -------------------------------------------------------------------
  // Shingle-set CONTAINMENT (Broder 1997 distinguishes resemblance —
  // q15's Jaccard — from containment): |A∩B| / |A|. Resemblance misses
  // the "document swallowed by a bigger document" case entirely — a
  // 100-line doc fully embedded in a 10,000-line doc has Jaccard ~0.01
  // but containment 1.0. That asymmetric signal is what catches quote
  // farms, scraped-page concatenations, and superset re-crawls.
  // -------------------------------------------------------------------

  /** q83: same-source pairs where either side's shingle set is mostly
    * contained in the other (max of the two direction-wise
    * containments ≥ threshold). Round 14: built on the SAME
    * [[sharedShingleCounts]] posting-scan kernel as q15 (one keyed
    * exchange instead of the two-sided self-equi-join), so the two
    * set-overlap reports share one plan shape, one materialized
    * shingle lineage, and one dfCap discipline (the default cap never
    * binds at test SFs — oracle byte-identical; a dropped hot shingle
    * only UNDERcounts containment, the conservative direction). */
  def containmentPairs(spark: SparkSession, sfDir: String,
                       bits: Int = DefaultHashBits,
                       dfCap: Option[Long] = Some(JaccardDfCap)): DataFrame = {
    val (_, _, sizes) = sharedSummary(spark, sfDir, bits)
    containmentFromCounts(sharedShingleCounts(spark, sfDir, dfCap, bits), sizes)
  }

  /** The q83 report over a shared-count relation + sizes (see
    * [[jaccardFromCounts]]). */
  private def containmentFromCounts(counts: DataFrame, sizes: DataFrame): DataFrame =
    counts.withColumnRenamed("cnt", "n_shared")
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sza")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("szb")), "doc_b")
      .withColumn("containment",
        greatest(col("n_shared").cast("double") / col("sza").cast("double"),
          col("n_shared").cast("double") / col("szb").cast("double")))
      .filter(col("containment") >= Consts.ContainmentThreshold)
      .select(col("source"), col("doc_a"), col("doc_b"),
        col("n_shared"), col("containment"))
      .orderBy("source", "doc_a", "doc_b")

  def containmentPairsSql: String =
    s"""WITH sets AS (
       |  SELECT doc_id, source, list_distinct([${shingleHashExpr("strpos", "md5(x)")} for x in s0]) AS s
       |  FROM (SELECT doc_id, source, $sqlShingles s0
       |        FROM (SELECT doc_id, source, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '') t FROM documents)))
       |SELECT source, doc_a, doc_b, n_shared, containment FROM (
       |  SELECT a.source AS source, a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    cast(len(list_intersect(a.s, b.s)) as bigint) AS n_shared,
       |    greatest(
       |      cast(len(list_intersect(a.s, b.s)) as double) / cast(len(a.s) as double),
       |      cast(len(list_intersect(a.s, b.s)) as double) / cast(len(b.s) as double)) AS containment
       |  FROM sets a JOIN sets b ON a.source = b.source AND a.doc_id < b.doc_id)
       |WHERE containment >= ${Consts.ContainmentThreshold}
       |ORDER BY source, doc_a, doc_b""".stripMargin

  /** Novelty score: the fraction of a doc's distinct shingles that are
    * globally UNIQUE (document frequency 1). Near-0 novelty flags
    * template/boilerplate or near-copied content; this is the cheap
    * corpus-level contamination signal a training pipeline computes
    * alongside dedup (integer ratio, so it hash-matches the oracle). */
  def noveltyScores(spark: SparkSession, sfDir: String,
                    bits: Int = DefaultHashBits): DataFrame = {
    // shingle hashes are distinct per doc by construction; the cached
    // summary feeds both the df-count aggregate (shuffle by hv) and
    // the per-doc aggregate (shuffle by doc_id)
    val sh = sharedSummary(spark, sfDir, bits)._2.select("doc_id", "hv")
    val dfc = sh.groupBy("hv").agg(count(lit(1)).as("df"))
    sh.join(dfc, "hv")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .withColumn("novelty",
        col("n_unique").cast("double") / col("n_shingles").cast("double"))
      .orderBy("doc_id")
  }

  def noveltyScoresSql: String =
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id, ${shingleHashExpr("strpos", "md5(s)")} AS hv
       |  FROM (SELECT doc_id, unnest($sqlShingles) AS s
       |        FROM (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '') t FROM documents))),
       |dfc AS (SELECT hv, count(*) AS df FROM sh GROUP BY hv)
       |SELECT doc_id, count(*) AS n_shingles,
       |  cast(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) as bigint) AS n_unique,
       |  cast(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) as double) / cast(count(*) as double) AS novelty
       |FROM sh JOIN dfc USING (hv)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** Benchmark decontamination: docs with doc_id below this bound act
    * as the held-out evaluation set the corpus is screened against. */
  val DecontamBenchmarkDocs = 50L

  /** q62: benchmark decontamination — flag every corpus document that
    * shares any 3-gram shingle with the held-out benchmark set (the
    * screening step every serious pretraining pipeline runs so eval
    * data cannot leak into training; q52's novelty is corpus-global,
    * this is set-targeted).
    *
    * Scale shape: the benchmark's distinct shingle hashes are tiny
    * relative to the corpus and BROADCAST; the corpus-side scan then
    * aggregates (count, hits) per doc with map-side combine — one
    * shuffle, no corpus-side shingle ever moves except as a partial
    * count. Shares the materialized shingle table with q14/q15/q52. */
  /** Per-doc contamination verdicts from shingle rows vs a broadcast
    * benchmark hv table (hv, hit=1) — the ONE core the batch screen
    * (q62) and the streaming screen (q112) both run, so gate-at-ingest
    * cannot drift from the oracle-checked batch. */
  private[graft] def decontamVerdicts(sh: DataFrame, bench: DataFrame): DataFrame =
    sh.join(broadcast(bench), Seq("hv"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_shared"))
      .select(col("doc_id"), col("n_shingles"), col("n_shared"),
        (col("n_shared") > 0).as("contaminated"),
        (col("n_shared") / (col("n_shingles") * lit(1.0))).as("overlap_ratio"))

  /** The ONE definition of the benchmark reference's shape (filter →
    * distinct hv → hit flag), shared by the batch screen (over the
    * materialized sharedSummary) and [[benchShingles]] (over a pruned
    * scan) so the reference cannot drift between the two. */
  private[ops] def benchOf(sh: DataFrame): DataFrame =
    sh.filter(col("doc_id") < DecontamBenchmarkDocs)
      .select("hv").distinct().withColumn("hit", lit(1L))

  /** The benchmark reference for the decontamination screens: distinct
    * shingle hashes of the held-out docs (doc_id < DecontamBenchmarkDocs).
    * The doc_id filter is applied to the DOCUMENTS scan, below the
    * opaque shingling flatMap — Catalyst cannot push a predicate
    * through MapPartitions, so filtering after shingleRows would
    * tokenize the entire corpus to keep an answer-sized benchmark;
    * filtering the scan makes it parquet min/max pruning instead
    * (per-doc shingling commutes with the filter, so the hashes are
    * identical either way). */
  private[graft] def benchShingles(spark: SparkSession, sfDir: String,
                                   bits: Int = DefaultHashBits): DataFrame =
    benchOf(shingleRowsOf(
      Tables.documents(spark, sfDir)
        .filter(col("doc_id") < DecontamBenchmarkDocs), bits))

  def decontamination(spark: SparkSession, sfDir: String,
                      bits: Int = DefaultHashBits): DataFrame = {
    val (_, sh, _) = sharedSummary(spark, sfDir, bits)
    decontamVerdicts(sh.filter(col("doc_id") >= DecontamBenchmarkDocs), benchOf(sh))
      .orderBy("doc_id")
  }

  def decontaminationSql: String =
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id, ${shingleHashExpr("strpos", "md5(s)")} AS hv
       |  FROM (SELECT doc_id, unnest($sqlShingles) AS s
       |        FROM (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '') t FROM documents))),
       |bench AS (SELECT DISTINCT hv FROM sh WHERE doc_id < $DecontamBenchmarkDocs)
       |SELECT sh.doc_id, count(*) AS n_shingles,
       |  cast(sum(CASE WHEN bench.hv IS NULL THEN 0 ELSE 1 END) as bigint) AS n_shared,
       |  sum(CASE WHEN bench.hv IS NULL THEN 0 ELSE 1 END) > 0 AS contaminated,
       |  sum(CASE WHEN bench.hv IS NULL THEN 0 ELSE 1 END) / (count(*) * 1.0) AS overlap_ratio
       |FROM sh LEFT JOIN bench ON sh.hv = bench.hv
       |WHERE sh.doc_id >= $DecontamBenchmarkDocs
       |GROUP BY sh.doc_id
       |ORDER BY sh.doc_id""".stripMargin

  /** q109: decontamination REDACTION — the enforcement half of q62,
    * exactly as q68 (PII redact) is the enforcement half of q64: every
    * token covered by a benchmark-matching 3-gram is cut, the
    * surviving tokens re-join, and the oracle hashes the REDACTED
    * text so the exact removal extents are cross-engine-pinned. Span
    * surgery is the middle ground between shipping a contaminated doc
    * and dropping it whole — the standard practice when a long
    * document merely QUOTES an eval item (drop the quote, keep the
    * doc).
    *
    * Scale shape: the benchmark shingle set is an eval suite —
    * answer-sized by definition — and broadcasts as a plain hash set;
    * redaction is a scan-local typed map (re-derive the doc's grams,
    * mark covered token positions, rebuild the string): per-doc local
    * work, no shuffle anywhere except the final ordering. The oracle
    * necessarily unnests per-position rows; the engine never does. */
  def decontamRedact(spark: SparkSession, sfDir: String,
                     bits: Int = DefaultHashBits): DataFrame = {
    import spark.implicits._
    val benchSet: Array[Long] = shingleRows(spark, sfDir, bits)
      .filter(col("doc_id") < DecontamBenchmarkDocs)
      .select("hv").distinct().as[Long].collect()
    val bc = spark.sparkContext.broadcast(benchSet.toSet)
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") >= DecontamBenchmarkDocs)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val bench = bc.value
        it.map { case (id, txt) =>
          val t = TextKernel.words(txt)
          val h = TextKernel.gramHashes(t, 3, bits, md)
          val covered = new Array[Boolean](t.length)
          var i = 0
          while (i < h.length) {
            if (bench.contains(h(i))) {
              covered(i) = true; covered(i + 1) = true; covered(i + 2) = true
            }
            i += 1
          }
          val (nRem, rt) = TextKernel.redact(t, covered)
          (id, t.length.toLong, nRem, rt)
        }
      }
      .transform(TextAnalytics.redactReport)
  }

  def decontamRedactSql: String =
    s"""WITH toksl AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '') t
       |  FROM documents),
       |bench AS (
       |  SELECT DISTINCT ${shingleHashExpr("strpos", "md5(s)")} AS hv
       |  FROM (SELECT unnest($sqlShingles) AS s
       |        FROM toksl WHERE doc_id < $DecontamBenchmarkDocs)),
       |pos AS (
       |  SELECT doc_id, unnest(range(len(t))) AS i, t
       |  FROM toksl WHERE doc_id >= $DecontamBenchmarkDocs),
       |gram AS (
       |  SELECT doc_id, i,
       |    ${shingleHashExpr("strpos", "md5(t[i+1]||' '||t[i+2]||' '||t[i+3])")} AS hv
       |  FROM pos WHERE i <= len(t) - 3),
       |bad AS (SELECT DISTINCT g.doc_id, g.i FROM gram g JOIN bench USING (hv)),
       |cov AS (
       |  SELECT DISTINCT p.doc_id, p.i
       |  FROM pos p JOIN bad b ON p.doc_id = b.doc_id AND p.i BETWEEN b.i AND b.i + 2),
       |red AS (
       |  SELECT p.doc_id,
       |    cast(count(*) as bigint) AS n_tokens,
       |    cast(sum(CASE WHEN c.i IS NULL THEN 0 ELSE 1 END) as bigint) AS n_removed,
       |    coalesce(string_agg(CASE WHEN c.i IS NULL THEN p.t[p.i+1] END, ' ' ORDER BY p.i), '') AS rt
       |  FROM pos p LEFT JOIN cov c ON p.doc_id = c.doc_id AND p.i = c.i
       |  GROUP BY p.doc_id)
       |SELECT d.doc_id,
       |  coalesce(r.n_tokens, 0) AS n_tokens,
       |  coalesce(r.n_removed, 0) AS n_removed,
       |  coalesce(r.n_removed, 0) = 0 AS clean,
       |  md5(coalesce(r.rt, '')) AS redacted_hash
       |FROM (SELECT doc_id FROM documents WHERE doc_id >= $DecontamBenchmarkDocs) d
       |LEFT JOIN red r USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** Benchmark suites for the multi-suite screen: the held-out docs
    * (doc_id < DecontamBenchmarkDocs) split round-robin into this
    * many suites — standing in for MMLU/GSM8K/HumanEval/... sets. */
  val NDecontamSuites = 3

  /** q103: multi-suite decontamination — q62 against EVERY eval suite
    * at once. A real pretraining pipeline screens against dozens of
    * benchmarks; the naive form is one corpus pass per suite, and at
    * 100 TB the passes ARE the cost. Here the suite-tagged benchmark
    * shingles broadcast together and a CONDITIONAL-AGGREGATION pivot
    * carries every suite's overlap count through the same single
    * shuffle q62 pays — k suites for one pass, plus a worst-suite
    * argmax for triage.
    *
    * A shingle appearing in several suites joins once per suite (the
    * per-suite counts need it); n_shingles therefore counts DISTINCT
    * hv so the denominator stays per-document exact. */
  def multiDecontamination(spark: SparkSession, sfDir: String,
                           bits: Int = DefaultHashBits): DataFrame = {
    val (_, sh, sizes) = sharedSummary(spark, sfDir, bits)
    val bench = broadcast(
      sh.filter(col("doc_id") < DecontamBenchmarkDocs)
        .select((col("doc_id") % NDecontamSuites).as("suite"), col("hv"))
        .distinct())
    val suiteCols = (0 until NDecontamSuites).map { k =>
      sum(when(col("suite") === k, 1L).otherwise(0L)).as(s"s${k}_shared")
    }
    val shared = (0 until NDecontamSuites).map(k => col(s"s${k}_shared"))
    def maxOf(cols: Seq[Column]): Column =
      if (cols.isEmpty) lit(Long.MinValue)
      else if (cols.size == 1) cols.head
      else greatest(cols: _*)
    val worst = (0 until NDecontamSuites).foldRight(lit(-1L)) { (k, rest) =>
      val others = (0 until NDecontamSuites).filterNot(_ == k).map(o => col(s"s${o}_shared"))
      when(shared.reduce(_ + _) > 0 && col(s"s${k}_shared") >= maxOf(others),
        lit(k.toLong)).otherwise(rest)
    }
    // the shingle table's per-doc distinct count is the cached
    // summary's set SIZE — a projection, not a countDistinct (whose
    // two-exchange plan would shuffle the whole corpus shingle table
    // keyed by (doc_id, hv) and break the single-shuffle shape the
    // suite sums get from map-side partial aggregation)
    sh.filter(col("doc_id") >= DecontamBenchmarkDocs)
      .join(bench, Seq("hv"), "left")
      .groupBy("doc_id")
      .agg(suiteCols.head, suiteCols.tail: _*)
      .join(sizes.select(col("doc_id"), col("sz").as("n_shingles")), "doc_id")
      .withColumn("contaminated", shared.reduce(_ + _) > 0)
      .withColumn("worst_suite", worst)
      .select((Seq(col("doc_id"), col("n_shingles")) ++ shared :+
        col("contaminated") :+ col("worst_suite")): _*)
      .orderBy("doc_id")
  }

  def multiDecontaminationSql: String = {
    val n = NDecontamSuites
    val sums = (0 until n)
      .map(k => s"cast(sum(CASE WHEN suite = $k THEN 1 ELSE 0 END) as bigint) AS s${k}_shared")
      .mkString(",\n  ")
    val total = (0 until n).map(k => s"s${k}_shared").mkString(" + ")
    val worst = (0 until n).map { k =>
      val others = (0 until n).filterNot(_ == k).map(o => s"s${o}_shared").mkString(", ")
      s"WHEN $total > 0 AND s${k}_shared >= greatest($others) THEN $k"
    }.mkString("\n    ")
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id, ${shingleHashExpr("strpos", "md5(s)")} AS hv
       |  FROM (SELECT doc_id, unnest($sqlShingles) AS s
       |        FROM (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '') t FROM documents))),
       |bench AS (SELECT DISTINCT doc_id % $n AS suite, hv FROM sh WHERE doc_id < $DecontamBenchmarkDocs),
       |agg AS (
       |  SELECT sh.doc_id, cast(count(DISTINCT sh.hv) as bigint) AS n_shingles,
       |  $sums
       |  FROM sh LEFT JOIN bench USING (hv)
       |  WHERE sh.doc_id >= $DecontamBenchmarkDocs
       |  GROUP BY sh.doc_id)
       |SELECT doc_id, n_shingles, ${(0 until n).map(k => s"s${k}_shared").mkString(", ")},
       |  ($total) > 0 AS contaminated,
       |  cast(CASE $worst ELSE -1 END as bigint) AS worst_suite
       |FROM agg ORDER BY doc_id""".stripMargin
  }

  /** Span length (in word tokens) for duplicated-span detection. */
  val DupSpanN = 5

  /** q65: duplicated n-gram span detection — the occurrence-level
    * signal behind exact SUBSTRING dedup (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better"):
    * every word 5-gram occurrence is a span, and a span is duplicated
    * when its gram also appears in at least one OTHER document. The
    * per-doc duplicated-span ratio is the drop/trim signal — unlike the
    * doc-level Jaccard/MinHash family (q13-q17), this catches a
    * boilerplate paragraph pasted into thousands of otherwise-unique
    * documents.
    *
    * Scale shape: grams are hashed to 32-bit ints in a typed flatMap
    * (one md5 per occurrence — the HOF-lambda formulation is
    * interpreted and re-inlines the tokenizer per element, see
    * shingleRows), so the shuffles move (doc_id, i64) rows, never gram
    * strings. Cross-doc frequency is one groupBy(gh) with map-side
    * combine; the join back to occurrences reuses the same
    * materialized gram table (exchange-reuse on the second shuffle),
    * then one groupBy(doc_id). The full suffix-array construction of
    * the paper is deliberately traded for fixed-length spans — the
    * fixed-n formulation is embarrassingly parallel and loses only
    * sub-n-token duplications. */
  def dupSpans(spark: SparkSession, sfDir: String,
               bits: Int = DefaultHashBits): DataFrame = {
    import spark.implicits._
    val n = DupSpanN
    val grams = Materialize.shared(spark,
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions { it =>
          val md = java.security.MessageDigest.getInstance("MD5")
          it.flatMap { case (id, txt) =>
            TextKernel.gramHashes(TextKernel.words(txt), n, bits, md).map(gh => (id, gh))
          }
        }
        .toDF("doc_id", "gh"))
    val dfc = grams.groupBy("gh").agg(countDistinct(col("doc_id")).as("nd"))
    val per = grams.join(dfc, "gh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup_spans"))
    Tables.documents(spark, sfDir).select("doc_id")
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("n_dup_spans") / (col("n_spans") * lit(1.0)), lit(0.0))
          .as("dup_span_ratio"))
      .orderBy("doc_id")
  }

  /** q141: corpus duplication SPECTRUM — the frequency histogram of
    * word-[[DupSpanN]]-gram occurrences (how much of the corpus is
    * repeated, and how often), the corpus-level artifact over the same
    * gram relation whose per-doc view is q65. Buckets: 1 (unique
    * mass), 2, 3 (=3..9), 10 (=10+). The 10+ bucket is the
    * memorized-sequence candidate mass (Lee et al. 2021 / Carlini et
    * al. 2022: sequences repeated tens of times are the ones models
    * regurgitate); the unique bucket is the irreducible novel mass;
    * the spectrum's shape is what dedup changes, so before/after
    * spectra are THE dedup-effectiveness artifact.
    *
    * Scale shape: the gram relation is q65's scan-local typed flatMap
    * (i64 hashes, never strings); occurrence frequency is one keyed
    * agg with map-side combine; the spectrum folds from the gram-level
    * frame into 4 rows. */
  def dupSpectrum(spark: SparkSession, sfDir: String,
                  bits: Int = DefaultHashBits): DataFrame = {
    import spark.implicits._
    val n = DupSpanN
    val grams = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (_, txt) => TextKernel.gramHashes(TextKernel.words(txt), n, bits, md) }
      }
      .toDF("gh")
    val freq = grams.groupBy("gh").agg(count(lit(1)).as("f"))
    val bucketed = freq.withColumn("bucket",
      when(col("f") === 1L, 1L).when(col("f") === 2L, 2L)
        .when(col("f") < 10L, 3L).otherwise(10L))
    val total = bucketed.agg(sum(expr("f")).as("tot"))
    bucketed.groupBy("bucket")
      .agg(count(lit(1)).as("n_grams"), sum(col("f")).as("n_occurrences"))
      .crossJoin(broadcast(total))
      .withColumn("mass_permille", expr("n_occurrences * 1000 div tot"))
      .select("bucket", "n_grams", "n_occurrences", "mass_permille")
      .orderBy("bucket")
  }

  def dupSpectrumSql: String = {
    val n = DupSpanN
    val gramExpr = (1 to n).map(j => s"t[i+$j]").mkString("||' '||")
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '') t
       |  FROM documents),
       |gr AS (
       |  SELECT ${shingleHashExpr("strpos", "md5(g)")} AS gh
       |  FROM (SELECT doc_id, unnest(CASE WHEN len(t) >= $n
       |          THEN [$gramExpr for i in range(len(t) - ${n - 1})] ELSE [] END) AS g
       |        FROM toks)),
       |freq AS (SELECT gh, cast(count(*) as bigint) AS f FROM gr GROUP BY gh),
       |b AS (
       |  SELECT CASE WHEN f = 1 THEN 1 WHEN f = 2 THEN 2
       |              WHEN f < 10 THEN 3 ELSE 10 END AS bucket, f
       |  FROM freq),
       |tot AS (SELECT cast(sum(f) as bigint) AS tot FROM b)
       |SELECT cast(bucket as bigint) AS bucket,
       |  cast(count(*) as bigint) AS n_grams,
       |  cast(sum(f) as bigint) AS n_occurrences,
       |  cast(sum(f) as bigint) * 1000 // tot AS mass_permille
       |FROM b, tot
       |GROUP BY bucket, tot
       |ORDER BY bucket""".stripMargin
  }

  def dupSpansSql: String = {
    val n = DupSpanN
    val gramExpr = (1 to n).map(j => s"t[i+$j]").mkString("||' '||")
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '') t
       |  FROM documents),
       |gr AS (
       |  SELECT doc_id, ${shingleHashExpr("strpos", "md5(g)")} AS gh
       |  FROM (SELECT doc_id, unnest(CASE WHEN len(t) >= $n
       |          THEN [$gramExpr for i in range(len(t) - ${n - 1})] ELSE [] END) AS g
       |        FROM toks)),
       |dfc AS (SELECT gh, count(DISTINCT doc_id) AS nd FROM gr GROUP BY gh),
       |per AS (
       |  SELECT doc_id, count(*) AS n_spans,
       |    cast(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) as bigint) AS n_dup_spans
       |  FROM gr JOIN dfc USING (gh) GROUP BY doc_id)
       |SELECT d.doc_id,
       |  coalesce(n_spans, 0) AS n_spans,
       |  coalesce(n_dup_spans, 0) AS n_dup_spans,
       |  coalesce(n_dup_spans / (n_spans * 1.0), 0.0) AS dup_span_ratio
       |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** q115: duplicated-span REDACTION — the enforcement half of q65,
    * exactly as q109 is of q62 and q68 of q64: the ExactSubstr cut of
    * Lee et al. 2021 re-expressed over fixed-length spans. Every word
    * [[DupSpanN]]-gram that occurs in more than one document is KEPT
    * only in its earliest document (min doc_id containing the gram —
    * deterministic, the q74 survivor discipline); every other document
    * cuts the tokens its occurrences cover, the survivors re-join, and
    * the oracle hashes the REDACTED text so removal extents are
    * cross-engine-pinned. This catches what doc-level dedup cannot:
    * a boilerplate paragraph pasted into thousands of otherwise-unique
    * documents is cut everywhere but its first appearance while the
    * documents themselves survive. Intra-doc repeats are deliberately
    * out of scope (the keeper keeps ALL its occurrences; q61/q65 carry
    * that signal). Overlapping spans compose by position-union, so a
    * keeper's copy of one gram can still lose tokens to a DIFFERENT
    * overlapping gram it doesn't keep — inherent to span surgery and
    * true of the reference formulation too.
    *
    * Scale shape: gram occurrences hash to (doc_id, pos, i64) rows in
    * a typed flatMap (no gram strings in any shuffle — the q65
    * discipline); the keeper table is one groupBy(gh) with map-side
    * partial MIN; cut starts come from re-joining the same
    * Materialize.shared gram table on gh (computed once, scanned
    * twice from cache — same shape as q65's frequency join); per-doc
    * cut lists collapse by doc_id
    * (bounded by the doc's own token count, so no skew beyond doc
    * length); the rebuild is a scan-local typed map over docs joined
    * with their cut lists. Unlike q109, whose reference set is
    * answer-sized and collected, the keeper table here scales with
    * the corpus, so the code never collects or pins it — the PLANNER
    * broadcasts it at test SF where statistics say it is small
    * (observed in the sf0.01 plan) and falls back to a shuffled join
    * at 100 TB, exactly the decision AQE should own. */
  def dupSpanRedact(spark: SparkSession, sfDir: String,
                    bits: Int = DefaultHashBits): DataFrame = {
    import spark.implicits._
    val n = DupSpanN
    val grams =
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions { it =>
          val md = java.security.MessageDigest.getInstance("MD5")
          it.flatMap { case (id, txt) =>
            TextKernel.gramHashes(TextKernel.words(txt), n, bits, md).zipWithIndex
              .map { case (gh, i) => (id, i.toLong, gh) }
          }
        }
        .toDF("doc_id", "i", "gh")
    // round 16 (guide §2.4): keeper = min(doc_id) per gram rides a
    // window over ONE gh-keyed exchange of the gram relation, replacing
    // the old [cache grams + groupBy(gh).min + join grams back on gh]
    // — which paid a persist+count job and, at scale, a second
    // corpus-sized exchange for the join (the cache that hid it locally
    // cannot hold a 100-TB gram relation anyway). Same keeper per gh,
    // same cut set; the gram relation is computed exactly once.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("gh")
    val cuts = grams
      .withColumn("keeper", min(col("doc_id")).over(w))
      .filter(col("doc_id") > col("keeper"))
      .groupBy("doc_id")
      .agg(collect_list(col("i")).as("cut_starts"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .join(cuts, Seq("doc_id"), "left")
      .as[(Long, String, Option[Seq[Long]])]
      .mapPartitions { it =>
        it.map { case (id, txt, starts) =>
          val t = TextKernel.words(txt)
          val covered = new Array[Boolean](t.length)
          starts.getOrElse(Nil).foreach { s =>
            var j = s.toInt
            val end = math.min(s.toInt + n, t.length)
            while (j < end) { covered(j) = true; j += 1 }
          }
          val (nRem, rt) = TextKernel.redact(t, covered)
          (id, t.length.toLong, nRem, rt)
        }
      }
      .transform(TextAnalytics.redactReport)
  }

  def dupSpanRedactSql: String = {
    val n = DupSpanN
    val gramExpr = (1 to n).map(j => s"t[i+$j]").mkString("||' '||")
    s"""WITH toksl AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '') t
       |  FROM documents),
       |pos AS (
       |  SELECT doc_id, unnest(range(len(t))) AS i, t FROM toksl),
       |gram AS (
       |  SELECT doc_id, i, ${shingleHashExpr("strpos", s"md5($gramExpr)")} AS gh
       |  FROM pos WHERE i <= len(t) - $n),
       |keeper AS (SELECT gh, min(doc_id) AS keeper FROM gram GROUP BY gh),
       |bad AS (
       |  SELECT g.doc_id, g.i FROM gram g JOIN keeper USING (gh)
       |  WHERE g.doc_id > keeper),
       |cov AS (
       |  SELECT DISTINCT p.doc_id, p.i
       |  FROM pos p JOIN bad b ON p.doc_id = b.doc_id
       |    AND p.i BETWEEN b.i AND b.i + ${n - 1}),
       |red AS (
       |  SELECT p.doc_id,
       |    cast(count(*) as bigint) AS n_tokens,
       |    cast(sum(CASE WHEN c.i IS NULL THEN 0 ELSE 1 END) as bigint) AS n_removed,
       |    coalesce(string_agg(CASE WHEN c.i IS NULL THEN p.t[p.i+1] END, ' ' ORDER BY p.i), '') AS rt
       |  FROM pos p LEFT JOIN cov c ON p.doc_id = c.doc_id AND p.i = c.i
       |  GROUP BY p.doc_id)
       |SELECT d.doc_id,
       |  coalesce(r.n_tokens, 0) AS n_tokens,
       |  coalesce(r.n_removed, 0) AS n_removed,
       |  coalesce(r.n_removed, 0) = 0 AS clean,
       |  md5(coalesce(r.rt, '')) AS redacted_hash
       |FROM documents d
       |LEFT JOIN red r USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** q72: cross-source contamination matrix — for every pair of
    * sources, how many distinct 3-gram shingles they share, plus the
    * shingle-set Jaccard. This is the corpus-curation view OVER the
    * dedup signals: which crawls/dumps overlap, where a domain was
    * ingested twice under different source labels, and which pairs
    * need cross-source dedup before mixing. Complements q52 (per-doc
    * novelty) and q62 (one targeted benchmark) with the full
    * source×source picture.
    *
    * Scale shape: ONE shuffle keyed by hv builds the per-shingle
    * source set (collect_set dedups map-side), and the S²/2 source
    * pairs each shingle contributes are EMITTED by [[PairCounts]] over
    * that set and collapsed by partial aggregation to at most S²/2
    * rows per partition before the final ≤S²/2-row shuffle — the
    * pair volume (shingle-frequency × S², ~19M rows at sf0.1 because
    * the synthetic vocabulary is tiny) exists only transiently inside
    * map tasks, never in a join or a shuffle. This replaced a
    * self-equi-join on hv that sorted/probed the 2M-row distinct
    * table twice and shuffled it both times (2.1 s → the pair-emit
    * form at sf0.1; same answer, same oracle). Per-source set sizes
    * fall out of the SAME grouped table via explode, so the corpus is
    * scanned exactly once. A shingle in every source carries no
    * overlap signal; at web scale pass `dfCap` to drop ubiquitous
    * shingles (now a size() predicate on the source set, not a
    * join). Capping affects n_shared and the set sizes symmetrically
    * — both come from the same capped table, so the Jaccard stays
    * internally consistent. The uncapped default is what q72 benches
    * and the DuckDB oracle mirrors; a spec pins capped == uncapped
    * when no shingle's source-frequency exceeds the cap. */
  def sourceOverlap(spark: SparkSession, sfDir: String,
                    bits: Int = DefaultHashBits,
                    dfCap: Option[Long] = None): DataFrame = {
    val byHv = shingleRows(spark, sfDir, bits)
      .groupBy("hv").agg(collect_set(col("source")).as("srcs"))
    val capped = dfCap match {
      case Some(cap) => byHv.filter(size(col("srcs")) <= cap)
      case None => byHv
    }
    // two consumers (sizes, pairs) with different downstream keys; the
    // grouped table is vocabulary-sized, far smaller than its lineage
    val ss = Materialize.shared(spark, capped)
    val sizes = ss.select(explode(col("srcs")).as("source"))
      .groupBy("source").agg(count(lit(1)).as("n"))
    // The repartition to the session shuffle width keeps the emission
    // stage wide (see PairCounts): under cached-plan AQE the
    // vocabulary-sized scan coalesced to ONE partition for the 19M-pair
    // enumeration at sf0.1 (4.7 s vs 0.9 s). Sorting after it keeps
    // the sort in the wide stage too.
    val srcSets = ss.select(col("srcs"))
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .select(sort_array(col("srcs")).as("srcs"))
    val pairs = PairCounts(srcSets, "srcs")
      .select(col("a").as("source_a"), col("b").as("source_b"), col("n").as("n_shared"))
    pairs
      .join(broadcast(sizes.select(col("source").as("source_a"), col("n").as("na"))), "source_a")
      .join(broadcast(sizes.select(col("source").as("source_b"), col("n").as("nb"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared"),
        (col("n_shared") / ((col("na") + col("nb") - col("n_shared")) * lit(1.0)))
          .as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  // -------------------------------------------------------------------
  // Persisted OVERLAP POSTINGS artifact (round 15, VERDICT r14 item 1)
  // — the build/serve split for the set-overlap family. SCALING's
  // five-decade record names q15's residual linear floor precisely:
  // per-pass MD5 shingle-summary rebuild over the full corpus + one
  // exchange of the exploded shingle relation. That is the cost the
  // engine's artifact discipline already amortizes elsewhere (q105
  // saveDedupIndex, q163 saveWinnowIndex, the ten graph-served
  // reports): pay it ONCE per corpus snapshot at build, serve every
  // report after that from the materialized relations. q15/q83 stay
  // in the registry as the inline end-to-end detectors (the q128/q49
  // detector/report boundary); q203/q204 are the served forms a
  // production pipeline would actually run per-report, and they share
  // the inline oracles because [[jaccardFromCounts]] /
  // [[containmentFromCounts]] are the SAME code over the same counts.
  // -------------------------------------------------------------------

  /** Write the overlap postings artifact:
    *
    *  - `postings/` — the (source, hv, doc_id) inverted-index relation,
    *    DF-CAPPED AT BUILD (a per-source shingle over `dfCap` is
    *    boilerplate under the family's standing contract and is
    *    dropped whole, exactly what the streaming posting scan does),
    *    hive-partitioned by pmod(hv, [[GraphPairBuckets]])
    *    so a provenance probe ("which docs contain this shingle?")
    *    prunes to one bucket.
    *  - `pairs/` — the (source, doc_a, doc_b, cnt) shared-shingle
    *    count relation, the expensive kernel output, bucketed by
    *    pmod(doc_a, buckets). Both q15 and q83 are answer-shaped
    *    formula passes over THIS table.
    *  - `sizes/` — (doc_id, sz) distinct-shingle set sizes.
    *
    * The cap is part of the artifact's identity (it changes pairs/ and
    * postings/), so it is a build parameter, not a serve filter —
    * unlike the winnow index, whose uncapped fps/ supports any cap at
    * serve, an overlap artifact built uncapped would re-pay the full
    * Σ df² pair fan-out it exists to amortize. */
  def saveOverlapPostings(spark: SparkSession, sfDir: String, path: String,
                          bits: Int = DefaultHashBits,
                          dfCap: Option[Long] = Some(JaccardDfCap)): Unit = {
    val (_, sh0, sizes) = sharedSummary(spark, sfDir, bits)
    val sh = sh0.filter(col("source").isNotNull)
    val capped = dfCap match {
      case Some(cap) =>
        // keyed df count + join-filter: both sides key on (source, hv),
        // so the second exchange reuses the first's partitioning
        val df = sh.groupBy("source", "hv").agg(count(lit(1)).as("df"))
          .filter(col("df") <= cap).drop("df")
        sh.join(df, Seq("source", "hv"))
      case None => sh
    }
    capped.select(col("source"), col("hv"), col("doc_id"))
      .withColumn("bucket", pmod(col("hv"), lit(GraphPairBuckets)))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$path/postings")
    sharedShingleCounts(spark, sfDir, dfCap, bits)
      .withColumn("bucket", pmod(col("doc_a"), lit(GraphPairBuckets)))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$path/pairs")
    sizes.write.mode("overwrite").parquet(s"$path/sizes")
  }

  @transient private val overlapPostings =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), String]()

  /** JVM-lifetime artifact build (the q41/q81/q105/q163 discipline):
    * the bench's untimed prepare calls this so the timed q203/q204
    * lines measure the serving read, not the build. */
  def preparedOverlapPostings(spark: SparkSession, sfDir: String,
                              bits: Int = DefaultHashBits): String =
    overlapPostings.computeIfAbsent((sfDir, bits), _ => {
      val path = graft.streaming.StreamScratch.dir(s"graft_overlapidx_b$bits")
      saveOverlapPostings(spark, sfDir, path, bits)
      path
    })

  /** q203: q15 SERVED from the postings artifact (shares q15's oracle
    * — same counts, same [[jaccardFromCounts]] formula). The timed
    * work is a read of the pairs/ relation + two sizes joins + the
    * threshold filter: no MD5 pass, no shingle exchange, no corpus
    * scan — the linear floor moved to build time. */
  def jaccardPairsFromPostings(spark: SparkSession, sfDir: String,
                               bits: Int = DefaultHashBits): DataFrame = {
    val path = preparedOverlapPostings(spark, sfDir, bits)
    jaccardFromCounts(
      spark.read.parquet(s"$path/pairs").select("source", "doc_a", "doc_b", "cnt"),
      spark.read.parquet(s"$path/sizes"))
  }

  /** q204: q83 SERVED from the postings artifact (shares q83's
    * oracle; see [[jaccardPairsFromPostings]]). */
  def containmentPairsFromPostings(spark: SparkSession, sfDir: String,
                                   bits: Int = DefaultHashBits): DataFrame = {
    val path = preparedOverlapPostings(spark, sfDir, bits)
    containmentFromCounts(
      spark.read.parquet(s"$path/pairs").select("source", "doc_a", "doc_b", "cnt"),
      spark.read.parquet(s"$path/sizes"))
  }

  def sourceOverlapSql: String =
    s"""WITH sh AS (
       |  SELECT DISTINCT source, ${shingleHashExpr("strpos", "md5(s)")} AS hv
       |  FROM (SELECT source, unnest($sqlShingles) AS s
       |        FROM (SELECT source, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '') t FROM documents))),
       |sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
       |pairs AS (
       |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
       |  FROM sh a JOIN sh b ON a.hv = b.hv AND a.source < b.source
       |  GROUP BY a.source, b.source)
       |SELECT source_a, source_b, n_shared,
       |  n_shared / ((sa.n + sb.n - n_shared) * 1.0) AS jaccard
       |FROM pairs
       |JOIN sizes sa ON sa.source = pairs.source_a
       |JOIN sizes sb ON sb.source = pairs.source_b
       |ORDER BY source_a, source_b""".stripMargin
}
