package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Consts, Tables}
import graft.functions.TextKernel
import graft.ops.TextAnalytics.{tokens, shingles3, sqlShingles}

/** Signature families: shingle/minhash core, exact and normalized
  * dedup, MinHash+LSH (+ threshold calibration, edit verification),
  * SimHash (+ sweep, bit-bias audit), content-defined chunking, and
  * the source-level sketch matrix.
  *
  * One mixin slice of [[Dedup]] (round-12 file split along the family
  * seams; no behavior change — every member keeps its `Dedup.` call
  * surface through the mixin).
  */
/** Per-doc shingle summary row (top-level: Dataset encoders and Spark
  * closures must not capture the [[Dedup]] module via an inner-class
  * outer pointer). */
case class DocShingles(doc_id: Long, source: String,
                       s: Array[Long], bands: Array[String])

trait DedupSignatures { this: Dedup.type =>


  /** Library-default shingle/gram hash width: 64 bits (the first two
    * md5 words). At 100-TB corpus cardinalities the corpus holds
    * trillions of distinct shingles; a 32-bit space (4.3e9 slots)
    * saturates there and birthday collisions inflate every
    * overlap-counting statistic (Jaccard, novelty, source overlap,
    * duplicated spans). 64 bits pushes the same birthday bound past
    * 10^18 — collision-free in practice at any realistic corpus size. */
  val DefaultHashBits = 64

  /** Oracle mode: the DuckDB-verifiable 32-bit width. The oracle SQL
    * mirrors the hash as the first 8 hex nibbles of md5
    * (shingleHashExpr); DuckDB has no cheap 64-bit variant of that
    * expression, so every oracle-checked query pins this width and the
    * CORRECTNESS gate stays byte-identical. The two widths agree
    * whenever no 32-bit collision occurs (spec-checked at sf0.001). */
  val OracleHashBits = 32

  /** (doc_id, source, shingle) rows — distinct 3-gram shingles per doc.
    *
    * Computed in a typed flatMap, NOT with higher-order-function
    * expressions: HOF lambdas are interpreted (no codegen) and Catalyst
    * re-inlines the tokenize subexpression into every element_at
    * reference, which measured ~25s at sf0.1 for what plain JVM string
    * code does in well under a second. The flatMap tokenizes with
    * `TextKernel.words`, the Scala image of the oracle's
    * split-on-\s+-and-drop-empties (`sqlTokens`), so the DuckDB oracle
    * is unaffected. */
  private[ops] def shingleRows(spark: SparkSession, sfDir: String,
                               bits: Int = DefaultHashBits): DataFrame =
    shingleRowsOf(Tables.documents(spark, sfDir), bits)

  /** Same typed flatMap over an arbitrary (doc_id, source, text) frame —
    * the seam that lets a STREAMING micro-batch derive its shingles
    * through literally the batch path (q112). */
  private[graft] def shingleRowsOf(docs: DataFrame,
                                   bits: Int = DefaultHashBits): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        // hv = leading md5 bytes at the configured width (32-bit mode is
        // the SQL-side shingleHashExpr); distinct by HASH, not just by
        // shingle string: the oracle's set ops run over list_distinct of
        // the hashed values, so two distinct shingles colliding to one hv
        // must count once on both sides
        it.flatMap { case (id, src, txt) =>
          TextKernel.gramHashes(TextKernel.words(txt), 3, bits, md).distinct.map(hv => (id, src, hv))
        }
      }
      .toDF("doc_id", "source", "hv")
  }

  /** doc_id, source, shingle-hash-set column (distinct 3-gram shingles
    * as 32-bit int hashes — set ops over longs are far cheaper than
    * over strings, and the oracle mirrors the same hash). */
  private[ops] def shingleSets(spark: SparkSession, sfDir: String,
                          bits: Int = DefaultHashBits): DataFrame =
    shingleSetsFrom(shingleRows(spark, sfDir, bits))

  private[ops] def shingleSetsFrom(sh: DataFrame): DataFrame =
    sh.groupBy("doc_id", "source")
      .agg(sort_array(collect_set(col("hv"))).as("s")) // sorted: see LongArrayIntersectCount

  // -------------------------------------------------------------------
  // Exact dedup: md5 group-by, keep lowest doc_id.
  // -------------------------------------------------------------------

  def exactDedup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy("content_hash")

  def exactDedupSql: String =
    """SELECT md5(text) AS content_hash, min(doc_id) AS keep_doc_id,
      |  count(*) AS n_copies
      |FROM documents
      |GROUP BY md5(text)
      |ORDER BY content_hash""".stripMargin

  // -------------------------------------------------------------------
  // MinHash signatures + LSH banding + Jaccard verification.
  // -------------------------------------------------------------------

  /** Spark-SQL expression string for the 32-bit shingle hash: first 8
    * hex nibbles of md5. Mirrored 1:1 in the DuckDB oracle (instr vs
    * strpos — same 1-based semantics). */
  /** DuckDB-dialect form of the 32-bit hash for sibling ops suites'
    * oracle SQL (identical arithmetic to `TextKernel.packHash`). */
  private[ops] def shingleHashExprSql(hExpr: String): String =
    shingleHashExpr("strpos", hExpr)

  private[ops] def shingleHashExpr(instrFn: String, hExpr: String = "h"): String =
    (0 until 8).map { j =>
      val w = 1L << (4 * (7 - j))
      s"cast($instrFn('0123456789abcdef', substring($hExpr, ${j + 1}, 1)) - 1 as bigint) * ${w}"
    }.mkString("(", " + ", ")")

  /** One row per doc: 16 minhash values. One md5 per shingle; the 16
    * permutations are linear maps over the 32-bit hash (Consts). Min
    * aggregates get map-side partial aggregation, so the shuffle moves
    * one signature row per doc, not the shingles. */
  def minhashSignatures(spark: SparkSession, sfDir: String,
                        bits: Int = DefaultHashBits): DataFrame =
    minhashSignaturesFrom(shingleRows(spark, sfDir, bits))

  private def minhashSignaturesFrom(sh: DataFrame): DataFrame = {
    // the affine permutations act on a 32-bit universe: params are
    // ~2^31, so a wider operand would overflow the i64 product (ANSI
    // error). 32-bit hv passes through the fold unchanged (high word
    // is zero), keeping the oracle SQL byte-identical; 64-bit hv is
    // xor-folded to its unsigned-32 image FOR BANDING ONLY — candidate
    // generation is probabilistic either way, and the exact Jaccard
    // verification downstream runs on the full-width sets
    val hv32 = shiftrightunsigned(col("hv"), 32)
      .bitwiseXOR(col("hv").bitwiseAND(lit(0xffffffffL)))
    val aggs = Consts.MinhashParams.zipWithIndex.map { case ((a, b), i) =>
      min((hv32 * a + b) % Consts.MinhashPrime).as(s"mh$i")
    }
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Candidate pairs from LSH bands, verified with exact Jaccard.
    *
    * Bands are exploded to (doc_id, band_idx, band_hash) rows and the
    * candidate join is ONE self-equi-join on (band_idx, band_hash) —
    * a single shuffle whose two sides are identical subplans (Spark
    * reuses the exchange), instead of one join per band re-running the
    * whole MinHash lineage. */
  /** One summary row per doc, ALL computed inside the shingle flatMap:
    * sorted distinct shingle-hash set, 16 minhash values, and the 4
    * pre-concatenated LSH band strings. Every piece is per-document
    * local work — the signature is a min over the doc's own shingles,
    * the set is the doc's own hashes — so none of it needs the
    * groupBy(doc_id) shuffles the aggregate formulation paid (the
    * 1.45M-row shingle table never shuffles OR persists; what's cached
    * is one narrow row per doc). Docs with <3 tokens emit nothing,
    * mirroring the empty shingle relation. Arithmetic is identical to
    * minhashSignaturesFrom: 64-bit hv xor-folds to its unsigned-32
    * image for the affine maps; the set keeps full width. */

  private[graft] def docShingleSummary(spark: SparkSession, sfDir: String,
                                     bits: Int = DefaultHashBits): DataFrame =
    docShingleSummaryOf(
      Tables.documents(spark, sfDir).select("doc_id", "source", "text"), bits)

  /** The same per-doc summary over an ARBITRARY (doc_id, source, text)
    * frame — the form a streaming micro-batch applies (q102 shares
    * this exact kernel with the batch path, so stream and batch
    * signatures cannot drift). */
  private[graft] def docShingleSummaryOf(docs: DataFrame,
                                         bits: Int = DefaultHashBits): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, src, txt) =>
          val hvs = TextKernel.gramHashes(TextKernel.words(txt), 3, bits, md).distinct
          if (hvs.isEmpty) Iterator.empty
          else {
            val mh = TextKernel.minhash(hvs)
            java.util.Arrays.sort(hvs)
            Iterator.single(DocShingles(id, src, hvs, TextKernel.bands(mh)))
          }
        }
      }
      .toDF()
  }

  /** Cached per-doc summary + the (doc_id, source, hv) row view and
    * per-doc set sizes derived from it WITHOUT re-hashing: the md5
    * pass runs once per query, the persisted footprint is one narrow
    * row per doc (not the ~290×-larger row table, whose persist+count
    * alone cost ~0.4 s at sf0.1), rows re-materialize by exploding
    * the cached array at consume time, and sizes are a projection —
    * not a shuffle. */
  private[ops] def sharedSummary(spark: SparkSession, sfDir: String, bits: Int):
      (DataFrame, DataFrame, DataFrame) = {
    val (summary, _, _, _) = sharedSummaryN(spark, sfDir, bits)
    (summary,
      summary.select(col("doc_id"), col("source"), explode(col("s")).as("hv")),
      summary.select(col("doc_id"), size(col("s")).cast("long").as("sz")))
  }

  /** [[sharedSummary]] plus the summary's row count (= docs with ≥3
    * tokens), carried from the keyed materialization's eager count so
    * consumers that size an exchange by corpus size (the q15/q83
    * posting scan) need no extra count job — and a query reaching the
    * summary through two helper paths materializes it ONCE (round 15;
    * the second reach used to pay a duplicate persist + count per
    * invocation). −1 in plan-inspection mode. */
  private[ops] def sharedSummaryN(spark: SparkSession, sfDir: String, bits: Int):
      (DataFrame, DataFrame, DataFrame, Long) = {
    val (summary, n) = Materialize.sharedKeyed(spark, ("docShingleSummary", sfDir, bits),
      docShingleSummary(spark, sfDir, bits))
    (summary,
      summary.select(col("doc_id"), col("source"), explode(col("s")).as("hv")),
      summary.select(col("doc_id"), size(col("s")).cast("long").as("sz")),
      n)
  }

  /** LSH candidate pairs with their exact shingle-overlap counts —
    * the ONE candidate generator q14 and q104 share, so the sweep's
    * calibration curve is guaranteed to describe the candidate set
    * the pair query actually filters.
    *
    * `bandCap`: hot-bucket guard. The self-equi-join on
    * (band_idx, band_hash) fans out |bucket|^2 candidate pairs per
    * bucket; exact dedup runs first (two-stage admission scope), but a
    * boilerplate TEMPLATE family — near-identical, not byte-identical —
    * can still put 10^5+ docs in one bucket at web scale, and that one
    * bucket then materializes ~10^10 pairs in a single task. The cap
    * drops buckets larger than `cap` from candidate generation, the
    * same discipline as `jaccardPairsSparse`'s on-by-default dfCap
    * (bounded fan-out): a pair is missed only if EVERY band it agrees on
    * is oversubscribed, i.e. only inside template families too large to
    * enumerate pairwise anyway (their dedup story is the cluster /
    * survivorship family, not the pair list). Bucket sizes come from a
    * count window OVER THE SAME (band_idx, band_hash) partitioning the
    * join shuffles on, so the cap adds no extra corpus shuffle — the
    * window's exchange IS the join's exchange (plan-audited).
    * `None` (default, oracle mode) is uncapped — the DuckDB-checked
    * queries stay byte-identical. */
  private[graft] def candidateOverlap(spark: SparkSession, sfDir: String,
                                      bits: Int,
                                      bandCap: Option[Int] = None): DataFrame = {
    // four consumers (two band-join sides, two verification sides);
    // the cached table is one narrow row per doc, so the eager
    // materialization is cheap and saves three md5 re-scans
    val (summary, _, _) = sharedSummary(spark, sfDir, bits)
    val banded0 = summary.select(col("doc_id"),
      posexplode(col("bands")).as(Seq("band_idx", "band_hash")))
    val banded = bandCap.fold(banded0) { cap =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("band_idx", "band_hash")
      banded0.withColumn("bsz", count(lit(1)).over(w))
        .filter(col("bsz") <= cap).drop("bsz")
    }
    val x = banded.alias("x"); val y = banded.alias("y")
    val candidates = x.join(y,
        col("x.band_idx") === col("y.band_idx") &&
        col("x.band_hash") === col("y.band_hash") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

    val sets = summary.select(col("doc_id"), col("s"))
    val a = sets.alias("sa"); val b = sets.alias("sb")
    candidates
      .join(a, col("doc_a") === col("sa.doc_id"))
      .join(b, col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sa.s"), col("sb.s"))).cast("long").as("inter"),
        size(array_union(col("sa.s"), col("sb.s"))).cast("long").as("uni"))
  }

  def minhashLshPairs(spark: SparkSession, sfDir: String,
                      bits: Int = DefaultHashBits,
                      bandCap: Option[Int] = None): DataFrame =
    candidateOverlap(spark, sfDir, bits, bandCap)
      .withColumn("jaccard",
        col("inter").cast("double") / col("uni").cast("double"))
      .filter(col("jaccard") >= Consts.MinhashJaccardThreshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy("doc_a", "doc_b")

  private[ops] def minColsSql: String = Consts.MinhashParams.zipWithIndex
    .map { case ((a, b), i) => s"min((hv * $a + $b) % ${Consts.MinhashPrime}) AS mh$i" }
    .mkString(",\n    ")

  private[ops] def bandColsSql: String = (0 until Consts.LshBands).map { b =>
    val rows = (0 until Consts.LshRowsPerBand)
      .map(r => s"mh${b * Consts.LshRowsPerBand + r}").mkString(" || '|' || ")
    s"($rows) AS band$b"
  }.mkString(",\n    ")

  /** The shared sets/sig/banded/cand CTE prefix (no leading WITH) —
    * one builder for q14's oracle and q104's, so the two SQL strings
    * cannot drift apart (the minColsSql/bandColsSql discipline). */
  private[ops] def sqlCandCtes: String = {
    val bandJoins = (0 until Consts.LshBands).map { b =>
      s"SELECT x.doc_id AS doc_a, y.doc_id AS doc_b FROM banded x JOIN banded y ON x.band$b = y.band$b AND x.doc_id < y.doc_id"
    }.mkString("\n    UNION\n    ")
    s"""sets AS (
       |  SELECT doc_id, list_distinct([${shingleHashExpr("strpos", "md5(x)")} for x in s0]) AS s
       |  FROM (SELECT doc_id, $sqlShingles s0
       |        FROM (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '') t FROM documents))),
       |exploded AS (SELECT doc_id, unnest(s) AS hv FROM sets),
       |sig AS (SELECT doc_id,
       |    $minColsSql
       |  FROM exploded GROUP BY doc_id),
       |banded AS (SELECT doc_id,
       |    $bandColsSql
       |  FROM sig),
       |cand AS (
       |    $bandJoins)""".stripMargin
  }

  def minhashLshPairsSql: String = {
    s"""WITH $sqlCandCtes
       |SELECT doc_a, doc_b,
       |  cast(len(list_intersect(sa.s, sb.s)) as double) / cast(len(list_distinct(sa.s || sb.s)) as double) AS jaccard
       |FROM cand
       |JOIN sets sa ON doc_a = sa.doc_id
       |JOIN sets sb ON doc_b = sb.doc_id
       |WHERE cast(len(list_intersect(sa.s, sb.s)) as double) / cast(len(list_distinct(sa.s || sb.s)) as double) >= ${Consts.MinhashJaccardThreshold}
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Shingle-overlap screen admitting a candidate into q124's edit
    * verification — deliberately BELOW q14's 0.7 merge threshold: the
    * verifier's whole value is adjudicating the marginal band where
    * bag-of-shingles similarity alone is not trustworthy. */
  val EditScreenPermille = 400L

  /** Edit similarity at or above which q124 confirms a candidate. */
  val EditConfirmPermille = 700L

  /** q124: edit-distance verification of LSH candidate pairs — the
    * sequence-level confirmation stage of a MinHash dedup pipeline.
    * Shingle Jaccard is a SET metric: two documents built from the same
    * template with entities swapped, or with paragraphs reordered, can
    * share most of their shingle bag while differing substantially as
    * SEQUENCES — merging on bag overlap alone is how template families
    * eat distinct documents. Every candidate above the
    * [[EditScreenPermille]] bag screen gets the exact Levenshtein
    * verdict: sim‰ = 1000 − lev·1000 div max(|a|,|b|) (integer, so the
    * whole report hash-checks), `confirmed` = sim ≥
    * [[EditConfirmPermille]]. Rejected candidates stay IN the report —
    * what verification refused is the interesting half of the artifact.
    *
    * Scale shape: the O(|a|·|b|) DP is the expensive verifier, so it
    * runs on the LSH-bounded candidate list only (never any corpus
    * pair), AFTER the cheap set-overlap screen — [[candidateOverlap]]'s
    * `bandCap` upstream bounds the list under template-family skew, and
    * the two text fetches are equi-joins keyed on doc_id. Spark's
    * `levenshtein` is a codegen'd built-in; production runs with a doc
    * length cap or the thresholded `levenshtein(a, b, k)` variant
    * (early-exit DP), which the oracle-checked default avoids only
    * because its -1-beyond-k convention is not portable SQL. */
  def editVerifiedPairs(spark: SparkSession, sfDir: String,
                        bits: Int = DefaultHashBits,
                        bandCap: Option[Int] = None): DataFrame =
    editVerifyCore(
      candidateOverlap(spark, sfDir, bits, bandCap),
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))

  /** Core over arbitrary (doc_a, doc_b, inter, uni) candidates and
    * (doc_id, text) documents — the seam the spec uses to plant
    * bag-equal / sequence-different pairs the corpus lacks. */
  private[graft] def editVerifyCore(cands: DataFrame, docs: DataFrame): DataFrame = {
    val da = docs.select(col("doc_id").as("doc_a"), col("text").as("ta"))
    val db = docs.select(col("doc_id").as("doc_b"), col("text").as("tb"))
    cands
      .withColumn("jacc_permille", expr("inter * 1000 div uni"))
      .filter(col("jacc_permille") >= EditScreenPermille)
      .join(da, Seq("doc_a")).join(db, Seq("doc_b"))
      .withColumn("lev", levenshtein(col("ta"), col("tb")).cast("long"))
      .withColumn("len_max",
        greatest(length(col("ta")), length(col("tb"))).cast("long"))
      .withColumn("sim_permille",
        lit(1000L) - expr("lev * 1000 div len_max"))
      .withColumn("confirmed", col("sim_permille") >= EditConfirmPermille)
      .select("doc_a", "doc_b", "jacc_permille", "lev", "sim_permille", "confirmed")
      .orderBy("doc_a", "doc_b")
  }

  def editVerifiedPairsSql: String =
    s"""WITH $sqlCandCtes,
       |screened AS (
       |  SELECT doc_a, doc_b,
       |    len(list_intersect(sa.s, sb.s)) * 1000 // len(list_distinct(sa.s || sb.s)) AS jacc_permille
       |  FROM cand
       |  JOIN sets sa ON doc_a = sa.doc_id
       |  JOIN sets sb ON doc_b = sb.doc_id
       |  WHERE len(list_intersect(sa.s, sb.s)) * 1000 // len(list_distinct(sa.s || sb.s)) >= $EditScreenPermille)
       |SELECT doc_a, doc_b, cast(jacc_permille as bigint) AS jacc_permille,
       |  cast(levenshtein(da.text, db.text) as bigint) AS lev,
       |  cast(1000 - levenshtein(da.text, db.text) * 1000
       |    // greatest(length(da.text), length(db.text)) as bigint) AS sim_permille,
       |  1000 - levenshtein(da.text, db.text) * 1000
       |    // greatest(length(da.text), length(db.text)) >= $EditConfirmPermille AS confirmed
       |FROM screened
       |JOIN documents da ON doc_a = da.doc_id
       |JOIN documents db ON doc_b = db.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin

  // -------------------------------------------------------------------
  // SimHash: 16-bit signatures from token md5 nibbles + hamming pairs.
  // -------------------------------------------------------------------

  /** doc_id, simhash (long in [0, 2^16)). Bit k is the sign of the sum
    * over tokens of +/-1 on the high bit of hex nibble k of md5(token).
    * Token multiplicity counts (frequency-weighted simhash). */
  def simhash(spark: SparkSession, sfDir: String): DataFrame =
    simhashFrame(spark, sfDir).orderBy("doc_id")

  /** (doc_id, simhash) without the presentation sort — the join inputs
    * in simhashPairs build on this so no useless sort sits under a
    * shuffle. */
  /** Per-doc 16-bit signature at SCAN SPEED: a doc's tokens live in
    * one row, so the whole vote/threshold computation is row-local —
    * no token-stream shuffle at all (the q69/q33/q14 discipline). The
    * arithmetic is byte-for-byte the `functions.SimHash16` scalar (the
    * SQL surface) and vote-equivalent to the NibbleHighMask kernel
    * formulation below, which remains the streaming hot path
    * (DedupStream) and the spec cross-check baseline here. */
  private def simhashFrame(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, txt) => (id, TextKernel.simhash16(txt, md)) }
      }
      .toDF("doc_id", "simhash")
  }

  /** The fused-kernel formulation (NibbleHighMask projection over the
    * exploded token stream + 16 shift-and-mask partial sums): the
    * declarative baseline the scan-local default is spec-checked
    * against, and the shape the streaming path uses per micro-batch. */
  private[graft] def simhashFrameKernel(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .withColumn("m", graft.functions.NibbleHighMask(md5(col("tok").cast("binary"))))
    val bitCounts = (0 until Consts.SimHashBits).map { k =>
      sum(shiftright(col("m"), k).bitwiseAND(lit(1L))).as(s"c$k")
    } :+ count(lit(1)).as("n")
    val sig = toks.groupBy("doc_id").agg(bitCounts.head, bitCounts.tail: _*)
    val hash = (0 until Consts.SimHashBits).map { k =>
      // b_k > 0  <=>  2*c_k > n (vote sum sign, oracle SQL unchanged)
      when(col(s"c$k") * 2 > col("n"), lit(1L << k)).otherwise(lit(0L))
    }.reduce(_ + _)
    sig.select(col("doc_id"), hash.as("simhash"))
  }

  def simhashSql: String = {
    val bitSums = (0 until Consts.SimHashBits).map { k =>
      val hi = Consts.HexHigh.map(h => s"'$h'").mkString(", ")
      s"sum(CASE WHEN substring(h, ${k + 1}, 1) IN ($hi) THEN 1 ELSE -1 END) AS b$k"
    }.mkString(",\n    ")
    val hash = (0 until Consts.SimHashBits)
      .map(k => s"CASE WHEN b$k > 0 THEN ${1L << k} ELSE 0 END").mkString(" + ")
    s"""SELECT doc_id, cast($hash as bigint) AS simhash FROM (
       |  SELECT doc_id,
       |    $bitSums
       |  FROM (SELECT doc_id, md5(unnest(t)) AS h
       |        FROM (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '') t FROM documents))
       |  GROUP BY doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** Near-dup candidates: simhash pairs within hamming distance <= 3.
    *
    * Two-level scale shape (the corpus is heavily templated — at sf0.1
    * its 5,000 docs collapse to 1,575 distinct signatures and the
    * answer itself is 3.3M pairs, so doc-level banding generates MORE
    * bucket-pair work than the n^2/2 nested loop it replaces):
    *
    *  1. collapse to DISTINCT signatures (hamming is a function of the
    *     signature pair, so all work above the final expansion is
    *     per-cluster, not per-doc);
    *  2. banded (pigeonhole) equi-join at signature level: 16 bits in
    *     4 bands of 4; hamming <= 3 differing bits cannot touch all 4
    *     bands, so every qualifying pair agrees on >= 1 whole band —
    *     band equality is a lossless candidate filter and the join is
    *     a single self-equi-join over distinct signatures (measured
    *     ~17x fewer bucket pairs than doc-level banding at sf0.1);
    *  3. expand qualifying signature pairs back to doc pairs with two
    *     output-sized equi-joins; same-signature (hamming 0) doc pairs
    *     come straight from the cluster sizes.
    *
    * At 100x the data, step 2's cost tracks the number of distinct
    * signatures and step 3's cost tracks the answer size — both
    * irreducible — while the doc-count-quadratic nested loop is gone. */
  def simhashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    // three consumers (distinct signatures, both doc-attach sides,
    // same-signature pairs); the cached table is two longs per doc
    val sig = Materialize.shared(spark, simhashFrame(spark, sfDir))
    val sigs = sig.select("simhash").distinct()
    val bandBits = Consts.SimHashBits / Consts.SimhashBands
    val bandVals = (0 until Consts.SimhashBands).map { b =>
      shiftright(col("simhash"), b * bandBits).bitwiseAND(lit((1L << bandBits) - 1))
    }
    val banded = sigs.select(col("simhash"),
      posexplode(array(bandVals: _*)).as(Seq("band_idx", "band_val")))
    val ba = banded.alias("a"); val bb = banded.alias("b")
    val sigPairs = ba.join(bb,
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.simhash") < col("b.simhash"))
      .select(col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
      .filter(col("hamming") <= Consts.SimhashMaxHamming)
    val da = sig.select(col("simhash").as("sh_a"), col("doc_id").as("id_a"))
    val db = sig.select(col("simhash").as("sh_b"), col("doc_id").as("id_b"))
    val cross = sigPairs.join(da, "sh_a").join(db, "sh_b")
      .select(least(col("id_a"), col("id_b")).as("doc_a"),
        greatest(col("id_a"), col("id_b")).as("doc_b"), col("hamming"))
    val x = sig.alias("x"); val y = sig.alias("y")
    val within = x.join(y,
        col("x.simhash") === col("y.simhash") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit(0L).as("hamming"))
    cross.unionAll(within).orderBy("doc_a", "doc_b")
  }

  /** SimHash near-dup CLUSTERS without the doc-pair expansion.
    *
    * q17's pair output is answer-sized (3.35 M pairs at sf0.1 — the
    * corpus is heavily templated, so same-signature groups alone
    * contribute |group|²/2 pairs each), but a dedup pipeline wants the
    * survivorship partition, not the pairs. This keeps ALL work at
    * signature granularity: the banded equi-join produces signature
    * EDGES (bounded by distinct-signature count, not doc count), the
    * CC loop labels signatures, and docs join their signature's
    * component label once at the end — the |group|² expansion never
    * materializes. Output: (doc_id, cluster_id = min doc_id of the
    * component); keep doc_id == cluster_id is the dedup decision.
    *
    * Spec-checked equal to union-find over simhashPairs' output; q17
    * remains the oracle-checked pair formulation. */
  def simhashClusters(spark: SparkSession, sfDir: String): DataFrame = {
    // reused by the distinct-signature edge build AND the final doc
    // join; checkpointed so the CC rounds plan over a flat LogicalRDD,
    // tracked so release() frees the blocks after the query runs
    val sig = Materialize.tracked(spark,
      simhashFrame(spark, sfDir).localCheckpoint(true))
    val sigs = sig.select("simhash").distinct()
    val bandBits = Consts.SimHashBits / Consts.SimhashBands
    val bandVals = (0 until Consts.SimhashBands).map { b =>
      shiftright(col("simhash"), b * bandBits).bitwiseAND(lit((1L << bandBits) - 1))
    }
    val banded = sigs.select(col("simhash"),
      posexplode(array(bandVals: _*)).as(Seq("band_idx", "band_val")))
    val ba = banded.alias("a"); val bb = banded.alias("b")
    val sigEdges = ba.join(bb,
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.simhash") < col("b.simhash"))
      .select(col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
      .distinct()
      .filter(bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= Consts.SimhashMaxHamming)
    val comp = starComponents(sigEdges)
    // signatures with no qualifying edge are their own component
    val sigLabels = sigs.join(comp, sigs("simhash") === comp("node"), "left")
      .select(sigs("simhash"), coalesce(col("label"), sigs("simhash")).as("sig_label"))
    val docLabels = sig.join(sigLabels, "simhash").select("doc_id", "sig_label")
    val clusterIds = docLabels.groupBy("sig_label").agg(min("doc_id").as("cluster_id"))
    docLabels.join(clusterIds, "sig_label")
      .select(col("doc_id"), col("cluster_id"))
      .orderBy("doc_id")
  }

  /** Jaccard histogram bucket width for the threshold sweep: 1/20. */
  val SweepBuckets = 20

  /** q104: dedup threshold-calibration sweep — the Jaccard histogram
    * of all LSH-candidate pairs, bucketed at 0.05, with a cumulative
    * pairs-at-or-above column. This is the curve a curation run reads
    * BEFORE committing to a threshold (q14 hard-codes 0.7): how many
    * pairs (and docs) each candidate threshold would merge. The
    * LSH banding biases candidate recall toward high similarity, so
    * the curve is exact in the region where thresholds actually get
    * chosen and sparse below — that bias is the documented trade
    * that makes the sweep one banded equi-join instead of all pairs.
    *
    * Scale shape: exactly q14's candidate join (shared summary cache,
    * banded equi-join, never all-pairs) with the threshold filter
    * REPLACED by a 20-bucket keyed aggregation; the cumulative column
    * is a window over ≤20 rows. The bucket expression is one shared
    * string on both engines (the bm25ScoreExpr discipline). */
  def thresholdSweep(spark: SparkSession, sfDir: String,
                     bits: Int = DefaultHashBits,
                     bandCap: Option[Int] = None): DataFrame = {
    val bucketed = candidateOverlap(spark, sfDir, bits, bandCap)
      .withColumn("bucket", expr(sweepBucketExpr))
    // both cumulative columns are per-THRESHOLD reads: pairs at or
    // above, and distinct merge victims (larger-id endpoints) at or
    // above — a doc's bucket is the MAX over its pairs, so summing
    // down the curve never double-counts a document
    val pairHist = bucketed.groupBy("bucket").agg(count(lit(1)).as("n_pairs"))
    val docHist = bucketed.groupBy("doc_b").agg(max(col("bucket")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_docs_new"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bucket").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    pairHist.join(docHist, Seq("bucket"), "left")
      .withColumn("n_pairs_at_or_above", sum(col("n_pairs")).over(w))
      .withColumn("n_docs_merged_at_or_above",
        sum(coalesce(col("n_docs_new"), lit(0L))).over(w))
      .select("bucket", "n_pairs", "n_pairs_at_or_above",
        "n_docs_merged_at_or_above")
      .orderBy("bucket")
  }

  /** floor(20 * inter/uni), clamped so jaccard == 1 lands in the top
    * bucket — one string evaluated by both engines. */
  private[ops] def sweepBucketExpr: String =
    s"least(cast(floor((cast(inter as double) / cast(uni as double)) * $SweepBuckets.0) as bigint), ${SweepBuckets - 1L})"

  def thresholdSweepSql: String =
    s"""WITH $sqlCandCtes,
       |b AS (
       |  SELECT doc_a, doc_b, $sweepBucketExpr AS bucket FROM (
       |    SELECT doc_a, doc_b,
       |      cast(len(list_intersect(sa.s, sb.s)) as bigint) AS inter,
       |      cast(len(list_distinct(sa.s || sb.s)) as bigint) AS uni
       |    FROM cand
       |    JOIN sets sa ON doc_a = sa.doc_id
       |    JOIN sets sb ON doc_b = sb.doc_id)),
       |ph AS (SELECT bucket, count(*) AS n_pairs FROM b GROUP BY bucket),
       |dh AS (
       |  SELECT bucket, cast(count(*) as bigint) AS n_docs_new
       |  FROM (SELECT doc_b, max(bucket) AS bucket FROM b GROUP BY doc_b)
       |  GROUP BY bucket)
       |SELECT bucket, n_pairs,
       |  cast(sum(n_pairs) OVER (ORDER BY bucket DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint) AS n_pairs_at_or_above,
       |  cast(sum(coalesce(n_docs_new, 0)) OVER (ORDER BY bucket DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint) AS n_docs_merged_at_or_above
       |FROM ph LEFT JOIN dh USING (bucket) ORDER BY bucket""".stripMargin

  // -------------------------------------------------------------------
  // Content-defined chunking (CDC): rolling-hash boundary detection,
  // the block-level dedup primitive (cf. LBFS/rsync-style anchoring;
  // gear/Rabin CDC in storage dedup). Unlike fixed-size chunking, an
  // insertion early in a document does NOT shift every later block's
  // identity — boundaries re-synchronize at the next hash anchor — so
  // shared passages across near-duplicate documents dedup at block
  // granularity. Boundaries are a pure per-position predicate (window
  // hash divisible by CdcDivisor), so the operator is a stateless
  // flatMap on Spark and a list comprehension in the oracle: exact
  // integer arithmetic end to end.
  // -------------------------------------------------------------------

  val CdcWindow = 8
  val CdcBase = 31L    // ord(31 mod 61) > window: all 8 powers distinct mod 61
  val CdcDivisor = 61L // PRIME — no shared factors with the base's power
                       // structure (the first cut used 64, where
                       // 31^2 == 1 (mod 64) collapsed the hash to a
                       // 6-bit alternating sum and made every run of 8
                       // equal chars anchor at every position)

  /** Byte substitution table (gear-style): window hashes of structured
    * text mix through seeded random values instead of raw char codes.
    * Every entry is nonzero mod 61, so a uniform window (h = T[c] *
    * sum(31^k), and sum(31^k) ≢ 0 mod 61) can NEVER anchor — repeated-
    * character runs (padding, separators, indentation) produce no
    * boundaries instead of one boundary per character. */
  val CdcSubst: Array[Long] = {
    var s = 0x5eed5eedL
    def next(): Long = { s = s * 6364136223846793005L + 1442695040888963407L; (s >>> 40) & 0xffffL }
    Array.fill(128) {
      var v = next() | 1L
      if (v % CdcDivisor == 0) v += 2
      v
    }
  }

  /** (doc_id, seg_idx, seg_len, seg_md5) — segments re-concatenate to
    * the original text (spec-checked); md5 identifies shared blocks
    * across documents for block-level dedup. All positions/lengths are
    * Unicode CODE POINTS (DuckDB's length/substring/ascii semantics),
    * not UTF-16 units, so the oracle agrees beyond the BMP too. */
  def cdcSegments(spark: SparkSession, sfDir: String): DataFrame =
    cdcSegmentRows(spark, sfDir).orderBy("doc_id", "seg_idx")

  /** The unsorted segment relation: q58's report adds the ordered-output
    * contract above; q138's aggregation consumer reads this form so its
    * cached segment table does not materialize a corpus-wide range
    * exchange + sort it immediately re-aggregates away (round 16). */
  private[graft] def cdcSegmentRows(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .filter(length(col("text")) > 0)
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val md = java.security.MessageDigest.getInstance("MD5")
        cdcSplit(text).zipWithIndex.map { case (seg, idx) =>
          val d = md.digest(seg.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          (id, idx.toLong, seg.codePointCount(0, seg.length).toLong,
            d.map("%02x".format(_)).mkString)
        }
      }
      .toDF("doc_id", "seg_idx", "seg_len", "seg_md5")
  }

  /** q138: cross-document CDC-segment dedup — the storage-dedup view
    * over q58's content-defined segments (the LBFS/rsync/backup-dedup
    * discipline applied to corpus text): a segment whose hash appears
    * in more than one document is shared content, and a document's
    * dup-segment ratio is its redundancy against the rest of the
    * corpus at CONTENT-DEFINED granularity. This complements q65's
    * fixed word-5-gram spans on the other axis: CDC boundaries are
    * byte-level, variable-length, and chosen by the rolling hash, so a
    * shared PARAGRAPH re-wrapped with different whitespace or embedded
    * at a different offset still resolves to the same segments, while
    * q65's fixed grams and q13's whole-text hash both miss it.
    *
    * Scale shape: segmentation is q58's scan-local rolling hash (one
    * pass per doc, no shuffle); segment frequency is ONE groupBy on
    * seg_md5 with map-side combine over the segment relation; the join
    * back rides the same materialized segment table (exchange-reused,
    * the q65 frequency-join shape); the final per-doc agg is keyed by
    * doc_id and bounded by per-doc segment counts. */
  def cdcDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val segs = Materialize.shared(spark,
      cdcSegmentRows(spark, sfDir).select("doc_id", "seg_len", "seg_md5"))
    val dfc = segs.groupBy("seg_md5").agg(countDistinct(col("doc_id")).as("nd"))
    val per = segs.join(dfc, "seg_md5")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup_segments"),
        sum(col("seg_len")).as("n_cps"),
        sum(when(col("nd") > 1, col("seg_len")).otherwise(0L)).as("dup_cps"))
    Tables.documents(spark, sfDir).select("doc_id")
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        coalesce(col("n_dup_segments"), lit(0L)).as("n_dup_segments"),
        coalesce(col("n_cps"), lit(0L)).as("n_cps"),
        coalesce(col("dup_cps"), lit(0L)).as("dup_cps"),
        coalesce(expr("dup_cps * 1000 div n_cps"), lit(0L)).as("dup_permille"))
      .orderBy("doc_id")
  }

  def cdcDedupSql: String =
    s"""WITH segs AS (${cdcSegmentsSql.replace("ORDER BY doc_id, seg_idx", "")}),
       |dfc AS (SELECT seg_md5, count(DISTINCT doc_id) AS nd FROM segs GROUP BY seg_md5),
       |per AS (
       |  SELECT doc_id, cast(count(*) as bigint) AS n_segments,
       |    cast(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) as bigint) AS n_dup_segments,
       |    cast(sum(seg_len) as bigint) AS n_cps,
       |    cast(sum(CASE WHEN nd > 1 THEN seg_len ELSE 0 END) as bigint) AS dup_cps
       |  FROM segs JOIN dfc USING (seg_md5) GROUP BY doc_id)
       |SELECT d.doc_id,
       |  coalesce(n_segments, 0) AS n_segments,
       |  coalesce(n_dup_segments, 0) AS n_dup_segments,
       |  coalesce(n_cps, 0) AS n_cps,
       |  coalesce(dup_cps, 0) AS dup_cps,
       |  coalesce(dup_cps * 1000 // n_cps, 0) AS dup_permille
       |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Pure split (testable without Spark): segment boundaries over the
    * code-point sequence via the rolling substituted hash. */
  private[graft] def cdcSplit(text: String): Seq[String] = {
    val pow = Array.iterate(1L, CdcWindow)(_ * CdcBase)
    val topPow = pow(CdcWindow - 1)
    val cps = text.codePoints().toArray
    val n = cps.length
    if (n == 0) return Seq.empty
    val bounds = scala.collection.mutable.ArrayBuffer.empty[Int]
    // true rolling update: h' = (h - T[old]*31^7)*31 + T[new];
    // exact in i64 (h <= 8 * 2^16 * 31^7 ~ 1.4e16, x31 < 2^63)
    var h = 0L
    var i = 0
    while (i < n - 1) {
      val t = CdcSubst((cps(i) % 128 + 128) % 128)
      if (i < CdcWindow) h = h * CdcBase + t
      else h = (h - CdcSubst((cps(i - CdcWindow) % 128 + 128) % 128) * topPow) * CdcBase + t
      if (i >= CdcWindow - 1 && h % CdcDivisor == 0L) bounds += i
      i += 1
    }
    val starts = 0 +: bounds.map(_ + 1)
    val ends = bounds :+ (n - 1)
    starts.zip(ends).map { case (s, e) => new String(cps, s, e - s + 1) }.toSeq
  }

  def cdcSegmentsSql: String = {
    val pow = Array.iterate(1L, CdcWindow)(_ * CdcBase)
    val substList = CdcSubst.mkString("[", ", ", "]")
    // term k reads the char k positions back (highest power = oldest)
    val powTerms = (0 until CdcWindow).map { k =>
      s"cast(tt[(ascii(substring(text, i - $k + 1, 1)) % 128 + 128) % 128 + 1] as bigint) * ${pow(k)}"
    }.mkString(" + ")
    s"""WITH bounded AS (
       |  SELECT doc_id, text, length(text) AS n,
       |    [i for i in range(${CdcWindow - 1}, length(text) - 1)
       |       if ($powTerms) % $CdcDivisor = 0] AS b
       |  FROM (SELECT doc_id, text, $substList AS tt
       |        FROM documents WHERE length(text) > 0)),
       |segs AS (
       |  SELECT doc_id,
       |    cast(k as bigint) AS seg_idx,
       |    substring(text,
       |      cast((CASE WHEN k = 0 THEN 0 ELSE b[k] + 1 END) + 1 as int),
       |      cast((CASE WHEN k = len(b) THEN n - 1 ELSE b[k + 1] END)
       |           - (CASE WHEN k = 0 THEN 0 ELSE b[k] + 1 END) + 1 as int)) AS seg
       |  FROM bounded, unnest(range(len(b) + 1)) AS t(k))
       |SELECT doc_id, seg_idx,
       |  cast(length(seg) as bigint) AS seg_len, md5(seg) AS seg_md5
       |FROM segs
       |ORDER BY doc_id, seg_idx""".stripMargin
  }

  /** q75: normalization-collision dedup — exact dedup AFTER the
    * canonical text normalization every pipeline applies first
    * (lowercase, strip non-alphanumerics, collapse whitespace). Groups
    * that only appear here (n_variants > 1) are the trivially-edited
    * copies raw hashing misses: case changes, punctuation tweaks,
    * re-wrapped whitespace. Pure scan-side normalization + one hash
    * aggregation — the same single-shuffle shape as q13, and the
    * cheapest possible recall boost in front of the MinHash tiers. */
  def normalizedDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), lit("[^a-z0-9\\s]"), lit("")),
      lit("\\s+"), lit(" ")))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("raw_hash"),
        md5(norm.cast("binary")).as("norm_hash"))
      .groupBy("norm_hash")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("raw_hash")).as("n_variants"),
        min(col("doc_id")).as("keep_doc_id"))
      .filter(col("n_docs") > 1)
      .orderBy("norm_hash")
  }

  def normalizedDedupSql: String =
    s"""SELECT md5(n) AS norm_hash, count(*) AS n_docs,
       |  count(DISTINCT md5(text)) AS n_variants,
       |  min(doc_id) AS keep_doc_id
       |FROM (SELECT doc_id, text,
       |        trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
       |             '\\s+', ' ', 'g')) AS n
       |      FROM documents)
       |GROUP BY md5(n)
       |HAVING count(*) > 1
       |ORDER BY norm_hash""".stripMargin

  /** The all-pairs baseline the two-level join is spec-checked against. */
  def simhashPairsAllPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val sig = simhashFrame(spark, sfDir)
    val a = sig.alias("a"); val b = sig.alias("b")
    a.join(b, col("a.doc_id") < col("b.doc_id"))
      .withColumn("hamming",
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long"))
      .filter(col("hamming") <= Consts.SimhashMaxHamming)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"), col("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  def simhashPairsSql: String =
    s"""WITH sig AS (${simhashSql.replace("ORDER BY doc_id", "")})
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  cast(bit_count(xor(a.simhash, b.simhash)) as bigint) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= ${Consts.SimhashMaxHamming}
       |ORDER BY doc_a, doc_b""".stripMargin

  // -------------------------------------------------------------------
  // SimHash threshold calibration sweep: q104's discipline applied to
  // the 16-bit signature family. Before committing to a Hamming merge
  // threshold (Consts.SimhashMaxHamming = 3), sweep every threshold
  // 0..SimhashSweepMax and report what each would merge — pair volume
  // AND how set-similar the merged docs actually are.
  // -------------------------------------------------------------------

  /** Sweep ceiling: past 8 of 16 bits, signatures are uncorrelated. */
  val SimhashSweepMax = 8L

  /** q136: per candidate Hamming threshold t, the CUMULATIVE merge
    * picture: distinct-signature pairs at distance ≤ t, the EXACT
    * count of document pairs those signature pairs imply (products of
    * group sizes — no doc-pair expansion is ever materialized), and
    * the shingle-set Jaccard of each signature pair's REPRESENTATIVE
    * doc pair (min-id docs; min-id + second-min for same-signature
    * groups). Representative Jaccard is a calibration statistic, not
    * the all-pairs mean — the all-pairs version requires exactly the
    * |group|² expansion this formulation exists to avoid, and for
    * threshold selection the representative curve carries the signal
    * (is hamming 5 still ~0.7-similar, or noise?).
    *
    * Scale shape: everything runs at SIGNATURE granularity (the q49
    * cluster discipline): group stats are two keyed aggs over the
    * two-longs-per-doc signature table; the sweep's candidate join is
    * all-pairs over DISTINCT signatures — bounded by the 2¹⁶ signature
    * space, a CONSTANT independent of corpus size (≤ 2×10⁹ worst-case
    * comparisons for an occasional calibration run; the corpus itself
    * never joins); representative shingle sets fetch by equi-join for
    * ≤ 2·|sigs| docs; the threshold fan-out is a 9-row broadcast. */
  def simhashSweep(spark: SparkSession, sfDir: String,
                   bits: Int = DefaultHashBits): DataFrame = {
    import graft.functions.LongArrayIntersectCount
    val sig = Materialize.shared(spark, simhashFrame(spark, sfDir))
    val groups = sig.groupBy("simhash")
      .agg(count(lit(1)).as("cnt"), min("doc_id").as("r1"))
    val r2 = sig.join(groups, "simhash").filter(col("doc_id") > col("r1"))
      .groupBy("simhash").agg(min("doc_id").as("r2"))
    val g = groups.join(r2, Seq("simhash"), "left")
    val a = g.select(col("simhash").as("sh_a"), col("cnt").as("cnt_a"), col("r1").as("rep_a"))
    val b = g.select(col("simhash").as("sh_b"), col("cnt").as("cnt_b"), col("r1").as("rep_b"))
    val cross = a.join(b, col("sh_a") < col("sh_b"))
      .withColumn("hamming",
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
      .filter(col("hamming") <= SimhashSweepMax)
      .select(col("hamming"), (col("cnt_a") * col("cnt_b")).as("n_doc_pairs"),
        col("rep_a"), col("rep_b"))
    val same = g.filter(col("cnt") >= 2L)
      .select(lit(0L).as("hamming"),
        expr("cnt * (cnt - 1) div 2").as("n_doc_pairs"),
        col("r1").as("rep_a"), col("r2").as("rep_b"))
    val sets = shingleSets(spark, sfDir, bits).select("doc_id", "s")
    val empty = array().cast("array<bigint>")
    val withJ = cross.unionAll(same)
      .join(sets.select(col("doc_id").as("rep_a"), col("s").as("sa")), Seq("rep_a"), "left")
      .join(sets.select(col("doc_id").as("rep_b"), col("s").as("sb")), Seq("rep_b"), "left")
      .withColumn("inter",
        LongArrayIntersectCount(coalesce(col("sa"), empty), coalesce(col("sb"), empty)).cast("long"))
      .withColumn("uni",
        size(coalesce(col("sa"), empty)).cast("long") +
          size(coalesce(col("sb"), empty)).cast("long") - col("inter"))
      .withColumn("jacc_permille",
        when(col("uni") > 0L, expr("inter * 1000 div uni")).otherwise(lit(0L)))
    val th = spark.range(0L, SimhashSweepMax + 1L).toDF("max_hamming")
    th.join(withJ, col("hamming") <= col("max_hamming"), "left")
      .groupBy("max_hamming")
      .agg(count(col("hamming")).as("n_sig_pairs"),
        coalesce(sum(col("n_doc_pairs")), lit(0L)).as("n_doc_pairs"),
        coalesce(sum(col("jacc_permille")), lit(0L)).as("jsum"),
        coalesce(min(col("jacc_permille")), lit(-1L)).as("min_rep_jacc_permille"))
      .withColumn("mean_rep_jacc_permille",
        when(col("n_sig_pairs") > 0L, expr("jsum div n_sig_pairs")).otherwise(lit(-1L)))
      .select("max_hamming", "n_sig_pairs", "n_doc_pairs",
        "mean_rep_jacc_permille", "min_rep_jacc_permille")
      .orderBy("max_hamming")
  }

  def simhashSweepSql: String =
    s"""WITH sig AS (${simhashSql.replace("ORDER BY doc_id", "")}),
       |sets AS (
       |  SELECT doc_id, list_distinct([${shingleHashExpr("strpos", "md5(x)")} for x in s0]) AS s
       |  FROM (SELECT doc_id, $sqlShingles s0
       |        FROM (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '') t FROM documents))),
       |g0 AS (SELECT simhash, cast(count(*) as bigint) AS cnt, min(doc_id) AS r1
       |       FROM sig GROUP BY simhash),
       |rr2 AS (SELECT s.simhash, min(s.doc_id) AS r2
       |        FROM sig s JOIN g0 ON s.simhash = g0.simhash
       |        WHERE s.doc_id > g0.r1 GROUP BY s.simhash),
       |g AS (SELECT g0.simhash, g0.cnt, g0.r1, rr2.r2 FROM g0 LEFT JOIN rr2 USING (simhash)),
       |cross_p AS (
       |  SELECT cast(bit_count(xor(a.simhash, b.simhash)) as bigint) AS hamming,
       |    a.cnt * b.cnt AS n_doc_pairs, a.r1 AS rep_a, b.r1 AS rep_b
       |  FROM g a JOIN g b ON a.simhash < b.simhash
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= $SimhashSweepMax),
       |same_p AS (
       |  SELECT cast(0 as bigint) AS hamming, cnt * (cnt - 1) // 2 AS n_doc_pairs,
       |    r1 AS rep_a, r2 AS rep_b
       |  FROM g WHERE cnt >= 2),
       |pairs AS (SELECT * FROM cross_p UNION ALL SELECT * FROM same_p),
       |wj AS (
       |  SELECT hamming, n_doc_pairs,
       |    CASE WHEN (len(coalesce(sa.s, [])) + len(coalesce(sb.s, []))
       |               - len(list_intersect(coalesce(sa.s, []), coalesce(sb.s, [])))) > 0
       |      THEN len(list_intersect(coalesce(sa.s, []), coalesce(sb.s, []))) * 1000
       |        // (len(coalesce(sa.s, [])) + len(coalesce(sb.s, []))
       |            - len(list_intersect(coalesce(sa.s, []), coalesce(sb.s, []))))
       |      ELSE 0 END AS jacc_permille
       |  FROM pairs
       |  LEFT JOIN sets sa ON rep_a = sa.doc_id
       |  LEFT JOIN sets sb ON rep_b = sb.doc_id),
       |th AS (SELECT cast(t as bigint) AS max_hamming FROM unnest(range($SimhashSweepMax + 1)) AS u(t))
       |SELECT max_hamming,
       |  cast(count(hamming) as bigint) AS n_sig_pairs,
       |  cast(coalesce(sum(n_doc_pairs), 0) as bigint) AS n_doc_pairs,
       |  CASE WHEN count(hamming) > 0
       |    THEN cast(coalesce(sum(jacc_permille), 0) as bigint) // cast(count(hamming) as bigint)
       |    ELSE -1 END AS mean_rep_jacc_permille,
       |  cast(coalesce(min(jacc_permille), -1) as bigint) AS min_rep_jacc_permille
       |FROM th LEFT JOIN wj ON hamming <= max_hamming
       |GROUP BY max_hamming
       |ORDER BY max_hamming""".stripMargin

  // -------------------------------------------------------------------
  // Source-level MinHash similarity matrix: the SKETCH-space complement
  // of q72's exact source×source overlap. q72 answers "exactly how many
  // shingles do these two crawls share" with one hv-keyed shuffle whose
  // cost scales with the corpus; this answers "approximately how
  // Jaccard-similar are the crawls' shingle UNIONS" from a 16-value
  // signature per source — the screening pass a curation pipeline runs
  // FIRST (every dump pair, every refresh) to decide which few pairs
  // are worth q72's exact join. MinHash signatures of unions compose by
  // element-wise min, so the source signature folds out of the shingle
  // scan without ever materializing the union sets.
  // -------------------------------------------------------------------

  /** q130: (source_a, source_b, matching_perms, est_jaccard_permille)
    * for every source pair — est = matches·1000 div 16, the unbiased
    * MinHash estimate of union-Jaccard quantized to the report grid.
    *
    * Scale shape: ONE pass over the shingle scan (per-doc hashes,
    * scan-local as always) into a groupBy(source) whose 16 mins
    * partial-aggregate map-side — the shuffle moves one 16-value row
    * per (partition, source), never shingles; the pairwise matrix is a
    * self-join of the SOURCES-sized signature frame (thousands of rows
    * at web scale — driver-trivial, executor-trivial). The estimate's
    * ±1/√16 standard error is inherent to the 16-perm signature and
    * documented rather than hidden: this is a screen, not a measure. */
  def sourceMinhashMatrix(spark: SparkSession, sfDir: String,
                          bits: Int = DefaultHashBits): DataFrame = {
    val sh = shingleRows(spark, sfDir, bits)
    val hv32 = shiftrightunsigned(col("hv"), 32)
      .bitwiseXOR(col("hv").bitwiseAND(lit(0xffffffffL)))
    val aggs = Consts.MinhashParams.zipWithIndex.map { case ((a, b), i) =>
      min((hv32 * a + b) % Consts.MinhashPrime).as(s"mh$i")
    }
    val sig = sh.groupBy("source").agg(aggs.head, aggs.tail: _*)
    val perms = Consts.MinhashParams.indices
    val a = sig.select(col("source").as("source_a") +:
      perms.map(i => col(s"mh$i").as(s"a$i")): _*)
    val b = sig.select(col("source").as("source_b") +:
      perms.map(i => col(s"mh$i").as(s"b$i")): _*)
    val matches = perms.map(i =>
      when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L)).reduce(_ + _)
    a.join(b, col("source_a") < col("source_b"))
      .withColumn("matching_perms", matches)
      .withColumn("est_jaccard_permille",
        expr(s"matching_perms * 1000 div ${perms.size}"))
      .select("source_a", "source_b", "matching_perms", "est_jaccard_permille")
      .orderBy("source_a", "source_b")
  }

  def sourceMinhashMatrixSql: String = {
    val nPerms = Consts.MinhashParams.size
    val matchSum = (0 until nPerms).map(i =>
      s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH sets AS (
       |  SELECT doc_id, source, list_distinct([${shingleHashExpr("strpos", "md5(x)")} for x in s0]) AS s
       |  FROM (SELECT doc_id, source, $sqlShingles s0
       |        FROM (SELECT doc_id, source, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '') t FROM documents))),
       |exploded AS (SELECT source, unnest(s) AS hv FROM sets),
       |sig AS (SELECT source,
       |    $minColsSql
       |  FROM exploded GROUP BY source)
       |SELECT a.source AS source_a, b.source AS source_b,
       |  cast($matchSum as bigint) AS matching_perms,
       |  cast($matchSum as bigint) * 1000 // $nPerms AS est_jaccard_permille
       |FROM sig a JOIN sig b ON a.source < b.source
       |ORDER BY source_a, source_b""".stripMargin
  }

  // -------------------------------------------------------------------
  // q150: SimHash bit-bias audit — the entropy health check behind the
  // 16-bit signature family (Charikar 2002; Manku et al. 2007 run
  // 64-bit simhash dedup at Google on the premise that bits are
  // near-balanced). A bit whose corpus-wide ones-share sits far from
  // 500 permille carries little information: k biased bits shrink the
  // effective signature space below 2^16, which inflates q16/q17's
  // band-bucket sizes and mis-calibrates the Hamming threshold the
  // pair join verifies at. q136 MEASURED the resulting pair quality
  // (mean representative Jaccard 55 permille at Hamming 0 on this
  // corpus); this report explains the mechanism — a 31-token shared
  // vocabulary votes most bits the same way in every document — and is
  // the cheap audit a deployment runs before trusting simhash banding
  // on a new corpus.
  // -------------------------------------------------------------------

  /** q150: one row per signature bit: ones count, ones-permille, and
    * |ones - 500| bias. Effective entropy in milli-bits per bit would
    * need a log; the permille pair is the same information on the
    * integer grid (a bit at 500 is a full bit; at 0/1000 it is zero).
    *
    * Scale shape: signatures are scan-local (the q16 row-local kernel);
    * the audit is one 16-group aggregate with map-side combine — each
    * partition contributes 16 partial sums, so the shuffle is
    * partition-count-sized regardless of corpus size. */
  def simhashBitBias(spark: SparkSession, sfDir: String): DataFrame =
    simhashFrame(spark, sfDir)
      .select(col("simhash"),
        explode(sequence(lit(0L), lit(Consts.SimHashBits - 1L))).as("bit"))
      .groupBy("bit")
      .agg(count(lit(1)).as("n_docs"),
        sum(expr("(simhash >> CAST(bit AS INT)) & 1")).as("n_ones"))
      .withColumn("ones_permille", expr("n_ones * 1000 div n_docs"))
      .withColumn("bias_permille", expr("abs(ones_permille - 500)"))
      .select("bit", "n_docs", "n_ones", "ones_permille", "bias_permille")
      .orderBy("bit")

  def simhashBitBiasSql: String =
    s"""WITH sig AS (${simhashSql}),
       |b AS (SELECT simhash, unnest(range(${Consts.SimHashBits})) AS bit FROM sig)
       |SELECT cast(bit as bigint) AS bit, cast(count(*) as bigint) AS n_docs,
       |  cast(sum((simhash >> bit) & 1) as bigint) AS n_ones,
       |  cast(sum((simhash >> bit) & 1) as bigint) * 1000 // count(*) AS ones_permille,
       |  abs(cast(sum((simhash >> bit) & 1) as bigint) * 1000 // count(*) - 500) AS bias_permille
       |FROM b GROUP BY bit
       |ORDER BY bit""".stripMargin
}
