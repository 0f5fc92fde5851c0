package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-exponent measurement for the dedup family: the empirical
  * complement to PlanAuditSpec's plan-shape arguments. Plan audits pin
  * that q14/q49/q65/q74 SHOULD scale (banded joins, no nested loop, one
  * keyed shuffle); this main measures that they DO — wall time across
  * three corpus decades, log-log slope per decade, hard failure if any
  * top-decade slope exceeds [[Scaling.MaxExponent]] (a hidden n² term
  * would show as slope → 2 once fixed overhead stops dominating).
  *
  * The driver's testdata spans only one usable decade for `documents`
  * (sf0.01 = 500 docs, sf0.1 = 5 000 docs — sf0.001 duplicates
  * sf0.01's corpus, and there is no sf1), so the upper decades come
  * from deterministic amplification of sf0.1: replica r of each
  * document remaps `doc_id` and suffixes every word with `_r`, so
  * within-replica duplicate structure (shingle sets, band collisions,
  * cluster sizes) is IDENTICAL to the original corpus while replicas
  * share no shingles at all. Duplicate-family COUNT scales with the
  * factor; family SIZE — the thing that would quadratically inflate
  * pair output regardless of plan quality — stays constant, which is
  * precisely the regime a growing crawl corpus is in (more template
  * families, not bigger ones; the bigger-ones regime is what bandCap
  * and AQE skew-split guard). Output rows therefore scale linearly and
  * any super-linear TIME growth indicts the plan, not the workload.
  *
  * Usage: `sbt "runMain graft.Scaling"` — writes SCALING.md to the
  * repo root and exits nonzero on an exponent violation.
  */
object Scaling {
  /** Amplification factors: 5k, 40k, 320k docs (~1.5/12/96 MB text). */
  val Factors: Seq[Int] = Seq(1, 8, 64)
  /** Sub-quadratic gate on the top (least overhead-diluted) decade. */
  val MaxExponent = 1.3

  /** Shingle/gram hash width for the measured cells — the LIBRARY
    * default (64-bit), not the 32-bit oracle width (round 15, VERDICT
    * r14 item 2): scaling runs don't need DuckDB parity, and the
    * 32-bit width's birthday collisions at upper decades (~0.3%
    * output-row inflation at 440M distinct shingles) made output-row
    * accounting diverge from replica construction. */
  val ScalingBits: Int = graft.ops.Dedup.DefaultHashBits

  private val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q14_minhash_lsh" -> ((s, d) => graft.ops.Dedup.minhashLshPairs(s, d, ScalingBits)),
    "q15_jaccard_pairs" -> ((s, d) => graft.ops.Dedup.jaccardPairs(s, d, ScalingBits)),
    // round-15 served forms (VERDICT r14 item 1): pass 1 of min-of-2
    // pays the session-cached postings-artifact BUILD (untimed by the
    // min — the q105/q41 discipline); the recorded cell is the
    // formula pass over the materialized pair counts
    "q15_jaccard_served" -> ((s, d) => graft.ops.Dedup.jaccardPairsFromPostings(s, d, ScalingBits)),
    "q83_containment_served" -> ((s, d) => graft.ops.Dedup.containmentPairsFromPostings(s, d, ScalingBits)),
    "q49_dedup_clusters" -> ((s, d) => graft.ops.Dedup.nearDupClusters(s, d, ScalingBits)),
    "q65_dup_spans" -> ((s, d) => graft.ops.Dedup.dupSpans(s, d, ScalingBits)),
    // q65's enforcement half: positioned grams, keeper min-agg, cut-list
    // collapse, scan-local rebuild — cut volume is per-replica so output
    // stays linear in the factor
    "q115_dup_span_redact" -> ((s, d) => graft.ops.Dedup.dupSpanRedact(s, d, ScalingBits)),
    // scan-local sliding-min fingerprints + inverted-index pair join:
    // replicas share no grams, so fingerprint overlap (and the pair
    // report) is per-replica and output stays linear in the factor
    "q128_winnow_pairs" -> ((s, d) => graft.ops.Dedup.winnowPairs(s, d, ScalingBits)),
    "q74_dedup_survivors" -> ((s, d) => graft.ops.Dedup.dedupSurvivors(s, d, ScalingBits)),
    // same graph, different survivor rule: the quality join + max_by
    // argmax adds a members-sized keyed shuffle on top of q74's shape
    "q106_quality_survivors" -> ((s, d) => graft.ops.Dedup.qualitySurvivors(s, d, ScalingBits)),
    // the two remaining distinct join shapes in the family: the
    // distinct-(source,hv) inverted-index equi-join and the broadcast
    // admission check (incoming batch ~5% of corpus, both scale with
    // the factor). q17 is deliberately ABSENT: 16-bit simhash pair
    // output is quadratic by the birthday bound once n >> 2^16 — a
    // workload property, not a plan property; its scale path is the
    // signature-level grouping q16 feeds the CC family.
    "q72_source_overlap" -> ((s, d) => graft.ops.Dedup.sourceOverlap(s, d, ScalingBits)),
    // positioned-gram inverted-index join + per-(pair,diagonal) window:
    // replicas share no grams, so the matched-gram relation (and the
    // run report) is per-replica and output stays linear in the factor
    "q145_shared_runs" -> ((s, d) => graft.ops.Dedup.sharedRunPairs(s, d, ScalingBits)),
    // q14's edge set + star CC + two answer-sized keyed aggs: the audit
    // adds only cluster-frame work on top of the q49 shape
    "q146_cluster_cohesion" -> ((s, d) => graft.ops.Dedup.clusterCohesion(s, d, ScalingBits)),
    // the three-family union + one CC + provenance aggs: measures that
    // COMPOSING detectors scales like its slowest member, not their sum
    // times a blowup — replicas share nothing, so the union edge set
    // stays linear in the factor
    "q155_consensus_clusters" -> ((s, d) => graft.ops.Dedup.consensusClusters(s, d, ScalingBits)),
    // fp-keyed attribution join: replicas share no fingerprints, so the
    // S-bounded fan-out and the report both stay linear in the factor
    "q163_winnow_attribution" -> ((s, d) => graft.ops.Dedup.winnowAttribution(s, d, ScalingBits)),
    // the artifact-SERVED consumer reports (the persisted dedup graph's
    // serving half): pass 1 of min-of-2 pays the per-decade graph BUILD
    // (untimed by the min — the q105 discipline below), so these cells
    // measure what a 100-TB consumer actually pays per report: reading
    // answer-sized artifact relations plus the corpus's narrow
    // projections. The measured exponents are the amortization claim's
    // evidence — near-linear-in-corpus for q74 (one documents
    // projection), near-flat-in-corpus-size for the pure artifact reads
    "q74_survivors_served" -> ((s, d) => graft.ops.Dedup.dedupSurvivorsFromGraph(s, d, ScalingBits)),
    "q155_consensus_served" -> ((s, d) => graft.ops.Dedup.consensusClustersFromGraph(s, d, ScalingBits)),
    "q158_walks_served" -> ((s, d) => graft.ops.Dedup.dupGraphWalksFromGraph(s, d, ScalingBits)),
    // the lifecycle write path: wave verification (broadcast banded
    // probe + wave-sized self join) + artifact append + label read;
    // the wave (src0 docs) grows with the factor, so the cell should
    // stay linear in the corpus — measures that APPENDING scales, not
    // just serving
    "q165_graph_append" -> ((s, d) => graft.ops.Dedup.graphAppendReport(s, d, ScalingBits)),
    // the retrieval-eval pair, inline and served: inline pays relevance
    // regeneration (q14) + the broadcast-anchors scoring scan per eval;
    // the served forms read the persisted graph + eval-rankings
    // artifacts (preparedEvalScores — built untimed on pass 1 of
    // min-of-2, the artifact discipline), so their cells measure what a
    // recurring eval actually costs per run. The anchor set is CAPPED
    // (EvalQueries = 25) at every decade — the eval-harness contract —
    // so the inline cells grow with the corpus scan, the served cells
    // with the answer-sized rankings
    "q154_retrieval_eval" -> ((s, d) => graft.ops.Hybrid.retrievalEval(s, d, ScalingBits)),
    "q154_eval_served" -> ((s, d) => graft.ops.Hybrid.retrievalEvalFromGraph(s, d, ScalingBits)),
    "q161_training_triplets" -> ((s, d) => graft.ops.Hybrid.trainingTriplets(s, d, ScalingBits)),
    "q161_triplets_served" -> ((s, d) => graft.ops.Hybrid.trainingTripletsFromGraph(s, d, ScalingBits)),
    "q99_incremental_dedup" -> ((s, d) => graft.ops.Dedup.incrementalDedup(s, d, ScalingBits)),
    // the artifact-served admission: pass 1 of min-of-2 pays the
    // session-cached index BUILD (untimed by the min, the q41/q81
    // discipline), so the recorded cell is the pure serving read
    "q105_indexed_admission" -> ((s, d) => graft.ops.Dedup.incrementalDedupFromIndex(s, d, ScalingBits)),
    // the events-table member: cell cap and mutual-top-K are SCALE
    // CLAIMS (bounded per-cell fan-out, degree ≤ K by construction) —
    // measured here, not argued. Replica r suffixes event_type, so
    // cells never cross replicas: per-replica graph structure is
    // identical, pair volume and triangle work scale with the factor
    "q170_graph_triangles" -> ((s, d) => graft.ops.Events.coVisitTriangles(s, d)),
    // graph-served pairs x one split projection: pass 1 of min-of-2
    // pays the per-decade graph build (untimed by the min); the cell
    // measures what the audit costs per run — one doc_id projection
    // scan plus answer-sized edge joins
    "q177_split_leakage" -> ((s, d) => graft.ops.Sampling.splitLeakage(s, d)),
    // the admission-probe guard: wave (src0 replicas) grows with the
    // factor, the frozen-corpus build is pass-1/untimed, and the timed
    // work is the broadcast band probe + answer-sized edge tagging
    "q180_admission_split_guard" -> ((s, d) =>
      graft.ops.Dedup.admissionSplitGuard(s, d, ScalingBits)),
    // the pure top-k scan shape: one key-computing projection +
    // TakeOrderedAndProject — should be near-linear in the scan with a
    // tiny constant (the answer never grows)
    "q174_weighted_reservoir" -> ((s, d) => graft.ops.Sampling.weightedReservoir(s, d)),
    // materialized bigram table + vocabulary-keyed marginals (the q175
    // shape minus the source dimension); replicas suffix words so the
    // bigram vocabulary scales with the factor
    "q178_pmi_collocations" -> ((s, d) => graft.ops.TextAnalytics.pmiCollocations(s, d)),
    // one scan flatMap + (source, tok)-keyed fold; replica suffixes
    // scale the vocabulary with the factor
    "q182_heaps_law" -> ((s, d) => graft.ops.TextAnalytics.heapsLaw(s, d)),
    // stats fold + broadcast-joined pick: two corpus projections, the
    // allocation math answer-sized at every decade
    "q183_neyman_alloc" -> ((s, d) => graft.ops.Sampling.neymanAlloc(s, d)),
    // one token-count scan + per-source window + (source, rank)
    // equi-join: pair volume is n/2, everything keyed by source
    "q185_folded_packing" -> ((s, d) => graft.ops.TextAnalytics.foldedPacking(s, d)),
    // q94's two-scan surprisal floor + a materialized histogram whose
    // size is bounded by the milli value range, NOT the corpus — the
    // curricular math must stay flat across decades
    "q186_curriculum" -> ((s, d) => graft.ops.TextAnalytics.curriculumSchedule(s, d)),
    // ONE materialized corpus tokenize + vocabulary-sized model joins:
    // replicas suffix words, so the bigram vocabulary (and every model
    // table) scales with the factor while the source set stays fixed —
    // the single-corpus-pass claim is the thing measured
    "q175_kn_xent" -> ((s, d) => graft.ops.TextAnalytics.knBigramXent(s, d)),
    // aggregate-emission GSP: session fold + per-session supported-set
    // flatMap; replica event_type suffixes keep sessions and the
    // pattern vocabulary per-replica, so emission volume (bounded by
    // |E|^2+|E|^3 per session) scales with the factor — the no-join
    // emission claim is the thing measured
    "q176_seq_patterns" -> ((s, d) => graft.ops.Events.seqPatterns(s, d)),
    // ONE keyed corpus count; the trial fan-out and release join run on
    // the materialized histogram frame (key-domain-sized at every
    // decade) — the one-corpus-aggregation claim is the thing measured.
    "q189_dp_histogram" -> ((s, d) => graft.ops.Privacy.dpHistogram(s, d)),
    // measurable since the round-13 hierarchical-blocking refinement:
    // coarse (lang, length-band) blocks above LinkSplitThreshold
    // re-key by min-md5-token, so the amplified decades — where word
    // suffixes land whole replica GROUPS in shared bands but give each
    // replica a disjoint vocabulary — resolve back to per-replica
    // occupancy and pair volume stays linear in the factor. Before the
    // refinement this line was absent (the q17 precedent): merged
    // bands made pair volume quadratic by workload, then LinkBlockCap
    // dropped them outright at f=64. The timed work includes the
    // per-decade label build (dedupGraphEdges + star CC, the q155
    // composition discipline).
    "q190_fs_linkage" -> ((s, d) =>
      graft.ops.Privacy.fsLinkage(s, d, ScalingBits)),
    // the wave (src0 replicas) grows with the factor; verdicts are one
    // wave-keyed window + a broadcast of the QI-domain-sized frozen
    // count table — no corpus-sized shuffle join at any decade
    "q192_kanon_admission" -> ((s, d) => graft.ops.Privacy.kAnonAdmission(s, d)),
    // one tokenize scan + token-keyed count; replicas suffix words so
    // the vocabulary scales with the factor while the
    // frequency-of-frequencies frame stays O(sqrt N) — the downstream
    // window/regression must stay answer-sized
    "q194_good_turing" -> ((s, d) => graft.ops.TextAnalytics.goodTuring(s, d)),
    // one explode_outer scan materialized once; cf and the corpus
    // total broadcast; the per-doc fold is one keyed agg and the
    // report a physical top-k — full-QL semantics must not cost a
    // second corpus pass at any decade
    "q195_query_likelihood" -> ((s, d) => graft.ops.TextAnalytics.queryLikelihood(s, d)),
    // assignment is scan-local hashing; the corpus pays ONE user-keyed
    // agg (replica user remaps scale the user population with the
    // factor), arms/test are 2-row/1-row broadcasts.
    // Remaining round-12 absentees, each justified: q191 (Mondrian)
    // reads the customer registry table, outside the documents/events
    // amplification harness — the q188 situation; q196 (RBO) is
    // answer-sized over the two rankers' top-k lists from q154's
    // measured artifact; q198 (CUPED) and q200 (SRM) share q197's
    // single events-scan + user-keyed-agg shape measured here; q199 is
    // q197's streaming twin, spec-proven row-identical per batch, so
    // the batch shape is the one measured
    "q197_ab_readout" -> ((s, d) => graft.ops.Events.abReadout(s, d)))

  /** Replica-suffix amplification (see class doc). Factor 1 is a
    * byte-identical rewrite of the source corpus so every factor's
    * input went through the same writer (file count, encoding, row
    * order) and timings compare like for like. */
  private[graft] def amplified(spark: SparkSession, srcDir: String, factor: Int): DataFrame = {
    val base = graft.core.Tables.documents(spark, srcDir)
    // same replica-collision guard as amplifiedEvents
    if (factor > 1) {
      val mx = base.agg(max(col("doc_id"))).head()
      require(mx.isNullAt(0) || mx.getLong(0) < 10000000L,
        s"amplifiedDocuments offset too small for source ids " +
          s"(max doc_id=${mx.get(0)}): replicas would collide")
    }
    val reps = spark.range(factor).toDF("r")
    base.crossJoin(broadcast(reps))
      .select(
        (col("doc_id") + col("r") * lit(10000000L)).as("doc_id"),
        when(col("r") === 0, col("text")).otherwise(
          array_join(transform(split(col("text"), " "),
            w => concat(w, lit("_"), col("r"))), " ")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")))
  }

  /** Events-table amplification for the co-visit family: replica r
    * remaps `user_id` and `event_id` and suffixes `event_type`, so
    * activity CELLS never cross replicas — per-replica co-visit graph
    * structure is identical to the source corpus while pair volume
    * scales with the factor (the more-communities regime, matching the
    * documents amplification's more-template-families regime). */
  private[graft] def amplifiedEvents(spark: SparkSession, srcDir: String, factor: Int): DataFrame = {
    val base = graft.core.Tables.events(spark, srcDir)
    // the fixed remap offsets silently MERGE users/events across
    // replicas if a source corpus ever carries ids at or above them —
    // which would break the per-replica-isolation property the scaling
    // exponents are measured under. Fail loudly instead (one tiny agg
    // on an offline probe).
    if (factor > 1) {
      val mx = base.agg(max(col("event_id")), max(col("user_id"))).head()
      require(mx.isNullAt(0) || (mx.getLong(0) < 100000000L && mx.getLong(1) < 10000000L),
        s"amplifiedEvents offsets too small for source ids " +
          s"(max event_id=${mx.get(0)}, max user_id=${mx.get(1)}): replicas would collide")
    }
    val reps = spark.range(factor).toDF("r")
    base.crossJoin(broadcast(reps))
      .select(
        (col("event_id") + col("r") * lit(100000000L)).as("event_id"),
        col("ts"),
        (col("user_id") + col("r") * lit(10000000L)).as("user_id"),
        when(col("r") === 0, col("event_type"))
          .otherwise(concat(col("event_type"), lit("_"), col("r"))).as("event_type"),
        col("value"), col("props"))
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outMd = if (args.length > 1) args(1) else "SCALING.md"
    // dev-loop knobs (same contract as Bench's SPARK_GRAFT_ONLY): run a
    // query subset and/or different amplification decades — used for
    // the winnow family's fourth-decade measurement without re-timing
    // the whole family
    val factors = sys.env.get("SPARK_GRAFT_SCALING_FACTORS")
      .map(_.split(",").toSeq.map(_.trim.toInt)).getOrElse(Factors)
    val only = sys.env.get("SPARK_GRAFT_SCALING_ONLY").map(_.split(",").toSet)
    val queriesRun = queries.filter { case (n, _) => only.forall(_.contains(n)) }
    // a real cluster scales partition count with the corpus; the
    // fixed-32 default here means upper decades run with growing
    // per-task working sets — -Dspark.sql.shuffle.partitions=N
    // separates that measurement-regime effect from true plan growth
    val spark = Harness.session(Harness.Batch, master = "local[32]",
      shufflePartitions = "32")

    // warm-cell discipline (round 15, VERDICT r14 item 3): the first
    // timed cells after an untimed multi-GB tmpfs corpus write read
    // 2-6× high (q15 f=64: 64.1 s vs 9.7 s same day) — memory-reclaim
    // pressure from the write, not the plan — which poisons
    // cross-session absolute comparisons. Two remedies, compounding:
    //  - SPARK_GRAFT_SCALING_CORPUS_DIR pins the corpora to a FIXED
    //    path and reuses decades already on disk, so a measurement
    //    session performs no big writes at all (the verdict's
    //    "separate corpus-generation from measurement sessions");
    //    SPARK_GRAFT_SCALING_MODE=generate writes them and exits.
    //  - any decade this session DID write gets an untimed read-through
    //    settle pass (below) before timing starts.
    val corpusRoot = sys.env.get("SPARK_GRAFT_SCALING_CORPUS_DIR")
    val generateOnly = sys.env.get("SPARK_GRAFT_SCALING_MODE").contains("generate")
    val root = corpusRoot
      .map(p => { java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p)) })
      .getOrElse(java.nio.file.Files.createTempDirectory(
        graft.streaming.StreamScratch.root, "graft_scaling"))

    // corpus decades, written once (untimed — index/ingest build half);
    // a decade already complete under a pinned corpus root is reused
    def complete(dir: String): Boolean =
      java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$dir/documents.parquet/_SUCCESS")) &&
      java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$dir/events.parquet/_SUCCESS"))
    var wroteAny = false
    val dirs = factors.map { f =>
      val dir = root.resolve(s"f$f").toString
      if (!(corpusRoot.isDefined && complete(dir))) {
        // ~32MB target files so the scan-side split count grows with the
        // corpus the way a real ingest's would
        val parts = math.max(1, f / 8)
        amplified(spark, srcDir, f).repartition(parts)
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        amplifiedEvents(spark, srcDir, f).repartition(parts)
          .write.mode("overwrite").parquet(s"$dir/events.parquet")
        wroteAny = true
      }
      val n = spark.read.parquet(s"$dir/documents.parquet").count()
      (f, dir, n)
    }
    if (generateOnly) {
      println(s"scaling: generated ${dirs.size} corpus decades under $root; exiting (generate mode)")
      spark.stop()
      return
    }
    if (wroteAny) {
      // settle: page every decade back through the scan path (untimed)
      // and let the JVM shed the write-side garbage before any cell is
      // timed — the same-session mitigation for the write distortion
      dirs.foreach { case (_, dir, _) =>
        spark.read.parquet(s"$dir/documents.parquet").count()
        spark.read.parquet(s"$dir/events.parquet").count()
      }
      System.gc()
    }

    def timeOne(fn: (SparkSession, String) => DataFrame, dir: String): (Double, Long) = {
      // min-of-2 with cache release between passes: Bench's discipline
      val runs = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val rows = fn(spark, dir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        graft.ops.Materialize.release(spark)
        (sec, rows)
      }
      (runs.map(_._1).min, runs.head._2)
    }

    // JIT warmup on the smallest decade so factor-1 timings aren't
    // charged for codegen compilation; a query that fails here would
    // fail its timed cells too, so the run ends now, naming it
    queriesRun.foreach { case (name, fn) =>
      try fn(spark, dirs.head._2).count()
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"scaling: warm-up of $name FAILED: $e")
          spark.stop(); sys.exit(1)
      }
      graft.ops.Materialize.release(spark)
    }

    val rows = queriesRun.map { case (name, fn) =>
      val times = dirs.map { case (f, dir, n) =>
        val (sec, outRows) = timeOne(fn, dir)
        println(f"  $name f=$f%-3d n=$n%-7d ${sec}%7.3f s  out=$outRows")
        (f, n, sec, outRows)
      }
      val exps = times.sliding(2).map { case Seq((_, n1, t1, _), (_, n2, t2, _)) =>
        math.log(t2 / t1) / math.log(n2.toDouble / n1.toDouble)
      }.toSeq
      (name, times, exps)
    }

    // headers derive from the MEASURED corpus sizes, so a run against a
    // different srcDir never publishes exponents attributed to corpus
    // sizes it did not time
    def fmtN(n: Long): String =
      if (n % 1000 == 0 && n >= 1000) s"${n / 1000}k" else n.toString
    val ns = dirs.map(_._3)
    val baseN = ns.head
    val sb = new StringBuilder
    sb ++= "# SCALING — measured growth exponents for the dedup family\n\n"
    sb ++= s"Generated by `sbt \"runMain graft.Scaling\"` on ${java.time.LocalDate.now} " +
      s"(local[32], min-of-2 per cell, shared caches released between passes).\n\n"
    sb ++= s"Corpus decades are deterministic amplifications of `$srcDir`'s `documents` " +
      s"($baseN docs): replica r remaps `doc_id` and suffixes every word with `_r`, " +
      "so duplicate-family structure is constant and family count scales with the " +
      "factor — the growing-crawl regime. The events table amplifies alongside " +
      "(replica r remaps user_id/event_id and suffixes event_type, so activity " +
      "cells never cross replicas — the more-communities regime for the " +
      "co-visit family). Output rows are per-replica sums " +
      "(pairs never cross replicas — spec-pinned), so they grow linearly in the " +
      "factor and any super-linear TIME growth indicts the plan. " +
      "`exp` is the log-log slope between adjacent corpus sizes; the gate is " +
      s"top-decade slope ≤ $MaxExponent (an O(n²) join would converge on 2).\n\n"
    sb ++= "| query | " + ns.map(n => s"n=${fmtN(n)}").mkString(" | ") + " | " +
      ns.sliding(2).map { case Seq(a, b) => s"exp ${fmtN(a)}→${fmtN(b)}" }
        .mkString(" | ") +
      s" | out rows @${fmtN(ns.last)} |\n"
    sb ++= "|" + ("---|" * (ns.size * 2)) + "---|\n"
    var fail = false
    rows.foreach { case (name, times, exps) =>
      val cells = times.map { case (_, _, sec, _) => f"$sec%.2f s" }.mkString(" | ")
      val expCells = exps.map(e => f"$e%.2f").mkString(" | ")
      val lastOut = times.last._4
      sb ++= s"| $name | $cells | $expCells | $lastOut |\n"
      if (exps.last > MaxExponent) { fail = true }
    }
    sb ++= s"\nThe low first-decade slopes are fixed Spark job/stage overhead still " +
      s"dominating at ${fmtN(baseN)} docs; the top decade is the honest signal. " +
      "All shapes are pinned by PlanAuditSpec, so these exponents can rot only if " +
      "the plans do.\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(outMd),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(sb.toString)

    // scratch corpora are throwaway; a PINNED corpus root persists for
    // the next measurement session (that persistence is its point)
    if (corpusRoot.isEmpty) try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(p => { java.nio.file.Files.deleteIfExists(p); () })
    } catch {
      // the walk wraps its I/O failures unchecked
      case _: java.io.IOException | _: java.io.UncheckedIOException => ()
    }
    spark.stop()
    if (fail) {
      System.err.println(s"scaling: top-decade exponent above $MaxExponent")
      sys.exit(1)
    }
  }
}
