package graft

import graft.ops.{Dedup, Relational, Sampling, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.PosExplode
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Physical-plan audits: these pin the SHAPE properties the 100 TB
  * design depends on, so a regression that silently turns a
  * broadcast into a shuffle (or drops a pushed filter) fails a spec,
  * not just a benchmark.
  */
class PlanAuditSpec extends SparkSpec {

  private def executed(df: DataFrame): String = {
    df.collect() // let AQE settle
    flatten(df.queryExecution.executedPlan).mkString("\n")
  }

  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val next = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: next.flatMap(flatten)
  }

  private def shuffleCount(df: DataFrame): Int = {
    df.collect()
    flatten(df.queryExecution.executedPlan)
      .count(_.isInstanceOf[ShuffleExchangeLike])
  }

  test("q2: filters and column pruning reach the parquet scan") {
    val df = Relational.revenueFilter(spark, sf0001)
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("l_shipdate"),
      s"predicate not pushed:\n$scan")
    // the scan must not read columns the query never touches
    assert(!scan.contains("l_comment") && !scan.contains("l_shipmode"),
      s"column pruning failed:\n$scan")
  }

  test("q19/q20: per-query top-k is pruned BEFORE the shuffle (WindowGroupLimit)") {
    for (df <- Seq(Similarity.knnBruteForce(spark, sf0001),
                   Similarity.lshKnn(spark, sf0001))) {
      val plan = executed(df)
      assert(plan.contains("WindowGroupLimit"),
        s"partial top-k missing — the full candidate set would shuffle:\n$plan")
    }
  }

  test("q13: exact dedup aggregates map-side before its single shuffle") {
    val df = Dedup.exactDedup(spark, sf0001)
    val plan = executed(df)
    // partial + final aggregate pair around the exchange
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
    // one shuffle for the groupBy, one for the presentation sort — no more
    assert(shuffleCount(df) <= 2, s"unexpected extra shuffles:\n$plan")
  }

  test("q50/q51: hash split and stratified sample are scan + one aggregation") {
    // the assignment predicate is map-side; only the tiny per-split /
    // per-stratum aggregate (and its presentation sort) may shuffle
    assert(shuffleCount(Sampling.hashSplit(spark, sf0001)) <= 2)
    assert(shuffleCount(Sampling.stratifiedSample(spark, sf0001)) <= 2)
  }

  test("q57: binned interval join is an equi-join, equals the theta-join formulation") {
    import org.apache.spark.sql.functions._
    // BOTH scale factors: sf0.001's matches all cross a bin boundary
    // (probe = previous bin), sf0.01 also has same-bin matches — the
    // two probe arms are each exercised
    for (sf <- Seq(sf0001, sf001)) {
      val binned = graft.ops.Events.clickErrorInterval(spark, sf)
      val ev = graft.core.Tables.events(spark, sf)
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), unix_micros(col("ts")).as("cus"))
      val e = ev.filter(col("event_type") === "error")
        .select(col("user_id").as("u2"), col("event_id").as("error_id"), unix_micros(col("ts")).as("eus"))
      val naive = e.join(c, col("u2") === col("user_id") &&
          col("cus") > col("eus") - graft.ops.Events.IntervalUs &&
          col("cus") <= col("eus"))
        .select(col("user_id"), col("error_id"), col("click_id"), (col("eus") - col("cus")).as("gap_us"))
      assert(binned.exceptAll(naive).count() == 0, s"binned-only rows at $sf")
      assert(naive.exceptAll(binned).count() == 0, s"naive-only rows at $sf")
    }
    val binned = graft.ops.Events.clickErrorInterval(spark, sf0001)
    // and the binned plan has NO nested-loop join
    binned.collect()
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    assert(!this.flatten(binned.queryExecution.executedPlan)
      .exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      binned.queryExecution.executedPlan.toString)
  }

  test("q14 bandCap: the bucket-size window rides the band join's own exchange — no extra shuffle") {
    // at scale the band self-join is a sort-merge join; disable the
    // broadcast path so the audited shape is the scale-representative
    // one. The capped plan's count-window partitions by exactly the
    // join key (band_idx, band_hash), so the window's exchange IS the
    // join's exchange — same shuffle count as the uncapped plan.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val uncapped = shuffleCount(Dedup.minhashLshPairs(spark, sf0001))
      val capped = shuffleCount(
        Dedup.minhashLshPairs(spark, sf0001, bandCap = Some(1 << 20)))
      assert(capped == uncapped,
        s"bandCap changed the shuffle count: $uncapped -> $capped")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q16: signatures are scan-local; the kernel baseline keeps its fused projection") {
    // the default computes each doc's signature inside the scan
    // projection — no token-stream shuffle at all
    val df = Dedup.simhash(spark, sf0001)
    val plan = executed(df)
    assert(plan.contains("MapPartitions"), plan)
    assert(!plan.contains("substring"), s"string-walk formulation crept back:\n$plan")
    // the kernel formulation (streaming's per-batch shape) still runs
    // NibbleHighMask once per token with map-side partial sums, and
    // agrees bit-for-bit with the scan-local default
    val kernel = Dedup.simhashFrameKernel(spark, sf0001)
    val kplan = executed(kernel)
    assert("nibblehighmask".r.findAllIn(kplan.toLowerCase).size >= 1, kplan)
    assert(kplan.contains("partial_sum"), kplan)
    assert(kernel.orderBy("doc_id").collect().toSeq ==
      df.collect().toSeq, "kernel and scan-local signatures diverged")
  }

  test("simhashClusters: signature-level edges join by band equality, never a nested loop") {
    val df = Dedup.simhashClusters(spark, sf0001)
    val plan = executed(df)
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"banded signature join degenerated to a nested loop:\n$plan")
    // output is one row per document
    assert(df.count() == Dedup.simhash(spark, sf0001).count())
  }

  test("q65: the gram table materializes once and feeds both shuffles") {
    val df = Dedup.dupSpans(spark, sf0001)
    val plan = executed(df)
    // the frequency aggregate AND the occurrence join must both read
    // the shared cache, not re-run the flatMap lineage
    assert("InMemoryTableScan".r.findAllIn(plan).size >= 2,
      s"gram table not shared across consumers:\n$plan")
    graft.ops.Materialize.release(spark)
  }

  test("q66/q67: assignment is scan-local; anchors broadcast; corpus never shuffles for them") {
    val sem = executed(Similarity.semanticDedup(spark, sf0001))
    // centroid assignment runs INSIDE the scan projection (typed map
    // over the broadcast k-row centroid value) — no vid-keyed window
    // shuffle, no assignment join
    assert(sem.contains("MapPartitions"), s"assignment lost its scan-local map:\n$sem")
    assert(!sem.contains("WindowGroupLimit"),
      s"a per-vid window crept back into assignment:\n$sem")
    val hn = Similarity.hardNegatives(spark, sf0001)
    val hnPlan = executed(hn)
    assert(hnPlan.contains("BroadcastNestedLoopJoin"),
      s"anchor set must broadcast (label predicate is non-equi):\n$hnPlan")
    // per-query top-k prunes before the rank shuffle
    assert(hnPlan.contains("WindowGroupLimit"), hnPlan)
  }

  test("q69: per-doc top-k is local — broadcast df join, no window shuffle of the token stream") {
    val plan = executed(graft.ops.TextAnalytics.tfidfKeywords(spark, sf0001))
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the declarative baseline keeps its pre-shuffle top-k prune
    val wplan = executed(graft.ops.TextAnalytics.tfidfKeywordsWindowed(spark, sf0001))
    assert(wplan.contains("WindowGroupLimit"), wplan)
  }

  test("q66: a one-mega-cluster skew stays tiled — no row-payload join keyed on cid alone") {
    // deliberately skewed quantizer: every non-centroid vector sits on
    // centroid 0's direction, so ONE cluster holds ~all rows (three
    // NearDupBlock blocks' worth). The old row-level pair join would
    // put the whole |c|^2 on a single cid key (one straggler task);
    // the tiled plan's only cid-keyed join is the block-id tile
    // enumeration, which carries no vector payloads.
    import spark.implicits._
    val dim = 8
    val rnd = new scala.util.Random(11)
    val n = 2600L
    val rows = (0L until n).map { id =>
      val v: Array[Float] =
        if (id == 0L) { val a = Array.fill(dim)(0f); a(0) = 1f; a }
        else if (id < Similarity.NCentroids) {
          val a = Array.fill(dim)(0f); a(id.toInt % dim) = -1f; a(0) = -0.5f; a
        } else Array.tabulate(dim)(d =>
          (if (d == 0) 1f else 0f) + (rnd.nextFloat() - 0.5f) * 0.05f)
      (id, v, (id % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
    val tmp = java.nio.file.Files.createTempDirectory("semskew")
    rows.write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val got = Similarity.semanticDedup(spark, tmp.toString)
    got.collect()
    // the hot cluster really formed
    val hot = got.groupBy("cid").count()
      .orderBy(org.apache.spark.sql.functions.desc("count")).collect().head
    assert(hot.getLong(1) >= n - Similarity.NCentroids, s"skew probe did not skew: $hot")
    // results match the row-join baseline on the skewed data
    val base = Similarity.semanticDedupPairwise(spark, tmp.toString)
    assert(got.exceptAll(base).count() == 0 && base.exceptAll(got).count() == 0)
    // plan audit: any equi-join keyed on cid ALONE must carry only
    // cluster/block ids — vector payloads attach via (cid, block) joins
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    flatten(got.queryExecution.executedPlan).collect { case j: BaseJoinExec => j }
      .filter(j => j.leftKeys.length == 1 &&
        j.leftKeys.head.references.map(_.name.toLowerCase).toSeq == Seq("cid"))
      .foreach { j =>
        val out = j.output.map(_.name.toLowerCase)
        assert(out.forall(c => c.startsWith("cid") || c.startsWith("bid") ||
            c.startsWith("ba") || c.startsWith("bb")),
          s"cid-keyed join carries row payloads (straggler shape): $out")
      }
  }

  test("q83: containment candidates ride the sparse equi-join, never a nested loop") {
    val plan = executed(Dedup.containmentPairs(spark, sf0001))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("q85: BM25 top-k is physical top-k (TakeOrdered), stats and df broadcast") {
    val plan = executed(graft.ops.TextAnalytics.bm25Search(spark, sf0001))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q86: every funnel stage pushes its event_type predicate into the scan") {
    val plan = executed(graft.ops.Events.funnelStages(spark, sf0001))
    assert(plan.contains("PushedFilters") && plan.contains("event_type"), plan)
  }

  test("q87: the only corpus shuffle is the per-cluster ranking window (keyed by cid)") {
    val df = Similarity.prototypeScores(spark, sf0001)
    val plan = executed(df)
    // assignment + centroid re-join are broadcast: no shuffle carries
    // the vector payloads except the cid-keyed window and final sort
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(shuffleCount(df) <= 2, s"expected window + output sort only:\n$plan")
  }

  test("q18: only the bid-only tile enumeration is a nested loop; payloads ride equi-joins") {
    val df = Similarity.nearDupPairs(spark, sf0001)
    val plan = executed(df)
    // the quadratic block-pair enumeration (bid <= bid) must touch ONLY
    // the tiny bid column — block payloads attach afterwards through
    // equi-joins, which AQE is free to broadcast at this SF (they
    // become shuffle joins once the size stats exceed the threshold)
    val nlj = flatten(df.queryExecution.executedPlan)
      .filter(_.nodeName.contains("BroadcastNestedLoopJoin"))
    assert(nlj.nonEmpty, s"expected the bid-only tile cross join:\n$plan")
    nlj.foreach { j =>
      val out = j.output.map(_.name)
      assert(out.forall(_.startsWith("bid")),
        s"nested loop must carry only bid columns, got $out:\n$plan")
    }
  }

  test("q92/q95: gate and datacard are scan-local — no join, bounded shuffles") {
    val gate = graft.ops.TextAnalytics.gopherGate(spark, sf0001)
    val gatePlan = executed(gate)
    assert(!gatePlan.contains("Join"), s"q92 must not join:\n$gatePlan")
    // only the presentation sort moves data
    assert(shuffleCount(gate) <= 1, s"q92 expected sort-only shuffle:\n$gatePlan")
    val card = graft.ops.TextAnalytics.sourceDatacard(spark, sf0001)
    val cardPlan = executed(card)
    assert(!cardPlan.contains("Join"), s"q95 must not join:\n$cardPlan")
    // expand-based count-distinct keyed by source + final sort; the
    // corpus text never rides a shuffle (projection strips it first)
    assert("HashAggregate".r.findAllIn(cardPlan).size >= 2, cardPlan)
    assert(!cardPlan.contains("text#") ||
      !flatten(card.queryExecution.executedPlan)
        .filter(_.isInstanceOf[ShuffleExchangeLike])
        .exists(_.output.exists(_.name == "text")),
      s"q95 shuffles raw text:\n$cardPlan")
  }

  test("q99: admission joins are equi/broadcast — the incoming batch is the build side, never a nested loop") {
    val df = Dedup.incrementalDedup(spark, sf0001, Dedup.OracleHashBits)
    val plan = executed(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"q99 degenerated to a non-equi join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"q99 lost its broadcast shape:\n$plan")
  }

  test("q105: index-served admission keeps q99's join shapes and reads the artifact via plain file scans (no corpus recompute)") {
    val df = Dedup.incrementalDedupFromIndex(spark, sf0001, Dedup.OracleHashBits)
    val plan = executed(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"q105 degenerated to a non-equi join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"q105 lost its broadcast shape:\n$plan")
    // the reference side must be artifact SCANS: all three projections
    // appear as parquet file scans on the index path, and the corpus
    // parquet itself is never read
    val idxPath = Dedup.preparedDedupIndex(spark, sf0001, Dedup.OracleHashBits)
    val idxTag = idxPath.stripPrefix("/tmp/")
    Seq("hashes", "banded", "sets").foreach(p =>
      assert(plan.contains(s"$idxTag/$p"), s"q105 must scan $p from the artifact:\n$plan"))
    // the only documents.parquet scans are the incoming batch's own —
    // every one carries the pushed source=src0 predicate; an unfiltered
    // corpus scan would mean the artifact did not replace the freeze
    plan.split('\n').filter(l =>
        l.contains("Scan parquet") && l.contains("documents.parquet"))
      .foreach(l => assert(l.contains(Dedup.IncrementalSource),
        s"q105 scans the corpus without the incoming-source pushdown:\n$l"))
  }

  test("q203/q204: postings-served overlap reports read the artifact only — no corpus scan, no shingle kernel") {
    // the amortization claim as a checkable plan property: the served
    // forms must contain parquet scans of the artifact's pairs/ and
    // sizes/ relations and NOTHING that re-derives them — no
    // documents.parquet scan (the MD5 shingle pass lives at build
    // time) and no MapPartitions posting kernel
    for ((name, df) <- Seq(
        "q203" -> Dedup.jaccardPairsFromPostings(spark, sf0001, Dedup.OracleHashBits),
        "q204" -> Dedup.containmentPairsFromPostings(spark, sf0001, Dedup.OracleHashBits))) {
      val plan = executed(df)
      val idxPath = Dedup.preparedOverlapPostings(spark, sf0001, Dedup.OracleHashBits)
      val idxTag = idxPath.stripPrefix("/tmp/")
      Seq("pairs", "sizes").foreach(p =>
        assert(plan.contains(s"$idxTag/$p"), s"$name must scan $p from the artifact:\n$plan"))
      assert(!plan.contains("documents.parquet"),
        s"$name re-scanned the corpus the artifact exists to amortize:\n$plan")
      assert(!plan.contains("MapPartitions"),
        s"$name re-ran a typed detector kernel at serve time:\n$plan")
    }
  }

  test("q103: benchmark broadcasts; the corpus shingle stream crosses the network once (no countDistinct double exchange)") {
    val df = Dedup.multiDecontamination(spark, sf0001, Dedup.OracleHashBits)
    val plan = executed(df)
    assert(plan.contains("BroadcastHashJoin"), s"bench side must broadcast:\n$plan")
    // the suite pivot must ride map-side partial aggregation straight
    // to a doc_id-keyed exchange; a countDistinct-style expand plan
    // would add a (doc_id, hv)-keyed exchange of the full table
    assert(!plan.contains("Expand"), s"expand = countDistinct crept back:\n$plan")
    assert(shuffleCount(df) <= 4,
      s"expected doc-keyed agg + size join + sort only:\n$plan")
  }

  test("q93/q94: graph and LM joins are equi/broadcast — never a nested loop") {
    val pr = Dedup.pagerankIter(spark, sf0001, Dedup.OracleHashBits)
    val prPlan = executed(pr)
    assert(!prPlan.contains("NestedLoop") && !prPlan.contains("CartesianProduct"),
      s"q93 degenerated to a nested loop:\n$prPlan")
    val sup = graft.ops.TextAnalytics.surprisalScores(spark, sf0001)
    val supPlan = executed(sup)
    // cf table joins back BROADCAST (vocabulary-sized); the one-row
    // corpus total is the only nested-loop (it carries a single row)
    assert(supPlan.contains("BroadcastHashJoin"),
      s"q94 cf join must broadcast:\n$supPlan")
    flatten(sup.queryExecution.executedPlan)
      .filter(_.nodeName.contains("BroadcastNestedLoopJoin"))
      .foreach { j =>
        val out = j.output.map(_.name)
        assert(out.contains("n_total"),
          s"q94 nested loop beyond the scalar total, carries $out:\n$supPlan")
      }
  }

  test("q106: per-cluster argmax is partial-aggregating max_by — no window sorts a cluster") {
    val df = Dedup.qualitySurvivors(spark, sf0001, Dedup.OracleHashBits)
    val plan = executed(df)
    // a web-scale template family is one huge cluster: a window would
    // sort it on one task; map-side-combined max_by must win instead
    assert(!plan.contains("Window"), s"cluster argmax fell back to a window:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("q107: CMS cells broadcast to the check join; the token stream never sort-merges") {
    val df = graft.ops.Sketches.cmsTokensChecked(spark, sf0001)
    val plan = executed(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"the <=4096-cell table must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"cell lookup degenerated to a sort-merge join:\n$plan")
    // cells agg + exact-count agg + presentation sort — nothing else
    assert(shuffleCount(df) <= 3, s"unexpected extra exchange:\n$plan")
  }

  test("q108: semantic decontam is one corpus scan — no join, only the final sort shuffles") {
    val df = Similarity.semanticDecontam(spark, sf0001)
    val plan = executed(df)
    assert(!plan.contains("Join"),
      s"the broadcast-array argmax must not plan a join:\n$plan")
    assert(shuffleCount(df) == 1,
      s"expected only the presentation sort's exchange:\n$plan")
  }

  test("served graph consumers read artifacts only — no typed detector kernel in any plan") {
    // the whole point of the persisted dedup graph: a consumer report's
    // executed plan must contain parquet scans + joins/aggs, and NEVER a
    // typed mapPartitions stage (the shingle/md5/winnow kernels all run
    // through DeserializeToObject -> MapPartitions -> SerializeFromObject;
    // their presence means the query is regenerating candidates)
    val b = Dedup.OracleHashBits
    val served: Seq[(String, DataFrame)] = Seq(
      "q74" -> Dedup.dedupSurvivorsFromGraph(spark, sf0001, b),
      "q91" -> Dedup.clusterSplitFromGraph(spark, sf0001, b),
      "q93" -> Dedup.pagerankIterFromGraph(spark, sf0001, b),
      "q106" -> Dedup.qualitySurvivorsFromGraph(spark, sf0001, b),
      "q133" -> Dedup.qualityDupAuditFromGraph(spark, sf0001, b),
      "q146" -> Dedup.clusterCohesionFromGraph(spark, sf0001, b),
      "q152" -> Dedup.crossSourceMatrixFromGraph(spark, sf0001, b),
      "q155" -> Dedup.consensusClustersFromGraph(spark, sf0001, b),
      "q158" -> Dedup.dupGraphWalksFromGraph(spark, sf0001, b),
      "q159" -> Dedup.dupLossWeightsFromGraph(spark, sf0001, b))
    served.foreach { case (name, df) =>
      val plan = executed(df)
      assert(!plan.contains("MapPartitions"),
        s"$name's serving plan recomputes a detector kernel:\n$plan")
      assert(!plan.contains("DeserializeToObject"),
        s"$name's serving plan enters typed execution:\n$plan")
    }
    // and the kernel frame itself DOES carry the marker the audit greps
    // for — asserted on the logical plan, because the inline consumers
    // checkpoint-truncate their lineage before the final plan, hiding
    // the kernel from an executed-plan grep
    val kernelPlan = Dedup.docShingleSummary(spark, sf0001, b)
      .queryExecution.optimizedPlan.toString
    assert(kernelPlan.contains("MapPartitions") ||
        kernelPlan.contains("DeserializeToObject"),
      s"audit lost its discrimination — kernel marker changed:\n$kernelPlan")
  }

  test("q165 wave verification: the wave broadcasts into the index probe — postings never sort-merge") {
    val b = Dedup.OracleHashBits
    val idx = Dedup.loadDedupIndex(spark,
      Dedup.preparedDedupIndex(spark, sf0001, b))
    val wave = graft.core.Tables.documents(spark, sf0001)
      .filter(org.apache.spark.sql.functions.col("source") === Dedup.IncrementalSource)
      .select("doc_id", "source", "text")
    val plan = executed(Dedup.admissionPairs(wave, idx, b))
    assert(plan.contains("BroadcastHashJoin"),
      s"the wave's banded postings must broadcast into the corpus probe:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"candidate generation degenerated to a corpus-side sort-merge join:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"nested-loop candidate generation:\n$plan")
  }

  test("q165/q166 append: pairs/ is repartitioned by bucket right above its partitioned write") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.CommandResultExec
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    def under(p: SparkPlan): Seq[SparkPlan] = p match {
      case c: CommandResultExec => under(c.commandPhysicalPlan)
      case other => flatten(other)
    }
    val pairsWrites = new java.util.concurrent.ConcurrentLinkedQueue[Seq[SparkPlan]]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit =
        under(qe.executedPlan).foreach {
          case w: DataWritingCommandExec => w.cmd match {
            // the wave append, not the graph build's overwrite
            case i: InsertIntoHadoopFsRelationCommand
                if i.outputPath.toString.endsWith("/pairs") &&
                  i.mode == org.apache.spark.sql.SaveMode.Append =>
              pairsWrites.add(under(w.child))
            case _ =>
          }
          case _ =>
        }
      override def onFailure(fn: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Dedup.graphAppendReport(spark, sf0001, Dedup.OracleHashBits)
      // the execution-listener bus is async: poll briefly
      val deadline = System.nanoTime() + 10000000000L
      while (pairsWrites.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      assert(!pairsWrites.isEmpty, "no pairs/ write was observed")
      val exchanges = pairsWrites.peek().collect { case e: ShuffleExchangeLike => e }
      // one exchange under the write (the wave is checkpointed), and it
      // is the bucket repartition: each task writes only its buckets
      assert(exchanges.length == 1, s"pairs/ write is not one repartition:\n${pairsWrites.peek().mkString("\n")}")
      exchanges.head.outputPartitioning match {
        case h: HashPartitioning =>
          assert(h.numPartitions == Dedup.GraphPairBuckets.toInt)
          assert(h.expressions.flatMap(_.references.map(_.name)) == Seq("bucket"),
            s"pairs/ repartition is not keyed on bucket: $h")
        case other => fail(s"pairs/ write is not hash-repartitioned by bucket: $other")
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("q168: queries broadcast into the candidate scan; pool top-C prunes before its shuffle") {
    val df = Similarity.mmrDiversify(spark, sf0001)
    val plan = executed(df)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
      s"the query set must broadcast — the corpus never shuffles to meet it:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"the top-C pool cut must prune candidates BEFORE the per-query shuffle:\n$plan")
  }

  test("q169: the sample is physical top-k (TakeOrdered); the rank window runs on k+1 rows only") {
    val df = Sampling.prioritySample(spark, sf0001)
    val plan = executed(df)
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-(k+1) must be per-partition top-k + driver merge, not a global sort:\n$plan")
    // the single-partition row_number window is legal ONLY because it
    // sits above the answer-sized limit — if the window ever moves
    // below the TakeOrdered, this spec must start failing
    val windowIdx = plan.indexOf("Window")
    val takeIdx = plan.indexOf("TakeOrderedAndProject")
    assert(windowIdx >= 0 && takeIdx >= 0 && windowIdx < takeIdx,
      s"the global window must consume the limited frame, not the corpus:\n$plan")
  }

  test("q170: pair generation is aggregate-emission — no data-bearing self-join in the plan") {
    // round 15: the report re-roots at an answer-sized checkpoint of
    // the mutual-edge list (the three oriented aliases + the stats arm
    // each inlined the full pipeline statically — pure planning cost),
    // so the audit covers BOTH halves: the pair-generation plan through
    // the un-checkpointed seam, and the report plan end-to-end.
    val edges = graft.ops.Events.coVisitMutualEdges(spark, sf0001)
    edges.collect()
    val edgePlan = flatten(edges.queryExecution.executedPlan).mkString("\n")
    assert(!edgePlan.contains("CartesianProduct"),
      s"cartesian in the pair-generation pipeline:\n$edgePlan")
    // the cell table collapses map-side (partial collect_set before its
    // one exchange) and pairs are emitted from the grouped sets
    assert(edgePlan.contains("ObjectHashAggregate") || edgePlan.contains("SortAggregate"),
      s"per-cell user sets must build through partial aggregation:\n$edgePlan")
    val df = graft.ops.Events.coVisitTriangles(spark, sf0001)
    df.collect()
    val nodes = flatten(df.queryExecution.executedPlan)
    val plan = nodes.mkString("\n")
    assert(!plan.contains("CartesianProduct"), s"cartesian in the triangle pipeline:\n$plan")
    // the ONLY nested loop allowed is the final 1-row × 1-row report
    // cross (stats × triangles); pair/edge/degree stages never loop
    val bnlj = nodes.count(_.nodeName.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"nested loop beyond the 1-row report cross:\n$plan")
    // and the report plan is checkpoint-rooted: the events scan ran
    // once, in the edge half, not once per oriented alias. BOTH
    // markers must be absent (ADVICE r15): a partial re-inline — a
    // parquet scan leaking into the report half without the flatMap,
    // or vice versa — is already a breach of the checkpoint rooting
    assert(!plan.contains("Scan parquet") && !plan.contains("MapPartitions"),
      s"the report half re-ran the pair pipeline instead of the checkpoint:\n$plan")
  }

  test("q128: capped pair generation is the bounded aggregate-emission, not a fp self-join") {
    // round 16: the default (capped) arm generates pairs by a
    // CappedLongSet aggregation + map-side C(docs,2) emission — the
    // q72/q170 discipline. A fp-keyed self-join reappearing here would
    // reintroduce the Σ df² join fan-out the cap existed to bound.
    val plan = executed(Dedup.winnowPairs(spark, sf0001, Dedup.OracleHashBits))
    assert(plan.contains("capped_long_set"),
      s"pair generation must ride the bounded set aggregate:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"fp self-join reappeared in the capped arm:\n$plan")
    // the fan-out-amplified emission stage must not run at the agg
    // output's byte-proportional width (209 s → 79 s at f=512, exp
    // 1.73 → 1.19)
    assert(plan.contains("RoundRobinPartitioning") || plan.contains("ROUND_ROBIN"),
      s"the emission stage lost its explicit corpus-knob repartition:\n$plan")
  }

  test("q15/q72/q128/q170: every pair site emits through the PairCounts generators") {
    // (query, plan, whether the pair stream must be free of typed
    // operators). q15 keeps its typed posting scan ahead of the
    // primitive; q72's plan above its cached source sets is all
    // codegen. Nodes come from children only, so a cached relation's
    // own lineage is not part of the audited plan.
    val sites = Seq(
      ("q15", Dedup.jaccardPairsSparse(spark, sf0001), false),
      ("q72", Dedup.sourceOverlap(spark, sf0001), true),
      ("q128", Dedup.winnowPairs(spark, sf0001, Dedup.OracleHashBits), false),
      ("q170", graft.ops.Events.coVisitMutualEdges(spark, sf0001), true))
    val breaches = try sites.flatMap { case (q, df, codegenOnly) =>
      df.collect()
      val nodes = flatten(df.queryExecution.executedPlan)
      val generated = nodes.exists {
        case g: GenerateExec => g.generator.isInstanceOf[PosExplode]
        case _ => false
      }
      val typed = nodes.exists(n => Set("SerializeFromObject", "MapPartitions")(n.nodeName))
      Seq(s"$q: no posexplode generator" -> !generated,
          s"$q: a typed boundary in the pair stream" -> (codegenOnly && typed))
        .collect { case (msg, true) => s"$msg:\n${df.queryExecution.executedPlan}" }
    } finally graft.ops.Materialize.release(spark)
    assert(breaches.isEmpty, breaches.mkString("\n"))
  }

  test("q33: norms ride the bucket rows and the query side's doc_id filter reaches parquet") {
    // round 16: bucketedWithNorm carries each doc's squared norm on its
    // bucket rows, so the separate docNorms pass and BOTH norm joins
    // are gone — exactly two documents scans remain (corpus probe +
    // query build), and the query build's scan must carry the pushed
    // doc_id predicate instead of re-hashing the corpus to keep 5 rows
    val df = graft.ops.ChatOracle.hashEmbedKnn(spark, sf0001)
    df.collect()
    val scans = flatten(df.queryExecution.executedPlan)
      .filter(p => p.nodeName.contains("Scan") && p.toString.contains("documents.parquet"))
    assert(scans.size == 2,
      s"expected corpus probe + filtered query build, got ${scans.size} documents scans")
    assert(scans.exists(_.toString.contains("LessThan(doc_id")),
      s"query-side doc_id filter not pushed to parquet:\n${scans.mkString("\n")}")
  }

  test("q138: the cached segment table is unsorted — only the report orderBy range-partitions") {
    // round 16: q138 builds from cdcSegmentRows (no orderBy), so the
    // corpus-wide range sort belongs to q58's report alone
    val df = Dedup.cdcDedup(spark, sf0001)
    df.collect()
    val ranges = flatten(df.queryExecution.executedPlan)
      .count(p => p.isInstanceOf[ShuffleExchangeLike] &&
        p.toString.contains("rangepartitioning"))
    assert(ranges <= 1, s"cached segment lineage re-grew a range sort ($ranges found)")
  }

  test("q171: anchors broadcast into the label join; the top-2 cut prunes before the anchor shuffle") {
    val df = Similarity.twoNnDim(spark, sf0001)
    val plan = executed(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"the hash-sampled anchor set must broadcast — the corpus side never shuffles for it:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"per-anchor top-2 must prune BEFORE the window shuffle:\n$plan")
  }

  test("q172: term joins broadcast (never sort-merge) and each PRF stage scans the corpus once") {
    val df = graft.ops.TextAnalytics.rm3Expansion(spark, sf0001)
    val plan = executed(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"the (data-dependent) term list must broadcast into the token stream:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a term join degenerated to a corpus-wide sort-merge:\n$plan")
    // stage 2's executed plan reads the documents table EXACTLY once:
    // the df counts ride a term-keyed window over the grouped postings
    // (not a rebuilt lineage), and stats/top/mined are materialized
    // answer-sized frames (InMemory scans)
    val scans = flatten(df.queryExecution.executedPlan).count {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.toString.contains("documents.parquet"))
      case _ => false
    }
    assert(scans == 1,
      s"stage 2 must scan the corpus once, found $scans scans:\n$plan")
  }

  private def parquetScans(df: DataFrame, table: String): Int =
    flatten(df.queryExecution.executedPlan).count {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.toString.contains(table))
      case _ => false
    }

  test("q173: scoring is one fused-expression scan + physical top-k; the window rides the limited frame") {
    val df = graft.ops.Similarity.embedOutliers(spark, sf0001)
    val plan = executed(df)
    assert(plan.contains("TakeOrderedAndProject"),
      s"outlier top-k must be per-partition top-k + driver merge, not a global sort:\n$plan")
    val windowIdx = plan.indexOf("Window")
    val takeIdx = plan.indexOf("TakeOrderedAndProject")
    assert(windowIdx >= 0 && takeIdx >= 0 && windowIdx < takeIdx,
      s"the global rank window must consume the k-row frame, not the corpus:\n$plan")
    assert(!plan.contains("Generate"),
      s"scoring must be the fused MahalanobisMilli loop, not a posexplode re-shuffle:\n$plan")
    assert(parquetScans(df, "embeddings.parquet") == 1,
      s"the scoring job must read the corpus exactly once (stats are a prior driver-value job):\n$plan")
  }

  test("q174: the reservoir is physical top-k over one key-computing scan") {
    val df = graft.ops.Sampling.weightedReservoir(spark, sf0001)
    val plan = executed(df)
    assert(plan.contains("TakeOrderedAndProject"),
      s"A-Res selection must be per-partition top-k + driver merge:\n$plan")
    val windowIdx = plan.indexOf("Window")
    val takeIdx = plan.indexOf("TakeOrderedAndProject")
    assert(windowIdx >= 0 && takeIdx >= 0 && windowIdx < takeIdx,
      s"the rank window must sit above the k-row limit:\n$plan")
    assert(parquetScans(df, "documents.parquet") == 1,
      s"key computation is one scan:\n$plan")
  }

  test("q175: the corpus tokenizes once — every model table folds out of reused exchanges") {
    val df = graft.ops.TextAnalytics.knBigramXent(spark, sf0001)
    val plan = executed(df)
    // the materialized (source, w1, w2) frame feeds all five model
    // tables: the final plan reads the cache, never the corpus again
    val scans = parquetScans(df, "documents.parquet")
    assert(scans <= 1,
      s"bigram counts, c1, continuation counts and Nall must all reuse ONE corpus pass, found $scans:\n$plan")
    assert(plan.contains("InMemoryTableScan"),
      s"the vocabulary-sized grouped frame must be materialized, not a rebuilt lineage:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"only the 1-row Nall broadcast cross is allowed:\n$plan")
    val bnlj = flatten(df.queryExecution.executedPlan)
      .count(_.nodeName.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"nested loop beyond the 1-row Nall cross:\n$plan")
  }

  test("q177: the split projection meets the pairs in ONE corpus scan; report aggs are pair-sized") {
    val df = graft.ops.Sampling.splitLeakage(spark, sf0001)
    val plan = executed(df)
    val scans = parquetScans(df, "documents.parquet")
    assert(scans == 1,
      s"the exploded pair relation must join the split projection once — a per-side join scans twice, found $scans:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"nested loop in the leakage audit:\n$plan")
  }

  test("q178: the bigram table materializes once; the report is physical top-k above the limit") {
    val df = graft.ops.TextAnalytics.pmiCollocations(spark, sf0001)
    val plan = executed(df)
    assert(parquetScans(df, "documents.parquet") <= 1,
      s"marginals and N must fold from the materialized bigram table, not rebuilt lineages:\n$plan")
    assert(plan.contains("InMemoryTableScan"),
      s"the vocabulary-sized bigram table must be materialized:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"the collocation top-k must be per-partition top-k + driver merge:\n$plan")
    val windowIdx = plan.indexOf("Window")
    val takeIdx = plan.indexOf("TakeOrderedAndProject")
    assert(windowIdx >= 0 && takeIdx >= 0 && windowIdx < takeIdx,
      s"the rank window must sit above the k-row limit:\n$plan")
    val bnlj = flatten(df.queryExecution.executedPlan)
      .count(_.nodeName.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"nested loop beyond the 1-row N cross:\n$plan")
  }

  test("q179: the final reservoir read is answer-sized — top-k over the sink, no corpus scan") {
    val df = graft.streaming.SampleStream.reservoirStream(spark, sf0001)
    val plan = executed(df)
    assert(parquetScans(df, "documents.parquet") == 0,
      s"the serving read must touch only the per-batch top-k sink, never the corpus:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"the reservoir fold must be physical top-k:\n$plan")
    val windowIdx = plan.indexOf("Window")
    val takeIdx = plan.indexOf("TakeOrderedAndProject")
    assert(windowIdx >= 0 && takeIdx >= 0 && windowIdx < takeIdx,
      s"the rank window must sit above the k-row limit:\n$plan")
  }

  test("q180: the wave probes the frozen postings by broadcast; split tags join answer-sized edges") {
    val df = graft.ops.Dedup.admissionSplitGuard(spark, sf0001, graft.ops.Dedup.OracleHashBits)
    val plan = executed(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"the wave's bands must broadcast into the frozen band postings, never the reverse:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"nested-loop candidate generation in the admission guard:\n$plan")
  }

  test("q182: one corpus scan, two keyed aggs, no join — nothing corpus-sized shuffles twice") {
    val df = graft.ops.TextAnalytics.heapsLaw(spark, sf0001)
    val plan = executed(df)
    assert(parquetScans(df, "documents.parquet") == 1,
      s"per-doc token counts must collapse in ONE scan flatMap:\n$plan")
    assert(!plan.contains("Join"), s"no join belongs in the Heaps fold:\n$plan")
  }

  test("q183: two corpus scans (stats + pick); the allocation broadcasts into the rank window") {
    val df = graft.ops.Sampling.neymanAlloc(spark, sf0001)
    val plan = executed(df)
    assert(parquetScans(df, "documents.parquet") == 2,
      s"one stats fold + one pick projection — nothing else touches the corpus:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the strata-sized allocation must broadcast into the pick scan:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"nested loop in the allocator:\n$plan")
  }

  test("q184: the stop-hash keep-list broadcasts; candidates come from one hash equi-join") {
    val df = graft.ops.Multimodal.audioConstellation(spark, sf0001)
    val plan = executed(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"the tiny surviving-hash table must broadcast into the probe sides:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"constellation matching must never cross-correlate:\n$plan")
    assert(parquetScans(df, "documents.parquet") <= 1,
      s"the materialized hash table feeds the cap and both probe sides — payloads decode ONCE:\n$plan")
    assert(plan.contains("InMemoryTableScan"),
      s"the per-clip hash table must be materialized, not a re-decoded lineage:\n$plan")
  }

  test("q185: folded pairing is one window + one source-keyed equi-join — no cartesian, no global sort") {
    val df = graft.ops.TextAnalytics.foldedPacking(spark, sf0001)
    val plan = executed(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"rank pairing must be the (source, rank) equi-join:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"pair matching must be an equi-join:\n$plan")
    // ranks ride per-source windows; nothing sorts the corpus globally
    assert(parquetScans(df, "documents.parquet") <= 2,
      s"token counts must come from the shared scan branches, not per-stage rebuilds:\n$plan")
  }

  test("q186: curriculum work is histogram-sized — the corpus pays only q94's two-scan surprisal floor") {
    val df = graft.ops.TextAnalytics.curriculumSchedule(spark, sf0001)
    val plan = executed(df)
    assert(parquetScans(df, "documents.parquet") <= 2,
      s"difficulty must fold through q94's materialized vocab tables (its 2-scan floor):\n$plan")
    assert(plan.contains("InMemoryTableScan"),
      s"the vocab-sized cf table must be materialized (the q175 recompute lesson):\n$plan")
  }

  test("q187: leaf-skew panel broadcasts into one exploded scan — no cartesian, embeddings read once") {
    val df = graft.ops.Similarity.annLeafSkew(spark, sf0001)
    val plan = executed(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"the (d)-keyed plane join must be a broadcast equi-join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the 2k-row plane panel must broadcast:\n$plan")
    assert(parquetScans(df, "embeddings.parquet") <= 1,
      s"the corpus must be exploded from ONE scan:\n$plan")
  }

  test("q188: the audit is two stacked aggregations — one corpus scan, no joins") {
    val df = graft.ops.Privacy.kAnonAudit(spark, sf0001)
    val plan = executed(df)
    assert(parquetScans(df, "customer.parquet") <= 1,
      s"the registry must be scanned once:\n$plan")
    assert(!plan.contains("Join"),
      s"equivalence classes and the per-nation roll-up are pure aggregation:\n$plan")
  }

  test("q189: the corpus pays one keyed count; trials explode on the histogram frame only") {
    val df = graft.ops.Privacy.dpHistogram(spark, sf0001)
    val plan = executed(df)
    assert(parquetScans(df, "documents.parquet") <= 1,
      s"the corpus must be aggregated once; noise is histogram-frame work:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"the 96-row trial fan-out must ride a broadcast, never a cartesian shuffle:\n$plan")
  }

  test("q190: blocked pairing is a capped equi-join; the weight table broadcasts; no cartesian") {
    val df = graft.ops.Privacy.fsLinkageFromGraph(spark, sf0001,
      graft.ops.Dedup.OracleHashBits)
    val plan = executed(df)
    assert(!plan.contains("CartesianProduct"),
      s"pair enumeration must stay inside blocks:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"the blocked self-join must be an equi-join on (lang, nb32):\n$plan")
    // the only nested-loop is the deliberate 16x4 pattern-x-field fan
    // (both sides answer-sized; the field side explicitly broadcast)
    assert(parquetScans(df, "documents.parquet") <= 2,
      s"the served form reads the corpus for the two self-join branches only:\n$plan")
  }

  test("q191: each Mondrian round reads a materialized frame — the registry is scanned once, not 2^R times") {
    val df = graft.ops.Privacy.mondrian(spark, sf0001)
    val plan = executed(df)
    assert(parquetScans(df, "customer.parquet") <= 1,
      s"the uncached fold doubles lineage per round (the q175 recompute class):\n$plan")
    assert(plan.contains("InMemoryTableScan"),
      s"per-round frames must be materialized:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"partition stats must broadcast-join, never cross:\n$plan")
  }

  test("q192: wave classes count in one window; frozen counts broadcast — no corpus-sized shuffle join") {
    val df = graft.ops.Privacy.kAnonAdmission(spark, sf0001)
    val plan = executed(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"the QI-domain-sized frozen count table must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"verdicts are a keyed equi-join:\n$plan")
    assert(parquetScans(df, "documents.parquet") <= 2,
      s"one pruned scan per side (wave, frozen):\n$plan")
  }

  test("q194: the corpus pays one tokenize scan; regression and smoothing run on the materialized frequency-of-frequencies frame") {
    val df = graft.ops.TextAnalytics.goodTuring(spark, sf0001)
    val plan = executed(df)
    assert(parquetScans(df, "documents.parquet") <= 1,
      s"one tokenize scan; Z_r is answer-sized:\n$plan")
    assert(plan.contains("InMemoryTableScan"),
      s"the Z_r frame feeds the stats row AND the report — must be materialized:\n$plan")
  }

  test("q195: one corpus scan, broadcast cf, physical top-k — full QL semantics without a second pass") {
    val df = graft.ops.TextAnalytics.queryLikelihood(spark, sf0001)
    val plan = executed(df)
    assert(parquetScans(df, "documents.parquet") <= 1,
      s"explode_outer covers matched AND zero-match docs from ONE scan:\n$plan")
    assert(plan.contains("InMemoryTableScan"),
      s"the (doc, term, tf) frame has four consumers — must be materialized:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the term-domain cf table must broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"the report is a physical top-k, not a global sort:\n$plan")
  }

  test("q196: the corpus cost is the two rankers' own scans; the RBO math is answer-sized, no cartesian shuffle") {
    val df = graft.ops.TextAnalytics.rankAgreement(spark, sf0001)
    val plan = executed(df)
    assert(!plan.contains("CartesianProduct"),
      s"the depth x ranking joins are k-row frames riding broadcasts:\n$plan")
    assert(parquetScans(df, "documents.parquet") <= 3,
      s"only the two shared ranker cores may scan the corpus (BM25's two branches + QL's one):\n$plan")
  }

  test("q197: one user-keyed aggregation; arms and the test statistic are answer-sized broadcasts") {
    val df = graft.ops.Events.abReadout(spark, sf0001)
    val plan = executed(df)
    assert(parquetScans(df, "events.parquet") <= 1,
      s"assignment is scan-local hashing; the corpus pays one keyed agg:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"the 2-row arm frame meets the 1-row test row via broadcast:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"the per-user fold must combine map-side:\n$plan")
  }

  test("q198: the corpus pays the cutoff probe plus ONE user-keyed fold; adjusted moments ride the cached user frame") {
    val df = graft.ops.Events.cupedReadout(spark, sf0001)
    val plan = executed(df)
    assert(parquetScans(df, "events.parquet") <= 2,
      s"one scan for the midpoint cutoff, one for the pre/post fold — moments re-read the cache:\n$plan")
    assert(plan.contains("InMemoryTableScan"),
      s"the per-user frame has three consumers (theta, moments x2, report):\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"the 1-row theta/cut frames ride broadcasts:\n$plan")
  }

  test("q200: one events scan with scan-local assignment; the unit reshape reads the cached 2-row frame") {
    val df = graft.ops.Events.srmGuard(spark, sf0001)
    val plan = executed(df)
    assert(parquetScans(df, "events.parquet") <= 1,
      s"both unit rows must derive from ONE variant-keyed aggregation:\n$plan")
    assert(plan.contains("InMemoryTableScan"),
      s"the 2-row variant frame feeds both unit rows — must be materialized:\n$plan")
    assert(!plan.contains("Join"),
      s"the guard is pure aggregation + union:\n$plan")
  }

  test("q176: supported patterns are aggregate-emission — sessions never join a candidate table") {
    val df = graft.ops.Events.seqPatterns(spark, sf0001)
    val plan = executed(df)
    assert(!plan.contains("Join"),
      s"no join of any kind belongs in the emission pipeline:\n$plan")
    assert(plan.contains("MapPartitions") || plan.contains("SerializeFromObject"),
      s"pattern emission must be the flatMap over folded sessions:\n$plan")
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      s"session sequences must fold through partial aggregation:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"the support top-k must be physical top-k, not a global sort:\n$plan")
  }
}
