package graft

/** Online serving-path latency harness: times the reference's actual
  * user experience — the full composed retrieve of ChatPipeline.query
  * (reference main.rs:440-530: classify → HyDE → embed → ANN →
  * F1-F10 filters → rerank → synthesize) — end-to-end against a
  * prepared index at the sf corpus's text volume, with the mock LLM
  * client (deterministic, no network). Two measured series:
  *
  *  - `pushdown`: the index is registered in AnnCatalog, so the
  *    brute-force kNN the query path declares is REWRITTEN by
  *    AnnPushdownRule into the RP-forest semi-join. A
  *    QueryExecutionListener audits every executed plan and counts the
  *    ones containing a forest-side file scan — the harness FAILS
  *    (exit 1) unless the rewrite fired for every timed query, so the
  *    recorded latencies are guaranteed to describe the indexed path,
  *    not a silent fallback to brute force.
  *  - `brute`: same queries with the catalog cleared — the exact-scan
  *    baseline the pushdown is beating.
  *
  * Build (corpus files + index + registration) is the untimed prepare
  * half, reported separately. Prints ONE JSON line.
  */
object ServeBench {

  private def flatten(p: org.apache.spark.sql.execution.SparkPlan):
      Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val next = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case qs: QueryStageExec => Seq(qs.plan)
      case other => other.children
    }
    // p.subqueries: plans hanging off expressions — the DPP
    // SubqueryBroadcast under a scan's partition filters lives there,
    // and with AQE off the join's own build side is a ReusedExchange
    // pointing INTO it, so children traversal alone never reaches the
    // forest scan
    p +: (next ++ p.subqueries).flatMap(flatten)
  }

  private def pct(sorted: Seq[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else sorted(math.min(sorted.length - 1, math.ceil(p * sorted.length).toInt - 1).max(0))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nQueries = sys.env.getOrElse("SPARK_GRAFT_SERVE_QUERIES", "24").toInt
    // serving-tier config, applied to BOTH measured engines
    val spark = Harness.session(Harness.Serving)

    // ---- untimed prepare: corpus files -> index -> registration ----
    // SPARK_GRAFT_SERVE_REPLICATE=N writes each doc N times (distinct
    // ids) — the corpus-size axis for the brute-vs-pushdown crossover
    val replicate = sys.env.getOrElse("SPARK_GRAFT_SERVE_REPLICATE", "1").toInt
    val t0 = System.nanoTime()
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val docs = (0 until replicate).flatMap(r =>
      base.map { case (id, t) =>
        (id + r.toLong * 1000000L, if (r == 0) t else s"copy $r of: $t")
      }).toArray
    val repoDir = graft.streaming.StreamScratch.dir("graft_serve_repo")
    val docsPerFile = 8
    docs.grouped(docsPerFile).zipWithIndex.foreach { case (g, i) =>
      val body = g.map { case (id, t) => s"## doc $id\n\n$t\n" }.mkString("\n")
      val p = java.nio.file.Paths.get(repoDir, f"docs/part$i%05d.md")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, body)
    }
    val indexDir = graft.streaming.StreamScratch.dir("graft_serve_idx")
    val nChunks = graft.chat.ChatPipeline.index(spark, repoDir, indexDir)
    graft.plans.AnnCatalog.register(spark, indexDir)
    val buildSec = (System.nanoTime() - t0) / 1e9

    // executed-plan audit: count plans that ran the FULL indexed shape —
    // a forest-side file scan (the candidate top-k the AnnPushdownRule
    // plants) AND a chunks-side scan whose partition filters carry a
    // dynamic-pruning expression (the payload fetch restricted to the
    // winner buckets). Requiring both is what makes the latency numbers
    // describe the sublinear path: a forest scan with an unpruned
    // payload scan is the round-8 linear shape, and the gate must not
    // certify it.
    val pushdownPlans = new java.util.concurrent.atomic.AtomicLong(0)
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = {
        val scans = flatten(qe.executedPlan).collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }
        val hasForest = scans.exists(
          _.relation.location.rootPaths.exists(_.toString.contains(
            s"$indexDir/forest")))
        val prunedChunks = scans.exists(f =>
          f.relation.location.rootPaths.exists(_.toString.contains(
            s"$indexDir/chunks")) &&
            f.partitionFilters.exists(_.exists {
              case _: org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression => true
              case _ => false
            }))
        if (hasForest && prunedChunks) pushdownPlans.incrementAndGet()
      }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    })
    // the execution listener bus is asynchronous: poll the counter up
    // to `timeoutMs` for an expected floor before reading it
    def awaitPlans(expected: Long, timeoutMs: Long): Long = {
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      while (pushdownPlans.get() < expected && System.nanoTime() < deadline)
        Thread.sleep(20)
      pushdownPlans.get()
    }

    // deterministic query strings drawn from the corpus itself (the
    // mock classify/HyDE pass them through, so retrieval has signal).
    // Phrased as explanations: the corpus is prose (.md), and the
    // code/doc split (F5/F7) correctly yields nothing for a
    // wants_code intent against a docs-only index
    val step = math.max(1, docs.length / nQueries)
    val queries = docs.indices.by(step).take(nQueries).map { i =>
      "what is " +
        docs(i)._2.trim.split("\\s+").filter(_.nonEmpty).take(6).mkString(" ")
    }

    // settle: wait for the counter to reach `min`, then for it to stay
    // UNCHANGED for 150 ms — the async listener bus can deliver a
    // query's surplus events (multi-action plans) late, and a baseline
    // snapshot taken before they land would falsely credit the NEXT
    // query. The settled value is the next query's baseline, so per-
    // query coverage cannot be satisfied by a predecessor's strays.
    def settle(min: Long): Long = {
      awaitPlans(min, 10000)
      var stable = pushdownPlans.get()
      var t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 150000000L) {
        Thread.sleep(20)
        val now = pushdownPlans.get()
        if (now != stable) { stable = now; t0 = System.nanoTime() }
      }
      stable
    }

    // checkPushdown: after EACH timed query, wait (untimed — the clock
    // stopped before the poll) until the async listener has settled at
    // least one MORE forest-scan plan than the previous settled
    // baseline. A global end-of-series count could be satisfied by
    // surplus events while some query silently fell back to brute
    // force — per-query coverage is the property the gate certifies.
    // `prepared`: route ChatPipeline.query through the round-12
    // prepared-plan executor (its coverage is gated on the executor's
    // own served counter — executeCollect on hand-swapped physical
    // plans never surfaces as a QueryExecution, so the plan listener
    // cannot see it; PreparedKnnSpec pins the plans' structure and
    // bit-exact parity with the rule path instead).
    def runSeries(checkPushdown: Boolean, prepared: Boolean = false): (Seq[Double], Int) = {
      var covered = 0
      var baseline = if (checkPushdown) settle(pushdownPlans.get()) else 0L
      val servedBase = graft.plans.PreparedKnn.served.get()
      val lat = queries.map { q =>
        val s0 = System.nanoTime()
        val out = graft.chat.ChatPipeline.query(spark, indexDir, q, k = 3,
          rerank = true, prepared = prepared)
        val ms = (System.nanoTime() - s0) / 1e6
        require(out.results.nonEmpty, s"no results for query '$q'")
        if (checkPushdown) {
          val settled = settle(baseline + 1)
          if (settled > baseline) covered += 1
          baseline = settled
        }
        ms
      }
      if (prepared)
        covered = (graft.plans.PreparedKnn.served.get() - servedBase).toInt
      (lat, covered)
    }

    // warmup (JIT/codegen for the query plan shape), not timed; the
    // first settle() inside runSeries drains any late warmup events
    // before the first timed baseline is taken
    queries.take(3).foreach(q =>
      graft.chat.ChatPipeline.query(spark, indexDir, q, k = 3, rerank = true,
        prepared = false))
    val warmupFloor = awaitPlans(3, 10000)

    val (pushLatRaw, pdFired) = runSeries(checkPushdown = true)
    val pushLat = pushLatRaw.sorted

    // per-phase attribution (PreparedKnn.phaseNanos): snapshot/diff
    // around a series; printed as mean ms/query so single-stream and
    // concurrent contention are attributable from the artifact
    def phaseSnap(): Seq[Long] = graft.plans.PreparedKnn.phaseNanos.toSeq.map(_.get())
    def phaseJson(before: Seq[Long], after: Seq[Long], n: Int): String = {
      val names = Seq("prep", "cand_job", "merge_swap", "payload_job")
      names.zip(before.zip(after)).map { case (nm, (b, a)) =>
        f""""$nm":${(a - b) / 1e6 / math.max(1, n)}%.1f""" }.mkString("{", ",", "}")
    }

    // prepared series: same queries through the prepared-plan executor
    // (the interactive default lane), own warmup for its plan shapes
    queries.take(3).foreach(q =>
      graft.chat.ChatPipeline.query(spark, indexDir, q, k = 3, rerank = true))
    val prepPhase0 = phaseSnap()
    val (prepLatRaw, prepServed) = runSeries(checkPushdown = false, prepared = true)
    val prepPhases = phaseJson(prepPhase0, phaseSnap(), prepLatRaw.size)
    val prepLat = prepLatRaw.sorted

    // concurrent prepared series: N streams drive the SAME prepared
    // lane at once (the interactive default) — a serving story is a
    // p95 under load, not a single client. Each stream rotates its
    // start offset so the threads are never in lockstep on one query
    // (identical in-flight queries would share whatever the plan or OS
    // page cache holds and flatter the tail). Coverage gates on the
    // prepared executor's own served counter, the single-stream
    // discipline. PreparedKnnSpec pins thread-safety of the executor;
    // this measures what that safety COSTS under contention.
    val nStreams = sys.env.getOrElse("SPARK_GRAFT_SERVE_STREAMS", "8").toInt
    val concServedBase = graft.plans.PreparedKnn.served.get()
    val concLats = java.util.Collections.synchronizedList(
      new java.util.ArrayList[java.lang.Double]())
    // a Throwable inside a stream thread only kills THAT thread; the
    // served-counter gate below misses a failure on a stream's FINAL
    // query (the counter already incremented) and the latency list
    // would be silently truncated — so every stream records its own
    // failure and the bench fails after join() if any stream did
    // (ADVICE r13)
    val concFailures = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val concPhase0 = phaseSnap()
    val cT0 = System.nanoTime()
    val threads = (0 until nStreams).map { t =>
      val th = new Thread(() => {
        try {
          val n = queries.size
          (0 until n).foreach { i =>
            val q = queries((i + t * n / nStreams) % n)
            val s0 = System.nanoTime()
            val out = graft.chat.ChatPipeline.query(spark, indexDir, q, k = 3,
              rerank = true, prepared = true)
            concLats.add((System.nanoTime() - s0) / 1e6)
            require(out.results.nonEmpty, s"no results for query '$q'")
          }
        } catch { case e: Throwable =>
          concFailures.add(s"stream $t: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      })
      th.setDaemon(true); th.start(); th
    }
    threads.foreach(_.join())
    if (!concFailures.isEmpty) {
      import scala.jdk.CollectionConverters._
      System.err.println("serve bench FAILED: concurrent stream errors: " +
        concFailures.asScala.mkString("; "))
      sys.exit(1)
    }
    val concWallSec = (System.nanoTime() - cT0) / 1e9
    // mean ms/query of wall time INSIDE each phase across all streams:
    // a phase whose concurrent mean grows far past its single-stream
    // mean is where the 8 streams actually queue
    val concPhases = phaseJson(concPhase0, phaseSnap(),
      math.max(1, concLats.size()))
    val concServed = (graft.plans.PreparedKnn.served.get() - concServedBase).toInt
    val concLat = {
      import scala.jdk.CollectionConverters._
      concLats.asScala.map(_.doubleValue()).toSeq.sorted
    }
    val concQps = concLat.size / concWallSec

    graft.plans.AnnCatalog.clear()
    // the brute series gets its OWN warmup: the un-rewritten plan shape
    // was never compiled in this JVM, and charging its first queries
    // for codegen would inflate the baseline the pushdown is compared
    // against
    queries.take(3).foreach(q =>
      graft.chat.ChatPipeline.query(spark, indexDir, q, k = 3, rerank = true))
    val bruteLat = runSeries(checkPushdown = false)._1.sorted
    graft.plans.AnnCatalog.register(spark, indexDir)

    def stats(l: Seq[Double]) =
      f"""{"p50":${pct(l, 0.50)}%.1f,"p95":${pct(l, 0.95)}%.1f,"mean":${l.sum / l.length}%.1f}"""
    println(
      s"""{"metric":"serve_latency","unit":"ms","n_queries":${queries.size},""" +
        s""""prepared":${stats(prepLat)},"pushdown":${stats(pushLat)},""" +
        s""""brute":${stats(bruteLat)},""" +
        s""""concurrent":{"n_streams":$nStreams,""" +
        stats(concLat).stripPrefix("{").stripSuffix("}") +
        f""","qps":$concQps%.1f,"served":$concServed,"phases_ms":$concPhases},""" +
        s""""prepared_phases_ms":$prepPhases,""" +
        s""""prepared_served":$prepServed,"pushdown_covered":$pdFired,""" +
        s""""warmup_plans":$warmupFloor,""" +
        s""""n_chunks":$nChunks,"n_docs":${docs.length},""" +
        f""""build_sec":$buildSec%.1f,"sf":"$sfDir"}""")
    spark.stop()
    // the gates: every timed pushdown-series query must have run
    // through the rewritten (forest semi-join) plan, and every timed
    // prepared-series query must have been answered by the prepared
    // executor — otherwise the numbers describe the wrong engine and
    // the harness must not report success.
    // gate on the MEASURED query count: docs.indices.by(step).take(n)
    // yields fewer queries than requested when the corpus is small, and
    // failing a 100%-covered run over the requested count would be a
    // false alarm
    if (pdFired < queries.size) {
      System.err.println(
        s"serve bench FAILED: pushdown covered $pdFired/${queries.size} timed queries")
      sys.exit(1)
    }
    if (prepServed < queries.size) {
      System.err.println(
        s"serve bench FAILED: prepared executor served $prepServed/${queries.size} timed queries")
      sys.exit(1)
    }
    if (concServed < nStreams * queries.size) {
      System.err.println(
        s"serve bench FAILED: concurrent series served $concServed/" +
          s"${nStreams * queries.size} timed queries through the prepared executor")
      sys.exit(1)
    }
  }
}
