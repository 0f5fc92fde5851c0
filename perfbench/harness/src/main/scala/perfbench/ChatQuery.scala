package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import graft.chat.{AnnIndex, ChatPipeline, HashingEmbedder, MockChatClient, Retrieval, TfidfReranker}
import graft.chat.Schemas.RetrievalResult
import graft.plans.{AnnCatalog, PreparedKnn}

/** `chat_query`: the online phase. A closed loop of clients, each
  * waiting for its answer before it asks again, calls
  * `ChatPipeline.query(k = 3, rerank = true, prepared = true)` against
  * an index built from the generated repo and registered in
  * `AnnCatalog`. */
object ChatQuery {
  val K = 3
  /** Request id of the traced check queries, kept out of the metrics. */
  val CheckReq = "check"

  def lines(p: Path): IndexedSeq[String] =
    Files.readAllLines(p).asScala.filter(_.nonEmpty).toIndexedSeq

  def query(c: Ctx, idx: Path, q: String, prepared: Boolean = true): ChatPipeline.QueryOutput =
    ChatPipeline.query(c.spark, idx.toString, q, k = K, rerank = true,
      client = new MockChatClient(), embedder = new HashingEmbedder(),
      reranker = Some(new TfidfReranker()), prepared = prepared)

  /** The public calls `ChatPipeline.query` makes, in its order, one
    * span each (traced runs only). */
  def tracedQuery(c: Ctx, idx: Path, q: String, req: String): ChatPipeline.QueryOutput =
    c.span("query", req) {
      val client = new MockChatClient()
      val embedder = new HashingEmbedder()
      val dir = idx.toString
      c.span("freshness.checkIndexCached", req) { ChatPipeline.checkIndexCached(dir) }
      val profile = c.span("chatpipeline.readProfile", req) { ChatPipeline.readProfile(dir) }
      val cls = c.span("llm.classify", req) { client.classify(q) }
      val hypo = c.span("llm.hyde", req) { client.hyde(q, cls, profile) }
      val vec = c.span("embedder.embed", req) { embedder.embed(hypo) }
      val window = c.span("preparedknn.search", req) {
        PreparedKnn.search(c.spark, dir, vec, K * 2).getOrElse(
          throw new IllegalStateException(s"$dir is not served by the prepared lane"))
      }
      if (req != CheckReq) c.res.add("window_hits", window.size.toDouble)
      val filtered = c.span("retrieval.applyFiltersLocal", req) {
        Retrieval.applyFiltersLocal(window, cls, K)
      }
      val ordered = c.span("retrieval.crossRerankLocal", req) {
        Retrieval.crossRerankLocal(filtered, q, new TfidfReranker())
      }
      val rows = ordered.zipWithIndex.map { case (h, i) =>
        RetrievalResult(h.file, h.code, h.language, h.extension, h.distance, i)
      }
      val answer = c.span("llm.synthesize", req) {
        client.synthesize(q, cls, profile, rows.map(r => (r.file, r.code, r.distance))).toVector
      }
      ChatPipeline.QueryOutput(rows, answer)
    }

  def digest(o: ChatPipeline.QueryOutput): String =
    Main.multisetDigest(Iterator(o.results.mkString("|") + "\u0002" + o.answer.mkString("\n")))

  /** The query vector `ChatPipeline.query` searches with. */
  def queryVector(idx: Path, q: String): Array[Float] = {
    val client = new MockChatClient()
    new HashingEmbedder().embed(
      client.hyde(q, client.classify(q), ChatPipeline.readProfile(idx.toString)))
  }

  /** Closed loop: `clients` threads share one question cursor, which
    * starts at question `first`; each sends its next question only
    * after its previous answer arrived.
    * With `record`, latencies go to the `latency_ms` series and the
    * times they ended, in seconds since the loop started, to
    * `latency_end_s`; a traced run traces every other query and puts
    * the others' latencies in `untraced_latency_ms`, so the gap between
    * the two is the tracing overhead under the same load. */
  def closedLoop(c: Ctx, idx: Path, qs: IndexedSeq[String], clients: Int, seconds: Double,
                 first: Int, maxQueries: Int, record: Boolean): Unit = {
    val cursor = new AtomicInteger(first)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val t0 = System.nanoTime()
    val ends = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val threads = (0 until clients).map { _ =>
      new Thread(() => {
        var i = cursor.getAndIncrement()
        while (System.nanoTime() < deadline && i - first < maxQueries) {
          val q = qs(i % qs.size)
          val traced = record && c.tracer.enabled && i % 2 == 1
          if (record) c.res.synchronized(c.res.attempted += 1)
          val s0 = System.nanoTime()
          try {
            if (traced) tracedQuery(c, idx, q, s"q$i") else query(c, idx, q)
            if (record) {
              val end = System.nanoTime()
              if (c.tracer.enabled && !traced) c.res.add("untraced_latency_ms", (end - s0) / 1e6)
              else c.res.synchronized {
                c.res.add("latency_ms", (end - s0) / 1e6)
                c.res.add("latency_end_s", (end - t0) / 1e9)
              }
            }
          } catch { case e: Exception => c.res.fail(s"query$i", e) }
          i = cursor.getAndIncrement()
        }
        ends.add(System.nanoTime())
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    if (record) c.res.set("loop_s", (ends.asScala.map(_.longValue).max - t0) / 1e9)
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val repo = c.input.resolve("repo")
    val qs = lines(c.input.resolve("questions.txt"))
    val recallQs = lines(c.input.resolve("recall_questions.txt"))
    val clients = c.param("clients").toInt
    val idx = c.work.resolve("idx")
    // set-up: build the index once, then register and warm the serving
    // lane `setupReps` times
    val (buildS, _) = Main.seconds(Main.setup(ChatPipeline.index(spark, repo.toString, idx.toString)))
    c.res.add("index_build_s", buildS)
    // exact top-6 for the recall questions (traced runs only, where
    // knn_recall_at_6 is reported), before the index is registered, so
    // no rewrite can touch the brute-force scan
    val truth = if (!c.tracer.enabled) IndexedSeq.empty else {
      val vecs = recallQs.indices.map(i => (i.toLong, queryVector(idx, recallQs(i))))
      val byQ = AnnIndex.knnBatch(spark, AnnIndex.load(spark, idx.toString), vecs, 6)
        .select("query_id", "file", "code").collect().groupBy(_.getLong(0))
      recallQs.indices.map(i =>
        byQ.getOrElse(i.toLong, Array.empty).map(r => (r.getString(1), r.getString(2))).toSet)
    }
    // each repetition warms up on its own questions, and the timed
    // loop asks questions none of them asked
    val warm = c.param("warm-queries").toInt
    for (r <- 0 until c.setupReps) Main.setup {
      AnnCatalog.clear()
      val (s, _) = Main.seconds {
        AnnCatalog.register(spark, idx.toString)
        closedLoop(c, idx, qs, clients, 60, r * warm, warm, record = false)
      }
      c.res.add("serve_prep_s", s)
    }
    val served0 = PreparedKnn.served.get()
    val phase0 = PreparedKnn.phaseNanos.map(_.get())
    c.startTimed()
    closedLoop(c, idx, qs, clients, c.seconds, c.setupReps * warm, Int.MaxValue, record = true)
    c.endTimed()
    val n = c.res.series.get("latency_ms").map(_.size).getOrElse(0) +
      c.res.series.get("untraced_latency_ms").map(_.size).getOrElse(0)
    c.res.set("preparedknn.served_ratio", (PreparedKnn.served.get() - served0).toDouble / math.max(1, n))
    Seq("prep", "cand_job", "merge_swap", "payload_job").zipWithIndex.foreach { case (k, i) =>
      c.res.set(s"preparedknn.$k.ms",
        (PreparedKnn.phaseNanos(i).get() - phase0(i)) / 1e6 / math.max(1, n))
    }

    // output checks (untimed)
    val checks0 = System.nanoTime()
    val sample = lines(c.input.resolve("check_questions.txt"))
    c.res.observe("prepared", sample.map(q => digest(query(c, idx, q, prepared = true))))
    c.res.observe("unprepared", sample.map(q => digest(query(c, idx, q, prepared = false))))
    if (c.tracer.enabled)
      c.res.observe("traced", sample.map(q => digest(tracedQuery(c, idx, q, CheckReq))))
    if (c.tracer.enabled) {
      val hits = recallQs.indices.map { i =>
        val got = PreparedKnn.search(spark, idx.toString, queryVector(idx, recallQs(i)), 6)
          .getOrElse(throw new IllegalStateException("prepared lane unavailable for recall"))
        got.count(h => truth(i).contains((h.file, h.code)))
      }
      c.res.set("knn_recall_at_6", hits.sum.toDouble / (6.0 * recallQs.size))
    }
    c.res.set("chunks", AnnIndex.load(spark, idx.toString).count().toDouble)
    c.res.set("index_bytes", Main.treeBytes(idx).toDouble)
    c.res.set("source_bytes", Main.treeBytes(repo).toDouble)
    Indexing.leafSkew(idx).foreach { case (k, v) => c.res.set(k, v) }
    c.res.observe("num_trees", AnnIndex.NumTrees)
    c.res.observe("forest_rows_per_chunk", Indexing.forestRowsPerChunk(spark, idx))
    c.res.set("checks_s", (System.nanoTime() - checks0) / 1e9)
    if (c.tracer.enabled) Indexing.traceBuildAndRefresh(c, repo)
  }
}
