package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.Dedup.OracleHashBits

/** The mains' shared runtime: the one session factory, the untimed
  * prepare list and the timed action. Like the reference's
  * `SessionState`, a process builds its session once and drives every
  * phase from it.
  */
object Harness {

  sealed trait Config
  /** Batch sweeps (Bench, Verify, Scaling, Explain). */
  case object Batch extends Config
  /** The latency tier (ServeBench, ChatCli). */
  case object Serving extends Config

  /** Local core count: SPARK_GRAFT_CPUS, default 32. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** A `-Dspark.*` system property overrides any setting below, so a
    * config hypothesis is one JVM flag away. */
  def session(config: Config, master: String = s"local[$cpus]",
              shufflePartitions: String = cpus): SparkSession = {
    val b = SparkSession.builder().master(master).appName("graft")
    def set(k: String, v: String): Unit = if (!sys.props.contains(k)) b.config(k, v)
    set("spark.sql.shuffle.partitions", shufflePartitions)
    set("spark.sql.session.timeZone", "UTC")
    set("spark.ui.enabled", "false")
    config match {
      case Batch =>
        // the generated-class cache defaults to 100 entries; a 200-query
        // sweep holds thousands of codegen stages, so the default evicts
        // constantly and each min-of-2 pass re-pays Janino compilation
        // for work the warmup already compiled (measured: isolated q85 =
        // 0.9 s vs 2.0 s inside the full sweep, zero GC attribution)
        set("spark.sql.codegen.cache.maxEntries", "10000")
        // let AQE re-plan the physical partitioning UNDER cached
        // relations too — off by default, which pins every
        // InMemoryRelation consumer to the static shuffle width. With
        // it on, cached-frame scans coalesce to advisory-sized
        // partitions at any scale; measured at sf0.1: q195 268→19
        // tasks / 35→0.7 task-seconds, q175 −49% wall. Row sets are
        // unchanged (AQE-scope switch; AqeParitySpec discipline).
        set("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      case Serving =>
        // AQE's per-stage re-planning is built for batch jobs and costs
        // fixed milliseconds per exchange on point queries (classic DPP
        // works without it)
        set("spark.sql.adaptive.enabled", "false")
        b.withExtensions(new graft.plans.GraftExtensions)
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One untimed build step of an artifact-served query. */
  final case class Prepare(name: String, run: (SparkSession, String) => Unit)

  /** The artifact WRITES whose timed halves are index-serving reads
    * (bucketing, indexes and snapshots amortize work to build time by
    * design). `snapshots` is the number of timed invocations of
    * q165/q166, each of which consumes one graph-snapshot copy. */
  def prepares(snapshots: Int): Seq[Prepare] = Seq(
    // q41: the bucketed-table write; the timed join is exchange-free
    Prepare("Scale.prepareBuckets", (s, d) => graft.ops.Scale.prepareBuckets(s, d)),
    // q81/q82: the IVF artifact
    Prepare("Similarity.preparedIvfIndex", (s, d) => graft.ops.Similarity.preparedIvfIndex(s, d)),
    // q101: the JSONL export; the timed query is the schema-pinned ingest
    Prepare("JsonlCorpus.preparedJsonl", (s, d) => graft.sources.JsonlCorpus.preparedJsonl(s, d)),
    // q102: the frozen-corpus checkpoint the stream replay admits against
    Prepare("DedupStream.prepareFrozen", (s, d) => graft.streaming.DedupStream.prepareFrozen(s, d)),
    // q105: the admission index
    Prepare("Dedup.preparedDedupIndex",
      (s, d) => graft.ops.Dedup.preparedDedupIndex(s, d, OracleHashBits)),
    // q153: the postings index behind the partition-pruned BM25 read
    Prepare("TextAnalytics.preparedPostingsIndex",
      (s, d) => graft.ops.TextAnalytics.preparedPostingsIndex(s, d)),
    // q74/q91/q93/q106/q133/q146/q152/q155/q158/q159: the dedup graph
    Prepare("Dedup.preparedDedupGraph",
      (s, d) => graft.ops.Dedup.preparedDedupGraph(s, d, OracleHashBits)),
    // q154/q161: per-system scores and top-K rankings
    Prepare("Hybrid.preparedEvalScores",
      (s, d) => graft.ops.Hybrid.preparedEvalScores(s, d, OracleHashBits)),
    // q163: the winnow fingerprint index
    Prepare("Dedup.preparedWinnowIndex",
      (s, d) => graft.ops.Dedup.preparedWinnowIndex(s, d, OracleHashBits)),
    // q203/q204: the overlap postings and materialized pair counts
    Prepare("Dedup.preparedOverlapPostings",
      (s, d) => graft.ops.Dedup.preparedOverlapPostings(s, d, OracleHashBits)),
    // q165/q166: one graph-snapshot copy per timed invocation, so
    // repeated passes never append the same wave twice
    Prepare("Dedup.prepareGraphSnapshots",
      (s, d) => graft.ops.Dedup.prepareGraphSnapshots(s, d, snapshots, OracleHashBits)))

  /** Runs every step in order; a failing step propagates with its name. */
  def prepare(spark: SparkSession, sfDir: String, steps: Seq[Prepare]): Unit =
    steps.foreach { p =>
      try p.run(spark, sfDir)
      catch { case e: Throwable =>
        throw new IllegalStateException(s"prepare ${p.name} failed: $e", e) }
    }

  /** Scheduler work of one timed action. */
  final case class Counters(jobs: Long, stages: Long, tasks: Long, taskMs: Long)

  /** One timed action: seconds, the failure if any, GC delta. */
  final case class Measure(sec: Double, error: Option[Throwable], gcMs: Long) {
    def ok: Boolean = error.isEmpty
  }

  private def gcNow(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** The timed action on one session. [[time]] writes the frame to the
    * `noop` sink, so every returned column is computed (`.count()`
    * would let Catalyst prune them), then releases the frame's
    * [[graft.ops.Materialize]] caches so the next action pays full
    * compute. One listener counts the jobs, stages, tasks and task
    * time of each tagged action; [[counters]] reads them. */
  final class Timer(spark: SparkSession) {
    private val sc = spark.sparkContext
    private val TagKey = "graft.harness.tag"
    private val byTag = new ConcurrentHashMap[String, Array[AtomicLong]]()
    private val stageTag = new ConcurrentHashMap[Int, String]()
    private val events = new AtomicLong(0)

    private def acc(tag: String): Array[AtomicLong] =
      byTag.computeIfAbsent(tag, _ => Array.fill(4)(new AtomicLong(0)))

    private val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        events.incrementAndGet()
        Option(e.properties).flatMap(p => Option(p.getProperty(TagKey))).foreach { tag =>
          acc(tag)(0).incrementAndGet()
          e.stageIds.foreach(stageTag.put(_, tag))
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        events.incrementAndGet()
        Option(stageTag.get(e.stageInfo.stageId)).foreach(acc(_)(1).incrementAndGet())
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        events.incrementAndGet()
        Option(stageTag.get(e.stageId)).foreach { tag =>
          val a = acc(tag)
          a(2).incrementAndGet()
          if (e.taskMetrics != null) a(3).addAndGet(e.taskMetrics.executorRunTime)
        }
      }
    }
    sc.addSparkListener(listener)

    def time(tag: String)(df: => DataFrame): Measure = {
      sc.setLocalProperty(TagKey, tag)
      val gc0 = gcNow()
      val t0 = System.nanoTime()
      val error =
        try { df.write.format("noop").mode("overwrite").save(); None }
        catch { case e: Throwable => Some(e) }
        finally sc.setLocalProperty(TagKey, null)
      val sec = (System.nanoTime() - t0) / 1e9
      graft.ops.Materialize.release(spark)
      Measure(sec, error, gcNow() - gc0)
    }

    /** The listener bus delivers asynchronously: wait until no event
      * has arrived for `quietMs` (at most 10 s) before reading
      * [[counters]]. */
    def settle(quietMs: Long = 300): Unit = {
      val deadline = System.currentTimeMillis() + 10000
      var last = -1L
      while (events.get() != last && System.currentTimeMillis() < deadline) {
        last = events.get()
        Thread.sleep(quietMs)
      }
    }

    /** Counters of every action timed under `tag`; stages counts the
      * stages that ran (skipped ones excluded). */
    def counters(tag: String): Counters = {
      val a = acc(tag).map(_.get())
      Counters(a(0), a(1), a(2), a(3))
    }

    def close(): Unit = sc.removeSparkListener(listener)
  }
}
