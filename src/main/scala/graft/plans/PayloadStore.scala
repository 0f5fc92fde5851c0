package graft.plans

import scala.collection.concurrent.TrieMap
import org.apache.spark.{HashPartitioner, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

/** Executor-resident payload store for the prepared serving path
  * (round 15, VERDICT r14 item 4).
  *
  * SERVE_AXIS_r14 phase attribution showed the 8-stream tail is core
  * saturation across the TWO sequential Spark jobs each serving query
  * runs — candidate top-k (74.6 ms) + payload fetch (52.7 ms) — with
  * no lock or prepare contention term. The payload half of that cost
  * is a parquet scan (footer decode + page reads over the ≤k winner
  * buckets) repeated for every query, although the answer is k point
  * lookups by chunk_id. This store replaces that scan with the
  * standard serving-layer shape every document store uses: the payload
  * columns live in EXECUTOR memory as hash-partitioned lookup maps
  * (`RDD[HashMap[chunk_id, payload]]`, MEMORY_AND_DISK), and a query
  * fetches its k winners with one job over at most k single-lookup
  * tasks — no file listing, no footer, no page decode on the serving
  * path.
  *
  * Scale posture: partitions are sized at ~[[ChunksPerPartition]] rows
  * (floored at the session's default parallelism), so the per-task map
  * stays bounded as the corpus grows and the store spreads across the
  * cluster's executors exactly like any memory-resident document
  * store; MEMORY_AND_DISK makes an under-provisioned tier degrade to
  * local-disk lookups instead of failing. The store is an OPTIONAL
  * acceleration: [[PreparedKnn]] falls back to its parquet payload
  * plan whenever the store is absent or stale, so correctness never
  * depends on it (PreparedKnnSpec pins both lanes bit-identical).
  *
  * Staleness uses the catalog's own mutation stamp (AnnCatalog.stampOf
  * — generation counter + build metadata): a store built at one stamp
  * refuses lookups at any other, and the re-prepare path rebuilds it.
  */
object PayloadStore {

  /** The chunk columns the serving hit needs (same nullability as the
    * parquet payload scan: file/code are non-null in practice but kept
    * raw, language/extension are optional). */
  final case class ChunkPayload(file: String, code: String,
                                language: Option[String],
                                extension: Option[String])

  private type Stamp = (Option[(Long, Long)], Option[(Long, Long)])

  private final case class Store(stamp: Stamp,
      rdd: RDD[java.util.HashMap[Long, ChunkPayload]],
      partitioner: HashPartitioner)

  /** Rows per store partition: each lookup task holds one partition's
    * map, so this bounds per-executor memory per task at a few tens of
    * MB of text regardless of corpus size. */
  val ChunksPerPartition = 50000L

  private val stores = TrieMap.empty[(SparkSession, String), Store]

  /** Build (or refresh) the store for `indexDir` at `stamp`. One full
    * pass over the chunks table — the UNTIMED build half of the
    * serving story, run from PreparedKnn's (re)prepare, which the
    * serving warmup triggers. Idempotent per stamp. */
  def build(spark: SparkSession, indexDir: String, stamp: Stamp): Unit = {
    val key = (spark, indexDir)
    stores.get(key) match {
      case Some(s) if s.stamp == stamp => return
      case Some(s) => s.rdd.unpersist(blocking = false); stores.remove(key)
      case None => ()
    }
    val df = graft.chat.AnnIndex.loadServing(spark, indexDir)
      .select("chunk_id", "file", "code", "language", "extension")
    val n = graft.chat.ChatPipeline.readIndexMeta(indexDir)
      .map(_.nChunks).getOrElse(0L)
    val p = math.max(spark.sparkContext.defaultParallelism,
      math.ceil(n.toDouble / ChunksPerPartition).toInt)
    val part = new HashPartitioner(p)
    val rdd = df.rdd.map { r =>
        def s(i: Int) = if (r.isNullAt(i)) null else r.getString(i)
        r.getLong(0) -> ChunkPayload(s(1), s(2), Option(s(3)), Option(s(4)))
      }
      .partitionBy(part)
      .mapPartitions({ it =>
        val m = new java.util.HashMap[Long, ChunkPayload]()
        it.foreach { case (k, v) => m.put(k, v) }
        Iterator.single(m)
      }, preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    rdd.count() // materialize now, in the untimed build
    stores.put(key, Store(stamp, rdd, part))
  }

  /** Point-lookup the payloads for `ids`: one job, one single-lookup
    * task per distinct store partition the ids hash into (≤ ids.size).
    * None when no store matches (absent or stale) — the caller falls
    * back to its parquet payload plan. Ids missing from the store drop
    * out of the result, the payload scan's semi-join semantics. */
  def lookup(spark: SparkSession, indexDir: String, stamp: Stamp,
             ids: Seq[Long]): Option[Map[Long, ChunkPayload]] = {
    val s = stores.get((spark, indexDir)) match {
      case Some(st) if st.stamp == stamp => st
      case _ => return None
    }
    if (ids.isEmpty) return Some(Map.empty)
    val byPart = ids.groupBy(id => s.partitioner.getPartition(id))
    val parts = byPart.keys.toArray.sorted
    val res = spark.sparkContext.runJob(s.rdd,
      (ctx: TaskContext, it: Iterator[java.util.HashMap[Long, ChunkPayload]]) => {
        val m = if (it.hasNext) it.next()
                else new java.util.HashMap[Long, ChunkPayload]()
        byPart(ctx.partitionId()).iterator
          .flatMap(id => Option(m.get(id)).map(id -> _)).toArray
      },
      scala.collection.immutable.ArraySeq.unsafeWrapArray(parts))
    Some(res.iterator.flatten.toMap)
  }

  def invalidate(indexDir: String): Unit =
    stores.keys.filter(_._2 == indexDir).foreach { k =>
      stores.remove(k).foreach(_.rdd.unpersist(blocking = false))
    }

  def clear(): Unit =
    stores.keys.foreach { k =>
      stores.remove(k).foreach(_.rdd.unpersist(blocking = false))
    }
}
