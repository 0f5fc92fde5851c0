package graft.streaming

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.Similarity

/** Streaming ingestion into the persisted IVF artifact — the add()
  * half of the FAISS train/add/search split, as a pipeline: new
  * embedding parquet files land in a watched directory, each
  * micro-batch assigns them to the artifact's FROZEN centroids
  * (train once; `Similarity.assignToIndex` is the single assignment
  * function batch and stream share) and appends to the
  * cid-partitioned inverted lists. Serving queries
  * (semanticDedupIndexed, hardNegativesIndexed, hardNegativesProbed)
  * see the appended rows on their next scan with zero re-training and
  * zero rewrite of existing lists.
  *
  * Unlike AnnIndex.compactChunks, which shares the index maintenance
  * lock with the chunk watcher, this stream takes no lock: plain
  * parquet directories have no transaction log, so run compaction (or
  * a centroid re-train, which rewrites vectors/) only with this stream
  * quiesced. A real deployment puts vectors/ behind a snapshot-
  * isolated table format; the append protocol here is unchanged by
  * that swap.
  */
object IvfStream {

  private val counter = new AtomicInteger(0)

  /** Start watching `watchDir` for embedding parquet files (schema:
    * vec_id, embedding, label — the embeddings table shape). Returns
    * the query handle (processAllAvailable() to drain, stop() to
    * end). */
  def start(spark: SparkSession, watchDir: String, indexPath: String): StreamingQuery = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.types.StructField("label", org.apache.spark.sql.types.IntegerType)))
    spark.readStream
      .schema(schema)
      .option("recursiveFileLookup", "true")
      .parquet(watchDir)
      .writeStream
      .queryName(s"graft_ivf_ingest_${counter.incrementAndGet()}")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Similarity.assignToIndex(batch.sparkSession, indexPath, batch)
          .write.mode("append").partitionBy("cid")
          .parquet(s"$indexPath/vectors")
      }
      .start()
  }
}
