package graft.streaming

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.chat.{AnnIndex, ChatPipeline, Embedder, HashingEmbedder, Language}

/** Incremental re-indexing: the reference PROPOSES (but never built)
  * watching a repository for changes and updating the index without a
  * full rebuild (/root/reference/docs/proposals.md:75-114). Structured
  * Streaming's file source makes it one pipeline: new files appear in
  * the watched directory -> chunk -> embed -> append to the chunks
  * parquet, and (when the index persists its hyperplanes) the new
  * chunks' RP-forest leaf assignments append to `forest/` in the same
  * batch, so approximate search stays complete after appends.
  *
  * Each batch goes through the same wave builder and append as
  * refresh-index (ChatPipeline.embedWave, AnnIndex.appendWave). Chunk
  * ids are (gen << 32 | rowInBatch): rowInBatch comes from
  * Embed.embedChunks' zipWithIndex — partition-aware and dense, so rows
  * in different partitions of one micro-batch never collide — and gen
  * from the index's persistent high-water counter
  * (ChatPipeline.nextGeneration), floored at the stream's own
  * batchId+1 sequence. The base build is generation 0; every batch and
  * every refresh-index repair allocates a strictly higher generation
  * from the SHARED counter, so a refresh landing between batches can
  * never collide with a resumed watcher's next batch. Restarting the
  * stream with the same checkpoint continues the batchId floor; a
  * fresh checkpoint on the same index dir stays safe because the
  * persistent counter, not the restarted batchId, is authoritative. */
object IncrementalIndex {

  private val counter = new AtomicInteger(0)

  /** Start watching `watchDir`; each discovered file is chunked and
    * embedded, and the rows append to `indexDir/chunks`. Returns the
    * query handle (stop() to end; processAllAvailable() to drain). */
  def start(spark: SparkSession, watchDir: String, indexDir: String,
            embedder: Embedder = new HashingEmbedder()): StreamingQuery = {
    val supported = Language.supportedExtensions.toSet
    // the streaming file source requires an explicit schema; this is
    // the fixed schema of the binaryFile format
    val binaryFileSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType)))
    val files = spark.readStream
      .format("binaryFile")
      .schema(binaryFileSchema)
      .option("recursiveFileLookup", "true")
      .load(watchDir)
      .select(col("path"), col("content"))
    val name = s"graft_incremental_${counter.incrementAndGet()}"
    files.writeStream
      .queryName(name)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // gen allocation, the wave, the chunks/forest append and the
        // processed log run as ONE locked mutation: an append
        // interleaving with a refresh's or a compaction's rewriteSwap
        // could land files in a directory mid-rename. The lock is
        // reentrant, so the nested nextGeneration acquires nothing new;
        // a timeout fails the batch, and with it the stream, loudly.
        ChatPipeline.withIndexLock(indexDir) {
          // generation from the index's shared high-water mark, floored
          // at the stream's own batchId+1 sequence (nextGeneration
          // documents the contract)
          val gen = ChatPipeline.nextGeneration(indexDir, batchId + 1L,
            // torn-counter recovery: the max existing chunk-id generation
            // is the one floor that can never mint a duplicate id
            () => {
              val mx = AnnIndex.load(spark, indexDir)
                .agg(max(col("chunk_id"))).head()
              (if (mx.isNullAt(0)) 0L else mx.getLong(0) >> 32) + 1L
            })
          val rows = ChatPipeline.embedWave(spark, batch, watchDir, indexDir, gen, embedder)
          AnnIndex.appendWave(spark, indexDir, rows)
          org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(rows)
          // freshness credit (ChatPipeline.checkIndex): record which
          // files this batch actually INDEXED, with their content hashes
          // — check-index then treats matching post-build new files as
          // fresh instead of false-stale. Only supported-extension files
          // are logged: an unsupported file (README, config) was seen
          // but not indexed, and the profile half of the index really is
          // stale for it.
          // hash executor-side, collect only (rel, md5) — never the bytes.
          // MUST live inside the same locked mutation as the chunk
          // append: with the lock released in between, a refresh reading
          // the manifest + log would not yet see this batch's files,
          // classify them as unindexed, and append a SECOND chunk set
          // for them (and its log deletion could drop these entries)
          val processed = batch
            .select(col("path"), md5(col("content")).as("h")).collect()
            .flatMap { r =>
              val rel = r.getString(0).stripPrefix("file:")
                .stripPrefix(watchDir).dropWhile(_ == '/')
              val ext = rel.split('.').lastOption
                .filter(_ => rel.contains('.')).map(_.toLowerCase)
              if (ext.exists(supported.contains)) Some((rel, r.getString(1)))
              else None
            }
          ChatPipeline.appendProcessedLog(indexDir, processed.toSeq)
        }.getOrElse(throw new IllegalStateException(
          s"another live session holds the maintenance lock for '$indexDir' — " +
            "batch append aborted"))
        // a registered serving session must see this batch's appended
        // files, and the freshness TTL must not serve a pre-append
        // verdict (the processed log is part of its check key)
        ChatPipeline.indexChanged(spark, indexDir)
      }
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
  }
}
