package graft.chat

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** ANN index build + search (reference: src/ann.rs).
  *
  * The reference keeps everything in RAM and serializes the whole index
  * as one JSON blob (ann.rs:7-11, main.rs:368). Here the "index" is a
  * Parquet table `(chunk_id, file, code, language, extension, vector)`
  * plus, for the approximate path, a leaf assignment from a seeded
  * random-projection forest (16 trees, seed 42 — ann.rs:254 parity)
  * stored `(tree, leaf, chunk_id)` and written partitioned by
  * (tree, leaf) so a query's candidate lookup becomes partition pruning
  * at the scan, not a shuffle.
  *
  * Search (I9-I11): exact = distance expression + TakeOrderedAndProject
  * (orderBy+limit compiles to Spark's physical top-k, no full sort);
  * approx = per-tree leaf lookup -> union of candidate leaves -> exact
  * distance top-k over candidates only.
  */
object AnnIndex {

  val NumTrees = 16  // ann.rs:254
  val Seed = 42L     // ann.rs:254
  val LeafTarget = 100

  /** Payload buckets — the chunks table's second partition axis:
    * idbucket = chunk_id mod B. The ANN pushdown's rewritten plan
    * joins its k winner candidates against chunks on (chunk_id,
    * idbucket), so dynamic partition pruning cuts the payload fetch to
    * the <= k winner buckets instead of scanning the corpus — the
    * piece that makes the indexed serving path sublinear end-to-end
    * (candidate selection is leaf-pruned and ~constant; the payload
    * read is k buckets of ~PayloadBucketTargetRows each). A modulo on
    * the low bits is uniform for both base-build ids (dense 0..n) and
    * incremental ids ((gen<<32)|seq — the low word is the dense
    * per-batch seq).
    *
    * B is SIZED AT BUILD — B ≈ rows / PayloadBucketTargetRows, power
    * of two, clamped — and recorded in `payload_buckets` next to the
    * table: one bucket stays a bounded read at any corpus size, and a
    * small index never shatters into per-row files (the small-file
    * scan tax would punish every FULL scan of chunks, brute kNN
    * included). Appends read the recorded B, never re-derive it — the
    * id->bucket mapping must stay stable for the life of the index. */
  val PayloadBucketTargetRows = 256L
  val PayloadBucketsMin = 8
  val PayloadBucketsMax = 4096
  val PayloadBucketsLegacyDefault = 64

  def payloadBucketsFor(n: Long): Int = {
    val raw = math.max(1L, n / PayloadBucketTargetRows)
    val p = java.lang.Long.highestOneBit(raw).toInt
    math.min(PayloadBucketsMax, math.max(PayloadBucketsMin, p))
  }

  /** Record B through a temp file and an atomic rename, so a crash
    * mid-write never leaves an empty or partial `payload_buckets`. */
  private def writePayloadBuckets(path: String, b: Int): Unit = {
    val dir = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(dir)
    val tmp = java.nio.file.Files.createTempFile(dir, ".payload_buckets", ".tmp")
    java.nio.file.Files.writeString(tmp, b.toString)
    java.nio.file.Files.move(tmp, dir.resolve("payload_buckets"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** The recorded bucket count of an existing index (appenders MUST use
    * this, never re-derive from a live count). A missing file is first
    * RECORDED as the legacy default (a bucketed table created by the
    * stream never went through save()), so later appenders read the same
    * constant from the artifact, not from code-version coincidence. An
    * unreadable or malformed file throws, naming the path and its
    * content: bucketing an append with any other B than the build's
    * would scatter ids across the wrong buckets. */
  def ensurePayloadBuckets(path: String): Int = {
    val p = java.nio.file.Paths.get(path, "payload_buckets")
    if (!java.nio.file.Files.exists(p))
      writePayloadBuckets(path, PayloadBucketsLegacyDefault)
    val raw = java.nio.file.Files.readString(p)
    raw.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalStateException(
      s"malformed payload_buckets at $p: '$raw' (expected a positive bucket count)"))
  }

  /** Add the idbucket column iff absent (idempotent). */
  def withIdBucket(chunks: DataFrame, buckets: Int): DataFrame =
    if (chunks.columns.contains("idbucket")) chunks
    else chunks.withColumn("idbucket",
      pmod(col("chunk_id"), lit(buckets.toLong)).cast("int"))

  /** Whether an existing chunks table carries the idbucket partition
    * axis (layouts from before payload bucketing existed do not;
    * appends must match the live layout, never mix). Cached per path —
    * the layout of a live index never changes, and re-listing a
    * growing partitioned dir per micro-batch would be a fixed append
    * tax. */
  private val idBucketLayout =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  def hasIdBucket(spark: SparkSession, path: String): Boolean = {
    val cached = idBucketLayout.get(path)
    if (cached != null) cached.booleanValue()
    // a table with no data yet means this append creates it: the
    // modern layout is the right default (and nothing is cached — a
    // verdict must come from an actual read). An EXISTING but
    // unreadable table fails the read loudly (the stream retries its
    // batch): guessing a layout could write mixed partition depths
    else if (noTable(s"$path/chunks")) true
    else {
      val v = spark.read.parquet(s"$path/chunks").columns.contains("idbucket")
      idBucketLayout.put(path, v)
      v
    }
  }

  /** The chunks table's partition columns in the live layout. */
  def chunkPartitionCols(spark: SparkSession, path: String): Seq[String] =
    if (hasIdBucket(spark, path)) Seq("language", "idbucket") else Seq("language")

  /** True while the parquet dir holds no table: absent, or the empty
    * directory an all-rows-purged swap leaves behind. */
  private def noTable(dir: String): Boolean = {
    val p = java.nio.file.Paths.get(dir)
    !java.nio.file.Files.isDirectory(p) || {
      val ls = java.nio.file.Files.list(p)
      try !ls.findAny().isPresent finally ls.close()
    }
  }

  /** Chunks are written partitioned by (language, idbucket): language
    * so the retrieval filters (F3/F6) and language-targeted queries
    * prune partitions at the scan (SURVEY.md §1.3), idbucket for the
    * pushdown's payload fetch (see [[payloadBucketsFor]]). Null
    * languages land in the hive default partition and read back null.
    * The input is checkpointed once so sizing the buckets (a count)
    * and writing the table never recompute the embed pass — at real
    * scale this staging materialization is a disk landing zone, not
    * executor memory. */
  def save(chunks: DataFrame, path: String): Unit = {
    val snap = chunks.localCheckpoint(true)
    try {
      val b = payloadBucketsFor(snap.count())
      writePayloadBuckets(path, b)
      // a rebuild at this path supersedes any cached layout verdict —
      // a stale 'false' would make the next append write unbucketed
      // rows into the bucketed table (mixed partition depth, unreadable)
      idBucketLayout.remove(path)
      // repartition ON the partition keys: one file per (language,
      // bucket) dir instead of one per (writer task x dir) — a
      // scattered layout multiplies file opens on every scan (the
      // serving path's per-query fixed cost, and brute kNN's too)
      withIdBucket(snap, b)
        .repartition(col("language"), col("idbucket"))
        .write.mode("overwrite")
        .partitionBy("language", "idbucket").parquet(s"$path/chunks")
    } finally org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(snap)
  }

  def load(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/chunks")

  /** Serving read of the chunks table: the partition listing (B x
    * language dirs) is pinned per (session, index) so a query burst
    * doesn't re-list the tree on every request — the same
    * registration-pins-the-listing discipline AnnCatalog applies to
    * the forest, and it serves BOTH engines (brute kNN scans this
    * frame too). JVM-local: the in-process mutators (refresh-index,
    * incremental appends, compaction, swap repair) invalidate it; an
    * out-of-process mutation needs a new session or an explicit
    * [[invalidateServing]], the documented per-session contract. */
  private val servingChunks = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), DataFrame]()
  def loadServing(spark: SparkSession, path: String): DataFrame =
    servingChunks.computeIfAbsent((spark, path), _ => load(spark, path))
  def invalidateServing(path: String): Unit =
    servingChunks.keySet.removeIf(_._2 == path)

  /** Dim sniffing (S4 analog): schema-on-read makes the reference's
    * 512-then-1024 deserialize fallback (main.rs:554-565) a one-liner. */
  def dim(chunks: DataFrame): Int =
    chunks.select(size(col("vector"))).head().getInt(0)

  private def distance(q: Array[Float]): Column =
    // native fused-loop expression; bit-identical to the HOF
    // formulation (VectorFunctions.cosineDistance) and the anchor the
    // ANN pushdown rule pattern-matches on
    graft.functions.CosineDistanceExpr(col("vector"), typedLit(q.toSeq))

  /** Batch kNN: many queries against the corpus in ONE job — the batch
    * generalization of I9 (SURVEY.md §2.I calls this the marquee Spark
    * operator). The query set is broadcast, the corpus is scanned once,
    * and per-query top-k comes from a window on query_id: one shuffle
    * of k*|queries| candidate rows, never the corpus. */
  def knnBatch(spark: SparkSession, chunks: DataFrame,
               queries: Seq[(Long, Array[Float])], k: Int): DataFrame = {
    import spark.implicits._
    val qDf = broadcast(
      queries.map { case (id, v) => (id, v.toSeq) }.toDF("query_id", "qvec"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("distance").asc, col("chunk_id").asc)
    chunks.join(qDf)
      .withColumn("distance",
        graft.functions.CosineDistanceExpr(col("vector"), col("qvec")))
      .withColumn("rank", (row_number().over(w) - 1).cast("long"))
      .filter(col("rank") < k)
      .drop("qvec")
      .orderBy("query_id", "rank")
  }

  /** I9 exact kNN: full-scan distance + physical top-k. `rank` mirrors
    * the reference's enumeration-position `index` (hyde.rs:1225-1233). */
  def knnExact(chunks: DataFrame, query: Array[Float], k: Int): DataFrame = {
    val hits = chunks
      .withColumn("distance", distance(query))
      .orderBy(col("distance").asc, col("chunk_id").asc)
      .limit(k)
    // rank over <= k post-limit rows WITHOUT a global window (whose
    // "No Partition Defined" warning would drown out real ones; a
    // constant partition key doesn't help — Spark 4's
    // EliminateWindowPartitions folds it away). coalesce(1) makes the
    // single partition explicit, the local sort pins the order, and
    // monotonically_increasing_id (nondeterministic, so never pushed
    // below the sort) numbers rows 0..k-1 in that order.
    hits.coalesce(1)
      .sortWithinPartitions(col("distance").asc, col("chunk_id").asc)
      .withColumn("rank", monotonically_increasing_id())
  }

  // -------------------------------------------------------------------
  // Random-projection forest (approximate path).
  // -------------------------------------------------------------------

  /** Seeded per-tree hyperplanes; depth chosen so expected leaf size
    * <= LeafTarget. Returns (tree, level) -> plane. */
  def sampleForest(dim: Int, nRows: Long, seed: Long = Seed): Array[Array[Array[Float]]] = {
    val depth = math.max(1,
      math.ceil(math.log(math.max(1.0, nRows.toDouble / LeafTarget)) / math.log(2)).toInt)
    val rng = new scala.util.Random(seed)
    Array.fill(NumTrees)(Array.fill(depth)(Array.fill(dim)((rng.nextDouble() * 2 - 1).toFloat)))
  }

  private def leafExpr(planes: Array[Array[Float]]): Column =
    planes.zipWithIndex.map { case (p, lvl) =>
      when(VectorFunctions.dot(col("vector"), typedLit(p.toSeq)) >= 0,
        lit(1L << lvl)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Filter metadata carried into the forest rows: lets a registered-
    * index query evaluate folder/extension/language predicates AT the
    * leaf-pruned forest scan — before any distance math — instead of
    * post-filtering fetched candidates (AnnPushdownRule's filter-aware
    * variant). Strings only, no vectors: the forest stays narrow. */
  private val ForestMetaColumns = Seq("file", "language", "extension")

  /** I8: leaf assignment for every (tree, vector). The result is written
    * partitioned by (tree, leaf): queries prune to NumTrees partitions.
    *
    * Forest rows also CARRY the vector (and the idbucket payload key):
    * leaf-co-located vectors are what lets the pushdown's candidate
    * top-k run entirely inside the partition-pruned leaf scan — the
    * IVF discipline (vectors live in the cell) applied per tree. The
    * cost is NumTrees copies of the vector column in the index
    * artifact, the classic ANN space-for-time trade (the reference
    * holds the whole index in RAM, ann.rs:7-11); text payload is NOT
    * duplicated — it stays once in chunks/, fetched post-top-k via the
    * bucket-pruned join. */
  def buildForestIndex(chunks: DataFrame, forest: Array[Array[Array[Float]]]): DataFrame = {
    val meta = ForestMetaColumns.filter(chunks.columns.contains).map(col)
    // idbucket rides along when the chunks layout carries it (callers
    // bucket append rows to match the live layout first); the vector
    // always does
    val extras = Seq("idbucket", "vector")
      .filter(chunks.columns.contains).map(col)
    forest.zipWithIndex.map { case (planes, t) =>
      chunks.select(lit(t).as("tree") +: leafExpr(planes).as("leaf") +:
        col("chunk_id") +: (meta ++ extras): _*)
    }.reduce(_ unionAll _)
  }

  /** One file per (tree, leaf) dir (repartition on the partition keys):
    * a query's candidate read opens NumTrees files, not NumTrees x
    * writer-task fragments — with leaf-co-located vectors the
    * candidate scan IS the serving path's per-query work, and file
    * opens are its fixed cost. */
  def saveForestIndex(index: DataFrame, path: String): Unit =
    index.repartition(col("tree"), col("leaf"))
      .write.mode("overwrite").partitionBy("tree", "leaf").parquet(s"$path/forest")

  /** Leaf-occupancy skew over a saved forest: (hottest leaf rows,
    * p99 leaf rows, (tree, leaf) dir count, total rows). RP-tree
    * hyperplanes split by dot-product sign, so near-IDENTICAL vectors
    * land in the same leaf at ANY depth — a corpus carrying a massive
    * near-duplicate family builds a megaleaf no deeper forest can
    * split (measured: a 512× replicated corpus put 29% of 1.14M rows
    * in ONE leaf), and every query that hits it pays an O(family)
    * scan. The answer is upstream of the index — near-dup dedup (the
    * q14 MinHash / q66 SemDeDup family) — so the BUILD measures and
    * reports the hazard rather than hiding it. One aggregation over
    * the (tree, leaf)-partitioned artifact, driver result is 4 longs. */
  def leafSkew(spark: SparkSession, path: String): (Long, Long, Long, Long) = {
    val r = spark.read.parquet(s"$path/forest")
      .groupBy(col("tree"), col("leaf")).count()
      .agg(max(col("count")), expr("percentile(count, 0.99)"),
        count(lit(1)), sum(col("count")))
      .collect()(0)
    (r.getLong(0), r.getDouble(1).toLong, r.getLong(2), r.getLong(3))
  }

  /** Persist the sampled hyperplanes alongside the leaf index. The
    * planes ARE the index identity: re-deriving them from (seed, dim,
    * live row count) silently breaks the moment the count drifts from
    * build time (e.g. after IncrementalIndex appends, or if sampling
    * ever changes), because forest depth is a function of n and every
    * plane after the first draw shifts with it. Tiny table:
    * trees x depth rows of dim floats. */
  def savePlanes(spark: SparkSession, forest: Array[Array[Array[Float]]], path: String): Unit = {
    import spark.implicits._
    val rows = for {
      (planes, t) <- forest.zipWithIndex.toSeq
      (p, lvl) <- planes.zipWithIndex
    } yield (t, lvl, p.toSeq)
    rows.toDF("tree", "level", "plane")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/planes")
  }

  def loadPlanes(spark: SparkSession, path: String): Array[Array[Array[Float]]] =
    spark.read.parquet(s"$path/planes")
      .select("tree", "level", "plane")
      .collect()
      .groupBy(_.getInt(0)).toArray.sortBy(_._1)
      .map { case (_, rows) =>
        rows.sortBy(_.getInt(1)).map(_.getSeq[Float](2).toArray)
      }

  def hasPlanes(path: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(path, "planes"))

  /** The one append of index maintenance (refresh-index's wave, each
    * watcher batch), run by the caller under the maintenance lock.
    * `rows` (chunk-row columns, ids already assigned) are bucketed to
    * the LIVE layout — mixing idbucket-partitioned and language-only
    * layouts would leave the table unreadable — and appended to
    * chunks/; when the index persists its planes, their forest leaf
    * rows append to forest/ in the EXISTING forest's schema: a
    * pre-metadata forest must stay uniformly metadata-free, because
    * filter translation (plans.AnnPushdown) evaluates re-targeted
    * predicates against forest rows, and mixed generations would read
    * old rows' metadata as null and silently drop every pre-upgrade
    * chunk from filtered ANN results. Leaf assignment uses the
    * PERSISTED planes, so old and new assignments agree. An empty wave
    * writes nothing. */
  private[graft] def appendWave(spark: SparkSession, path: String, rows: DataFrame): Unit =
    if (!rows.isEmpty) {
      val parts = chunkPartitionCols(spark, path)
      val wave =
        if (parts.contains("idbucket")) withIdBucket(rows, ensurePayloadBuckets(path))
        else rows
      wave.write.mode("append").partitionBy(parts: _*).parquet(s"$path/chunks")
      if (hasPlanes(path)) {
        val newRows = buildForestIndex(wave, loadPlanes(spark, path))
        val forestDir = s"$path/forest"
        val existingCols =
          if (noTable(forestDir)) newRows.columns.toSet
          else spark.read.parquet(forestDir).columns.toSet
        newRows.select(newRows.columns.filter(existingCols.contains).map(col).toSeq: _*)
          .write.mode("append").partitionBy("tree", "leaf").parquet(forestDir)
      }
    }

  /** Compact the chunks table after incremental appends: every
    * micro-batch append writes its own small parquet files, and small
    * files are the classic slow poison of a streaming-maintained table
    * (one scan task per file, metadata pressure). Rewrites the table —
    * one shuffle keyed on the partition columns, one file per
    * partition dir (at real scale, add a bucket-salt column sized by
    * target file bytes to emit N size-bounded files instead) — through
    * the journaled swap refresh-index uses (ChatPipeline.rewriteSwap),
    * so a crash between its renames is repaired like any other swap.
    * Returns the number of data files after compaction.
    *
    * Runs under the index maintenance lock: a watcher batch appends
    * under the same lock, so no append can land between the snapshot
    * read and the swap (it waits, then appends to the compacted
    * table); like every mutator, a lock wait past its bound fails
    * loudly. */
  def compactChunks(spark: SparkSession, path: String): Long =
    ChatPipeline.withIndexLock(path) {
      ChatPipeline.repairSwap(s"$path/chunks")
      val parts = chunkPartitionCols(spark, path)
      ChatPipeline.rewriteSwap(spark, s"$path/chunks", parts,
        _.repartition(parts.map(col): _*))
      ChatPipeline.indexChanged(spark, path)
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(path, "chunks"))
      try walk.filter(_.toString.endsWith(".parquet")).count()
      finally walk.close()
    }.getOrElse(throw new IllegalStateException(
      s"another live session holds the maintenance lock for '$path' — " +
        "compaction aborted"))

  /** Query-side leaf ids, one per tree (driver-side tiny compute). */
  def queryLeaves(query: Array[Float], forest: Array[Array[Array[Float]]]): Seq[(Int, Long)] =
    forest.zipWithIndex.map { case (planes, t) =>
      val leaf = planes.zipWithIndex.map { case (p, lvl) =>
        val d = p.zip(query).map { case (a, b) => a.toDouble * b.toDouble }.sum
        if (d >= 0) 1L << lvl else 0L
      }.sum
      (t, leaf)
    }.toSeq

  /** I9 approximate kNN: candidate chunk_ids from the query's leaf in
    * each tree (partition-pruned scan), then exact top-k over those. */
  def knnApprox(spark: SparkSession, chunks: DataFrame, forestIndex: DataFrame,
                forest: Array[Array[Array[Float]]],
                query: Array[Float], k: Int): DataFrame = {
    val leaves = queryLeaves(query, forest)
    val cond = leaves.map { case (t, l) =>
      col("tree") === t && col("leaf") === l
    }.reduce(_ || _)
    val candidates = forestIndex.filter(cond).select("chunk_id").distinct()
    knnExact(chunks.join(candidates, "chunk_id"), query, k)
  }
}
