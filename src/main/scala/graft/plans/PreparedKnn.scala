package graft.plans

import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, EqualTo, Expression, InSet, Literal, Or}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType, LongType, ShortType, StringType}
import graft.chat.{AnnIndex, Retrieval}
import graft.functions.CosineDistanceExpr

/** Prepared-plan ANN serving executor (round-12 serving floor; VERDICT
  * r11 next-round item 1).
  *
  * The AnnPushdownRule path re-analyzes, re-optimizes and re-plans the
  * full semi-join + DPP query for EVERY serving request, although the
  * only things that change between requests are (a) the query-vector
  * literal and (b) the (tree, leaf) partition predicate — measured
  * ~55 ms of planning plus ~75 ms of broadcast/DPP machinery per query
  * on a quiet box, a fixed tax that dominates interactive latency.
  * This is the classic prepared-statement fix: capture the PHYSICAL
  * plans once per (session, index, k) shape, then per query swap only
  * the literals and re-execute.
  *
  * Two single-job plans per request:
  *
  *  1. `cand`: (tree, leaf)-partition-pruned forest scan → cosine
  *     distance on the leaf-co-located vector copy → global top
  *     (k × NumTrees) by (distance, chunk_id) via
  *     TakeOrderedAndProjectExec.executeCollect — per-partition top-k,
  *     driver merge, NO shuffle stage. k × NumTrees raw rows bound the
  *     winners: copies of a chunk carry bit-identical vectors (hence
  *     bit-equal distances), so every row ordered before the k-th
  *     distinct chunk's first copy belongs to at most k-1 better
  *     chunks × NumTrees copies + the winner's own earlier copies
  *     < k × NumTrees. Driver dedups (first copy per chunk in sort
  *     order == min distance) — exactly the rule path's
  *     Aggregate(min)/Sort/Limit fragment.
  *  2. `payload`: chunks scan with a STATIC `idbucket ∈ winners`
  *     partition filter (≤ k buckets — what the rule path needs DPP
  *     for) and a `chunk_id ∈ winners` data filter pushed to parquet.
  *
  * Literal swapping preserves codegen-cache hits: the query vector is
  * a non-primitive literal (a codegen REFERENCE, not inlined source),
  * the leaf predicate lives in partitionFilters (evaluated driver-side
  * at file pruning, never codegen'd), and the id filters are [[InSet]]
  * (set object referenced, arity-independent source). The generated
  * source is therefore byte-identical across queries and Janino's
  * compile cache short-circuits — swap + partition re-pruning costs
  * ~1 ms.
  *
  * Results are bit-identical to the AnnPushdownRule fast path (spec:
  * PreparedKnnSpec): same forest, same leaves, same candidate set,
  * same (distance, chunk_id) order, and the distance values come from
  * the forest's bit-identical vector copies. Staleness discipline is
  * the catalog's own: per-query stamp revalidation (two stats) catches
  * out-of-process index mutations; in-process mutators invalidate via
  * [[AnnCatalog.register]].
  */
object PreparedKnn {

  final case class Prepared(
      stamp: (Option[(Long, Long)], Option[(Long, Long)]),
      forest: Array[Array[Array[Float]]],
      candPlan: SparkPlan,
      vecType: DataType,
      bucketIsInt: Boolean,
      payloadPlan: SparkPlan)

  /** keyed by (session, indexDir, k2) — one prepared shape per
    * over-fetch width. */
  private val entries = TrieMap.empty[(SparkSession, String, Int), Prepared]

  /** Serving-path coverage counter for the ServeBench gate: number of
    * queries answered through the prepared plans (reset per series). */
  val served = new java.util.concurrent.atomic.AtomicLong(0)

  /** Cumulative per-phase serving time (nanos) across the JVM, for
    * tail-latency ATTRIBUTION under concurrency (ServeBench snapshots
    * before/after a series and prints the deltas): 0 = driver prep
    * (stamp revalidation, cache lookup, forest leaf walk, literal
    * swap), 1 = candidate job executeCollect, 2 = driver merge +
    * payload swap, 3 = payload job executeCollect. Two atomic adds per
    * phase per query — noise next to a ~100 ms query. */
  val phaseNanos: Array[java.util.concurrent.atomic.AtomicLong] =
    Array.fill(4)(new java.util.concurrent.atomic.AtomicLong(0))

  def invalidate(indexDir: String): Unit = {
    entries.keys.filter(_._2 == indexDir).foreach(entries.remove)
    PayloadStore.invalidate(indexDir)
  }

  def clear(): Unit = { entries.clear(); PayloadStore.clear() }

  /** Leaf partition predicate as ONE hash lookup per partition dir:
    * `InSet((tree :: long) << 32 | leaf, keys)`. The rule path's
    * Or-of-Ands costs a 16-term interpreted walk per partition at
    * pruning time — at a 284k-chunk index the forest holds ~65k
    * (tree, leaf) dirs, so that walk is a per-query serving tax that
    * grows with the corpus; the encoded InSet keeps pruning flat. The
    * set is also what makes per-query swapping uniform: every mutable
    * piece of both templates is an InSet payload (arity-independent,
    * codegen-invariant) or the vector literal (a codegen reference). */
  private def leafKeyExpr(treeA: AttributeReference,
                          leafA: AttributeReference): Option[Expression] = {
    import org.apache.spark.sql.catalyst.expressions.{Add, Cast, Multiply}
    def asLong(a: AttributeReference): Option[Expression] = a.dataType match {
      case LongType => Some(a)
      case IntegerType | ShortType => Some(Cast(a, LongType))
      case _ => None
    }
    for { t <- asLong(treeA); l <- asLong(leafA) }
      yield Add(Multiply(t, Literal(1L << 32)), l)
  }

  private def leafKeys(leaves: Seq[(Int, Long)]): Set[Any] =
    leaves.map { case (t, l) => Long.box((t.toLong << 32) + l) }.toSet

  /** Build both physical templates. Returns None when the index
    * pre-dates the round-9 layout (no co-located vector/idbucket) or
    * the captured plans fail the structural audit — callers fall back
    * to the always-correct rule/brute path. */
  private def prepare(spark: SparkSession, indexDir: String,
                      e: AnnCatalog.Entry, k2: Int): Option[Prepared] = {
    import org.apache.spark.sql.functions.col
    val fd = e.forestDf
    val outNames = fd.queryExecution.analyzed.output.map(_.name)
    if (!Seq("vector", "idbucket", "tree", "leaf", "chunk_id")
        .forall(outNames.contains)) return None
    if (e.forest.isEmpty || e.forest(0).isEmpty) return None
    val dim = e.forest(0)(0).length

    // template literals: any leaf per tree / any vector — swapped per
    // query before execution, never executed as-is
    val q0 = Array.fill(dim)(0f)
    val vecType = ArrayType(FloatType, containsNull = false)
    def vecLit(q: Array[Float]): Literal =
      Literal.create(q.toSeq, vecType)

    // capture STATIC plans: the templates are transformed and executed
    // directly, which an AdaptiveSparkPlanExec wrapper would break
    val aqeKey = "spark.sql.adaptive.enabled"
    val aqePrev = spark.conf.get(aqeKey)
    val (candPlan0, payloadPlan0, bucketIsInt) =
      try {
        spark.conf.set(aqeKey, "false")
        val byName = fd.queryExecution.analyzed.output.map(a => a.name -> a).toMap
        val distCol = org.apache.spark.sql.graft.Bridge.column(
          CosineDistanceExpr(byName("vector"), vecLit(q0)))
        val treeA0 = byName("tree").asInstanceOf[AttributeReference]
        val leafA0 = byName("leaf").asInstanceOf[AttributeReference]
        val leaves0 = AnnIndex.queryLeaves(q0, e.forest)
        val key0 = leafKeyExpr(treeA0, leafA0).getOrElse(return None)
        val cond0 = InSet(key0, leafKeys(leaves0))
        val cand = fd
          .filter(org.apache.spark.sql.graft.Bridge.column(cond0))
          .select(col("chunk_id"), col("idbucket"), distCol.as("__dist"))
          .orderBy(col("__dist").asc, col("chunk_id").asc)
          .limit(k2 * AnnIndex.NumTrees)

        val chunks = AnnIndex.loadServing(spark, indexDir)
        val cByName = chunks.queryExecution.analyzed.output.map(a => a.name -> a).toMap
        if (!Seq("idbucket", "chunk_id", "file", "code", "language", "extension")
            .forall(cByName.contains)) return None
        val bA = cByName("idbucket")
        val cA = cByName("chunk_id")
        val bucketIsInt = bA.dataType == IntegerType
        if (!Seq(IntegerType, LongType).contains(bA.dataType) ||
            cA.dataType != LongType) return None
        val payload = chunks
          .filter(org.apache.spark.sql.graft.Bridge.column(
            And(InSet(bA, Set(if (bucketIsInt) Int.box(0) else Long.box(0L))),
              InSet(cA, Set(Long.box(0L))))))
          .select("chunk_id", "file", "code", "language", "extension")
        (cand.queryExecution.executedPlan, payload.queryExecution.executedPlan,
          bucketIsInt)
      } finally spark.conf.set(aqeKey, aqePrev)

    // structural audit — a template that would silently scan the world
    // must not be installed
    def scans(p: SparkPlan) = p.collect { case f: FileSourceScanExec => f }
    val candScans = scans(candPlan0)
    val candOk = candPlan0.isInstanceOf[TakeOrderedAndProjectExec] &&
      candScans.size == 1 &&
      candScans.head.relation.location.rootPaths.exists(
        _.toString.stripSuffix("/").endsWith(
          s"${indexDir.stripPrefix("file:")}/forest")) &&
      candScans.head.partitionFilters.exists(_.exists {
        case InSet(e, _) =>
          e.references.map(_.name).toSet == Set("tree", "leaf")
        case _ => false
      })
    val payScans = scans(payloadPlan0)
    val payOk = payScans.size == 1 &&
      payScans.head.partitionFilters.exists(_.exists {
        case InSet(a: AttributeReference, _) => a.name == "idbucket"
        case _ => false
      }) &&
      payScans.head.dataFilters.exists(_.exists {
        case InSet(a: AttributeReference, _) => a.name == "chunk_id"
        case _ => false
      })
    if (!candOk || !payOk) return None
    Some(Prepared((null, null), e.forest, candPlan0, vecType,
      bucketIsInt, payloadPlan0))
  }

  /** One serving request through the prepared plans. None when the
    * index is not registered or not preparable — the caller falls back
    * to the rule/brute DataFrame path. */
  def search(spark: SparkSession, indexDir: String, q: Array[Float],
             k2: Int): Option[Seq[Retrieval.LocalHit]] = {
    // physical-plan nodes capture the ACTIVE session at construction;
    // the per-query transform copies nodes on a caller thread that may
    // have none set (SparkPlan.session would be null at executeQuery)
    SparkSession.setActiveSession(spark)
    val tPrep0 = System.nanoTime()
    val chunksKey = s"$indexDir/chunks"
    val entry0 = AnnCatalog.entries.get(chunksKey).getOrElse(return None)
    val key = (spark, indexDir, k2)
    val stampNow = AnnCatalog.stampOf(indexDir)
    val prep = entries.get(key) match {
      case Some(p) if p.stamp == stampNow => p
      case _ =>
        // (re)prepare: on stamp drift re-register the catalog first so
        // the templates capture the LIVE forest listing and planes
        val e =
          if (entry0.stamp == stampNow) entry0
          else {
            AnnCatalog.register(spark, indexDir)
            AnnCatalog.entries.get(chunksKey).getOrElse(return None)
          }
        prepare(spark, indexDir, e, k2) match {
          case Some(p0) =>
            val p = p0.copy(stamp = AnnCatalog.stampOf(indexDir))
            entries.put(key, p)
            // the executor-resident payload store is the (re)prepare
            // path's build half too: one untimed chunks pass here buys
            // every query a point-lookup payload job instead of a
            // parquet scan (VERDICT r14 item 4). Failure is benign —
            // lookups miss and the payload plan serves as before.
            try PayloadStore.build(spark, indexDir, p.stamp)
            catch { case _: Exception => () }
            p
          case None => return None
        }
    }

    // ---- literal swap ----
    val leaves = AnnIndex.queryLeaves(q, prep.forest)
    val keys = leafKeys(leaves)
    val qLit = Literal.create(q.toSeq, prep.vecType)
    val cand = prep.candPlan.transformAllExpressions {
      case InSet(e, _) if e.references.map(_.name).toSet == Set("tree", "leaf") =>
        InSet(e, keys)
      case CosineDistanceExpr(v, _: Literal) => CosineDistanceExpr(v, qLit)
    }

    // ---- job 1: candidate top-(k2 x NumTrees), driver merge ----
    val tJob1 = System.nanoTime()
    phaseNanos(0).addAndGet(tJob1 - tPrep0)
    val raw = cand.executeCollect()
    val tMerge0 = System.nanoTime()
    phaseNanos(1).addAndGet(tMerge0 - tJob1)
    // dedup in sort order: first copy per chunk == min distance; stop
    // at k2 distinct winners
    val seen = scala.collection.mutable.LinkedHashMap.empty[Long, (Long, Double)]
    var i = 0
    while (i < raw.length && seen.size < k2) {
      val r = raw(i)
      val id = r.getLong(0)
      if (!seen.contains(id)) {
        val bucket = if (prep.bucketIsInt) r.getInt(1).toLong else r.getLong(1)
        seen.put(id, (bucket, r.getDouble(2)))
      }
      i += 1
    }
    if (seen.isEmpty) { served.incrementAndGet(); return Some(Seq.empty) }

    // ---- job 2: payload fetch for the <= k2 winners ----
    // preferred lane (round 15): point lookups against the executor-
    // resident PayloadStore — one job, <= k2 single-lookup tasks, no
    // parquet on the serving path. Fallback lane: the prepared parquet
    // payload plan over the winner buckets (absent/stale store) — the
    // always-correct shape the store is spec-pinned bit-identical to.
    val tJob2 = System.nanoTime()
    phaseNanos(2).addAndGet(tJob2 - tMerge0)
    // payload jobs stay ungated: the store lookup is <= k2 single-
    // lookup tasks (a point job, not a stage fight) and queueing it
    // behind candidate admissions measurably moved its phase mean from
    // ~10 ms to ~47 ms at 8 streams — the gate exists for the
    // multi-task candidate job only
    val byId: Map[Long, PayloadStore.ChunkPayload] =
      PayloadStore.lookup(spark, indexDir, prep.stamp, seen.keys.toSeq)
        .getOrElse {
          val bucketSet: Set[Any] =
            if (prep.bucketIsInt) seen.values.map(v => Int.box(v._1.toInt)).toSet
            else seen.values.map(v => Long.box(v._1)).toSet
          val idSet: Set[Any] = seen.keys.map(Long.box).toSet
          val payload = prep.payloadPlan.transformAllExpressions {
            case InSet(a: AttributeReference, _) if a.name == "idbucket" => InSet(a, bucketSet)
            case InSet(a: AttributeReference, _) if a.name == "chunk_id" => InSet(a, idSet)
          }
          payload.executeCollect().map { r =>
            def s(j: Int) = if (r.isNullAt(j)) null else r.getUTF8String(j).toString
            r.getLong(0) -> PayloadStore.ChunkPayload(s(1), s(2), Option(s(3)), Option(s(4)))
          }.toMap
        }
    phaseNanos(3).addAndGet(System.nanoTime() - tJob2)
    // winner order == (distance, chunk_id) == LinkedHashMap insertion
    // order; ids missing from chunks drop out, the semi-join semantics
    val hits = seen.iterator.flatMap { case (id, (_, dist)) =>
      byId.get(id).map { p =>
        Retrieval.LocalHit(p.file, p.code, p.language, p.extension, dist)
      }
    }.toSeq
    served.incrementAndGet()
    Some(hits)
  }
}
