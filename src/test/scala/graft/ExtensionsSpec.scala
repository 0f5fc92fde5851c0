package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Specs for the SparkSessionExtensions surface: the chunk_text SQL
  * Generator and the HOF-dot-product optimizer rewrite.
  *
  * Needs its own SparkSession: extensions bind at session build, and
  * getOrCreate would silently return another suite's session — so the
  * default/active session is cleared first (the underlying
  * SparkContext is still shared; only the session state is new). */
class ExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = {
    // leave a clean slate so later suites build their own session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  test("chunk_text UDTF explodes text into ordered chunks that round-trip") {
    val s = spark; import s.implicits._
    Seq(("line one\nline two\nline three", 0)).toDF("t", "id")
      .createOrReplaceTempView("chunk_in")
    val rows = spark.sql(
      """SELECT chunk_idx, chunk FROM chunk_in
        |LATERAL VIEW chunk_text(t, 12) AS chunk_idx, chunk""".stripMargin)
      .collect().sortBy(_.getInt(0))
    assert(rows.nonEmpty)
    assert(rows.forall(_.getString(1).length <= 12))
    assert(rows.map(_.getString(1)).mkString("") == "line one\nline two\nline three")
  }

  test("chunk_text defaults to the 1000-char reference budget") {
    val s = spark; import s.implicits._
    Seq(("x" * 2500, 0)).toDF("t", "id").createOrReplaceTempView("chunk_in2")
    val rows = spark.sql(
      "SELECT chunk FROM chunk_in2 LATERAL VIEW chunk_text(t) AS chunk_idx, chunk")
      .collect()
    assert(rows.length == 3)
    assert(rows.forall(_.getString(0).length <= 1000))
  }

  test("optimizer rewrites the HOF dot product to LongArrayDot") {
    // parquet-backed input: a local relation would be constant-folded
    // away before the plan can be inspected
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .selectExpr(
        "vec_id",
        "transform(embedding, x -> cast(floor(cast(x as double) * 1000000.0) as bigint)) AS a")
      .createOrReplaceTempView("vecs")
    val df = spark.sql(
      """SELECT vec_id, aggregate(zip_with(a, a, (x, y) -> x * y),
        |  0L, (acc, v) -> acc + v) AS nrm FROM vecs""".stripMargin)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("longarraydot"), s"rule did not fire; plan: $plan")
    // self dot product = squared norm > 0 for every non-zero vector
    assert(df.collect().forall(_.getLong(1) > 0))
  }

  test("rule leaves non-matching (double) aggregates untouched") {
    val s = spark; import s.implicits._
    Seq((Array(1.0, 2.0), Array(4.0, 5.0))).toDF("a", "b")
      .createOrReplaceTempView("dvecs")
    val df = spark.sql(
      """SELECT aggregate(zip_with(a, b, (x, y) -> x * y),
        |  cast(0.0 as double), (acc, v) -> acc + v) AS dot FROM dvecs""".stripMargin)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("longarraydot"))
    assert(df.collect()(0).getDouble(0) == 14.0)
  }

  test("ANN pushdown rewrites brute-force kNN into a forest semi-join") {
    import org.apache.spark.sql.functions._
    val repoDir = java.nio.file.Files.createTempDirectory("graft_ann_repo").toFile
    def w(rel: String, content: String): Unit = {
      val f = new java.io.File(repoDir, rel); f.getParentFile.mkdirs()
      java.nio.file.Files.writeString(f.toPath, content)
    }
    (1 to 40).foreach(i => w(s"src/file$i.rs",
      s"fn function_$i() { let value_$i = compute_$i(); }\n"))
    val idxDir = java.nio.file.Files.createTempDirectory("graft_ann_idx").toFile
    graft.chat.ChatPipeline.index(spark, repoDir.getAbsolutePath, idxDir.getAbsolutePath)
    graft.plans.AnnCatalog.register(spark, idxDir.getAbsolutePath)
    try {
      val emb = new graft.chat.HashingEmbedder()
      val q = emb.embed("compute function value")
      val chunks = graft.chat.AnnIndex.load(spark, idxDir.getAbsolutePath)
      // user writes plain brute-force kNN...
      val knn = chunks
        .withColumn("distance",
          graft.functions.CosineDistanceExpr(col("vector"), typedLit(q.toSeq)))
        .orderBy(col("distance").asc, col("chunk_id").asc)
        .limit(5)
      val optimized = knn.queryExecution.optimizedPlan.toString
      // ...the optimizer consults the registered index
      assert(optimized.contains("LeftSemi"), s"pushdown did not fire:\n$optimized")
      // results equal the explicit approximate search
      val n = chunks.count()
      val forest = graft.chat.AnnIndex.sampleForest(emb.dim, n)
      val forestIdx = spark.read.parquet(s"${idxDir.getAbsolutePath}/forest")
      val explicitApprox = graft.chat.AnnIndex
        .knnApprox(spark, chunks, forestIdx, forest, q, 5)
        .select("chunk_id", "distance").collect().map(r => (r.getLong(0), r.getDouble(1)))
      val pushed = knn.select("chunk_id", "distance").collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(pushed.toSeq == explicitApprox.toSeq)
    } finally graft.plans.AnnCatalog.clear()
  }

  test("ANN pushdown fires for the pure-SQL surface and for filter-on-top shapes") {
    import org.apache.spark.sql.functions._
    val repoDir = java.nio.file.Files.createTempDirectory("graft_ann_repo2").toFile
    def w(rel: String, content: String): Unit = {
      val f = new java.io.File(repoDir, rel); f.getParentFile.mkdirs()
      java.nio.file.Files.writeString(f.toPath, content)
    }
    (1 to 40).foreach(i => w(s"src/mod$i.py",
      s"def handler_$i():\n    return process_$i()\n"))
    val idxDir = java.nio.file.Files.createTempDirectory("graft_ann_idx2").toFile
    graft.chat.ChatPipeline.index(spark, repoDir.getAbsolutePath, idxDir.getAbsolutePath)
    graft.plans.AnnCatalog.register(spark, idxDir.getAbsolutePath)
    try {
      val emb = new graft.chat.HashingEmbedder()
      val q = emb.embed("process handler result")
      val chunks = graft.chat.AnnIndex.load(spark, idxDir.getAbsolutePath)
      chunks.createOrReplaceTempView("ann_chunks")
      // 1. pure SQL: no alias — the sort key IS the expression
      val qArr = q.map(v => s"cast($v as float)").mkString("array(", ",", ")")
      val sqlKnn = spark.sql(
        s"""SELECT chunk_id, file FROM ann_chunks
           |ORDER BY cosine_distance(vector, $qArr) ASC, chunk_id ASC
           |LIMIT 5""".stripMargin)
      val sqlPlan = sqlKnn.queryExecution.optimizedPlan.toString
      assert(sqlPlan.contains("LeftSemi"), s"SQL-surface pushdown did not fire:\n$sqlPlan")
      assert(sqlKnn.collect().length == 5)
      // 2. filter on the distance alias between sort and project: the
      //    predicate cannot push below the project, so the rule must
      //    descend through the Filter
      val filtered = chunks
        .withColumn("distance",
          graft.functions.CosineDistanceExpr(col("vector"), typedLit(q.toSeq)))
        .filter(col("distance") < 2.0)
        .orderBy(col("distance").asc, col("chunk_id").asc)
        .limit(5)
      val fPlan = filtered.queryExecution.optimizedPlan.toString
      assert(fPlan.contains("LeftSemi"), s"filter-on-top pushdown did not fire:\n$fPlan")
      assert(filtered.collect().length == 5)
      // both agree with the explicit approximate search over the
      // persisted planes
      val planes = graft.chat.AnnIndex.loadPlanes(spark, idxDir.getAbsolutePath)
      val forestIdx = spark.read.parquet(s"${idxDir.getAbsolutePath}/forest")
      val explicit = graft.chat.AnnIndex
        .knnApprox(spark, chunks, forestIdx, planes, q, 5)
        .select("chunk_id").collect().map(_.getLong(0))
      assert(sqlKnn.select("chunk_id").collect().map(_.getLong(0)).toSeq == explicit.toSeq)
      assert(filtered.select("chunk_id").collect().map(_.getLong(0)).toSeq == explicit.toSeq)
    } finally graft.plans.AnnCatalog.clear()
  }

  test("filter-aware ANN pushdown: metadata predicates evaluate at the leaf-pruned forest scan") {
    import org.apache.spark.sql.functions._
    val repoDir = java.nio.file.Files.createTempDirectory("graft_ann_repo3").toFile
    def w(rel: String, content: String): Unit = {
      val f = new java.io.File(repoDir, rel); f.getParentFile.mkdirs()
      java.nio.file.Files.writeString(f.toPath, content)
    }
    // two extensions so the predicate actually discriminates
    (1 to 40).foreach(i => w(s"src/file$i.rs",
      s"fn function_$i() { let value_$i = compute_$i(); }\n"))
    (1 to 10).foreach(i => w(s"docs/readme$i.md",
      s"notes about compute function value number $i\n"))
    val idxDir = java.nio.file.Files.createTempDirectory("graft_ann_idx3").toFile
    graft.chat.ChatPipeline.index(spark, repoDir.getAbsolutePath, idxDir.getAbsolutePath)
    graft.plans.AnnCatalog.register(spark, idxDir.getAbsolutePath)
    try {
      val emb = new graft.chat.HashingEmbedder()
      val q = emb.embed("compute function value")
      val chunks = graft.chat.AnnIndex.load(spark, idxDir.getAbsolutePath)
      val pred = col("extension") === "rs"
      val knn = chunks
        .withColumn("distance",
          graft.functions.CosineDistanceExpr(col("vector"), typedLit(q.toSeq)))
        .filter(pred)
        .orderBy(col("distance").asc, col("chunk_id").asc)
        .limit(5)
      assert(knn.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
        "pushdown did not fire under a metadata filter")
      knn.collect()
      // audit the executed plan: the forest-side scan keeps its
      // (tree, leaf) partition pruning AND evaluates the extension
      // predicate itself — candidates are filtered before any distance
      def flatten(p: org.apache.spark.sql.execution.SparkPlan):
          Seq[org.apache.spark.sql.execution.SparkPlan] = {
        import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
        val next = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case qs: QueryStageExec => Seq(qs.plan)
          case other => other.children
        }
        p +: next.flatMap(flatten)
      }
      val scans = flatten(knn.queryExecution.executedPlan)
        .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      val forestScan = scans.find(
        _.relation.location.rootPaths.exists(_.toString.contains("/forest")))
      assert(forestScan.nonEmpty, "no forest scan in the pushed plan")
      assert(forestScan.get.partitionFilters.nonEmpty,
        "leaf partition pruning lost under the metadata filter")
      assert(forestScan.get.dataFilters.exists(
        _.references.exists(_.name == "extension")),
        "metadata predicate did not reach the forest scan")
      // results equal the explicit approximate search over pre-filtered
      // chunks (the strictly-better inverse of post-filtering)
      val planes = graft.chat.AnnIndex.loadPlanes(spark, idxDir.getAbsolutePath)
      val forestIdx = spark.read.parquet(s"${idxDir.getAbsolutePath}/forest")
      val expected = graft.chat.AnnIndex
        .knnApprox(spark, chunks.filter(pred), forestIdx, planes, q, 5)
        .select("chunk_id", "distance").collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      val got = knn.select("chunk_id", "distance").collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.toSeq == expected.toSeq)
      assert(got.nonEmpty && got.length == 5)
    } finally graft.plans.AnnCatalog.clear()
  }

  test("pushdown never translates a SIDE table's same-named column onto the forest") {
    import org.apache.spark.sql.functions._
    val repoDir = java.nio.file.Files.createTempDirectory("graft_ann_repo4").toFile
    def w(rel: String, content: String): Unit = {
      val f = new java.io.File(repoDir, rel); f.getParentFile.mkdirs()
      java.nio.file.Files.writeString(f.toPath, content)
    }
    (1 to 40).foreach(i => w(s"src/file$i.rs",
      s"fn function_$i() { let value_$i = compute_$i(); }\n"))
    val idxDir = java.nio.file.Files.createTempDirectory("graft_ann_idx4").toFile
    graft.chat.ChatPipeline.index(spark, repoDir.getAbsolutePath, idxDir.getAbsolutePath)
    graft.plans.AnnCatalog.register(spark, idxDir.getAbsolutePath)
    try {
      val emb = new graft.chat.HashingEmbedder()
      val q = emb.embed("compute function value")
      val chunks = graft.chat.AnnIndex.load(spark, idxDir.getAbsolutePath)
      // a parquet side table whose `language` column shares name+type
      // with forest metadata but holds values the forest never does
      // ("rust", not "Rust") — a filter on IT must not empty the
      // candidate set by being re-anchored onto the forest scan
      val sideDir = java.nio.file.Files.createTempDirectory("graft_ann_side").toString
      chunks.select(col("chunk_id"), lower(col("language")).as("language"))
        .write.mode("overwrite").parquet(sideDir)
      val side = spark.read.parquet(sideDir)
        .withColumnRenamed("language", "side_language")
      val joined = chunks.join(
          side.withColumnRenamed("side_language", "language")
            .withColumnRenamed("chunk_id", "side_id"),
          col("chunk_id") === col("side_id"))
        .drop(chunks("language"))
      val knn = joined
        .withColumn("distance",
          graft.functions.CosineDistanceExpr(chunks("vector"), typedLit(q.toSeq)))
        .filter(col("language") === "rust")
        .orderBy(col("distance").asc, col("chunk_id").asc)
        .limit(5)
      val got = knn.select("chunk_id", "distance").collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      // ground truth: every chunk IS rust (lowercased side column), so
      // the filter drops nothing and the query must return a full k —
      // a mistranslated predicate (language='rust' against the
      // forest's 'Rust' values) would return zero rows
      assert(got.length == 5,
        s"side-table predicate emptied the candidate set: ${got.toSeq}")
      // ground truth with the catalog EMPTY (rule cannot fire): the
      // same expression collected unrewritten
      graft.plans.AnnCatalog.clear()
      val expect = joined
        .withColumn("distance",
          graft.functions.CosineDistanceExpr(chunks("vector"), typedLit(q.toSeq)))
        .filter(col("language") === "rust")
        .orderBy(col("distance").asc, col("chunk_id").asc)
        .limit(5)
        .select("chunk_id", "distance")
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.toSeq == expect.toSeq)
    } finally graft.plans.AnnCatalog.clear()
  }

  test("fast ANN pushdown: inner candidate top-k + dynamic bucket pruning of the payload scan") {
    import org.apache.spark.sql.functions._
    val repoDir = java.nio.file.Files.createTempDirectory("graft_ann_repo6").toFile
    def w(rel: String, content: String): Unit = {
      val f = new java.io.File(repoDir, rel); f.getParentFile.mkdirs()
      java.nio.file.Files.writeString(f.toPath, content)
    }
    (1 to 120).foreach(i => w(s"src/file$i.rs",
      s"fn function_$i() { let value_$i = compute_$i(); }\n"))
    val idxDir = java.nio.file.Files.createTempDirectory("graft_ann_idx6").toFile
    graft.chat.ChatPipeline.index(spark, repoDir.getAbsolutePath, idxDir.getAbsolutePath)
    graft.plans.AnnCatalog.register(spark, idxDir.getAbsolutePath)
    try {
      // round-9 layout: bucketed chunks (count recorded at build) and a
      // vector-carrying forest — the two artifacts the fast path needs
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(idxDir.getAbsolutePath, "payload_buckets")))
      val chunks = graft.chat.AnnIndex.load(spark, idxDir.getAbsolutePath)
      assert(chunks.columns.contains("idbucket"))
      val forestCols =
        spark.read.parquet(s"${idxDir.getAbsolutePath}/forest").columns.toSet
      assert(Set("vector", "idbucket").subsetOf(forestCols))

      val emb = new graft.chat.HashingEmbedder()
      val q = emb.embed("compute function value")
      val knn = chunks
        .withColumn("distance",
          graft.functions.CosineDistanceExpr(col("vector"), typedLit(q.toSeq)))
        .orderBy(col("distance").asc, col("chunk_id").asc)
        .limit(5)
      // the fast path decides the winners inside the forest fragment
      // (its dedup alias is the marker) ...
      assert(knn.queryExecution.optimizedPlan.toString.contains("__ann_dist"),
        "inner candidate top-k missing from the optimized plan")
      knn.collect()
      // ... and the executed payload scan reads only the winners'
      // idbucket partitions via dynamic pruning
      def flatten(p: org.apache.spark.sql.execution.SparkPlan):
          Seq[org.apache.spark.sql.execution.SparkPlan] = {
        import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
        val next = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case qs: QueryStageExec => Seq(qs.plan)
          case other => other.children
        }
        p +: (next ++ p.subqueries).flatMap(flatten)
      }
      val scans = flatten(knn.queryExecution.executedPlan)
        .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      val chunksScan = scans.find(_.relation.location.rootPaths
        .exists(_.toString.contains("/chunks")))
      assert(chunksScan.nonEmpty, "no chunks scan in the executed plan")
      assert(chunksScan.get.partitionFilters.exists(_.exists {
        case _: org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression => true
        case _ => false
      }), s"payload scan not dynamically bucket-pruned:\n${chunksScan.get}")
      assert(scans.exists(_.relation.location.rootPaths
        .exists(_.toString.contains("/forest"))),
        "candidate side not forest-backed")
      // results equal the explicit approximate search
      val planes = graft.chat.AnnIndex.loadPlanes(spark, idxDir.getAbsolutePath)
      val forestIdx = spark.read.parquet(s"${idxDir.getAbsolutePath}/forest")
      val expected = graft.chat.AnnIndex
        .knnApprox(spark, chunks, forestIdx, planes, q, 5)
        .select("chunk_id", "distance").collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      val got = knn.select("chunk_id", "distance").collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.toSeq == expected.toSeq)

      // a distance filter DOES ride the fast path: the optimizer
      // pushes it below the alias as a vector-referencing predicate,
      // which translates onto the forest's co-located vector — so it
      // correctly restricts candidates BEFORE the inner limit
      val distFiltered = chunks
        .withColumn("distance",
          graft.functions.CosineDistanceExpr(col("vector"), typedLit(q.toSeq)))
        .filter(col("distance") < 2.0)
        .orderBy(col("distance").asc, col("chunk_id").asc)
        .limit(5)
      assert(distFiltered.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
      assert(distFiltered.collect().length == 5)
      // fallback: a predicate referencing a column the forest does NOT
      // carry (code) cannot be applied inside the inner limit — the
      // rewrite must take the unlimited-candidate slow path: LeftSemi
      // still present, no inner top-k marker, results still correct
      val codeFiltered = chunks
        .withColumn("distance",
          graft.functions.CosineDistanceExpr(col("vector"), typedLit(q.toSeq)))
        .filter(length(col("code")) > 0)
        .orderBy(col("distance").asc, col("chunk_id").asc)
        .limit(5)
      val fPlan = codeFiltered.queryExecution.optimizedPlan.toString
      assert(fPlan.contains("LeftSemi"), "slow-path rewrite lost under code filter")
      assert(!fPlan.contains("__ann_dist"),
        "inner top-k must not fire under a non-translatable filter")
      assert(codeFiltered.collect().length == 5)

      // join keys anchor on the RELATION's columns by exprId: a user
      // alias that shadows 'idbucket' (different values) must not steer
      // the bucket join — the rewrite threads the real partition column
      // through the shadowing Project and results stay correct
      val shadowed = chunks
        .withColumn("idbucket", lit(0))
        .withColumn("distance",
          graft.functions.CosineDistanceExpr(col("vector"), typedLit(q.toSeq)))
        .orderBy(col("distance").asc, col("chunk_id").asc)
        .limit(5)
      assert(shadowed.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
      val shadowGot = shadowed.select("chunk_id", "distance").collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(shadowGot.toSeq == expected.toSeq,
        "a user column named idbucket steered the bucket join")
    } finally graft.plans.AnnCatalog.clear()
  }

  test("AnnPushdown fires inside the COMPOSED ChatPipeline.query path (executed-plan audit)") {
    import org.apache.spark.sql.functions._
    val repoDir = java.nio.file.Files.createTempDirectory("graft_ann_repo5").toFile
    def w(rel: String, content: String): Unit = {
      val f = new java.io.File(repoDir, rel); f.getParentFile.mkdirs()
      java.nio.file.Files.writeString(f.toPath, content)
    }
    (1 to 40).foreach(i => w(s"src/file$i.rs",
      s"fn function_$i() { let value_$i = compute_$i(); }\n"))
    val idxDir = java.nio.file.Files.createTempDirectory("graft_ann_idx5").toFile
    graft.chat.ChatPipeline.index(spark, repoDir.getAbsolutePath, idxDir.getAbsolutePath)
    graft.plans.AnnCatalog.register(spark, idxDir.getAbsolutePath)
    val forestPlans = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit = {
        def flatten(p: org.apache.spark.sql.execution.SparkPlan):
            Seq[org.apache.spark.sql.execution.SparkPlan] = {
          import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
          val next = p match {
            case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
            case qs: QueryStageExec => Seq(qs.plan)
            case other => other.children
          }
          p +: next.flatMap(flatten)
        }
        if (flatten(qe.executedPlan).exists {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.relation.location.rootPaths.exists(
              _.toString.contains(s"${idxDir.getAbsolutePath}/forest"))
          case _ => false
        }) forestPlans.incrementAndGet()
      }
      override def onFailure(fn: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // the full composed retrieve: classify (mock) -> HyDE (mock) ->
      // embed -> kNN -> F1-F10 filters -> order -> synthesize. The kNN
      // inside is written brute-force; the registered catalog must
      // rewrite it, observable ONLY in the executed plan of this path.
      // prepared = false pins the RULE lane: the round-12 prepared
      // executor (the interactive default) answers without a
      // QueryExecution at all — its coverage is PreparedKnnSpec's job
      val out = graft.chat.ChatPipeline.query(spark,
        idxDir.getAbsolutePath, "compute function value", k = 3,
        prepared = false)
      assert(out.results.nonEmpty)
      assert(out.answer.nonEmpty)
      // the execution-listener bus is async: poll briefly
      val deadline = System.nanoTime() + 10000000000L
      while (forestPlans.get() < 1 && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(forestPlans.get() >= 1,
        "no executed plan in the composed query path contained the forest semi-join scan")
    } finally {
      spark.listenerManager.unregister(listener)
      graft.plans.AnnCatalog.clear()
    }
  }

  test("index mutation refreshes a registered catalog entry: pushdown survives refresh-index and sees appended chunks") {
    import org.apache.spark.sql.functions._
    val repoDir = java.nio.file.Files.createTempDirectory("graft_ann_repo6").toFile
    def w(rel: String, content: String): Unit = {
      val f = new java.io.File(repoDir, rel); f.getParentFile.mkdirs()
      java.nio.file.Files.writeString(f.toPath, content)
    }
    (1 to 30).foreach(i => w(s"src/file$i.rs",
      s"fn function_$i() { let value_$i = compute_$i(); }\n"))
    val idxDir = java.nio.file.Files.createTempDirectory("graft_ann_idx6").toFile.getAbsolutePath
    graft.chat.ChatPipeline.index(spark, repoDir.getAbsolutePath, idxDir)
    graft.plans.AnnCatalog.register(spark, idxDir)
    try {
      val emb = new graft.chat.HashingEmbedder()
      def knnIds(queryText: String): Seq[Long] = {
        val q = emb.embed(queryText)
        val chunks = graft.chat.AnnIndex.load(spark, idxDir)
        val knn = chunks
          .withColumn("distance",
            graft.functions.CosineDistanceExpr(col("vector"), typedLit(q.toSeq)))
          .orderBy(col("distance").asc, col("chunk_id").asc)
          .limit(5)
        assert(knn.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
          "pushdown must stay active after index mutation")
        knn.select("chunk_id").collect().map(_.getLong(0)).toSeq
      }
      assert(knnIds("compute function value").nonEmpty)
      // refresh-index REWRITES forest/ (the registered listing's files
      // are deleted) — without the invalidation hook every subsequent
      // rewritten query would throw FileNotFoundException
      w("src/file1.rs", "fn function_1() { let value_1 = recompute_1(); }\n")
      graft.chat.ChatPipeline.refreshIndex(spark,
        repoDir.getAbsolutePath, idxDir)
      assert(knnIds("recompute function value").nonEmpty)
      // an incremental append's new chunks must be VISIBLE to the
      // rewritten query (a stale listing would silently omit them).
      // Query with the appended chunk's OWN text: the identical vector
      // lands in the same leaf in every tree by construction, so the
      // chunk is guaranteed a candidate (distance 0, rank 1) — IF the
      // forest listing includes its batch's files
      val freshText = "fn zzquux_unique() { let zzquux_target = zzquux_marker(); }\n"
      w("src/fresh.rs", freshText)
      val q = graft.streaming.IncrementalIndex.start(spark,
        repoDir.getAbsolutePath, idxDir)
      try q.processAllAvailable() finally q.stop()
      val hits = knnIds(freshText)
      val topFile = graft.chat.AnnIndex.load(spark, idxDir)
        .filter(col("chunk_id") === hits.head)
        .select("file").head().getString(0)
      assert(topFile == "src/fresh.rs",
        s"appended chunk invisible to the pushdown query: top hit from $topFile")
    } finally graft.plans.AnnCatalog.clear()
  }

  test("OUT-OF-PROCESS index mutation is caught by the per-query stamp revalidation") {
    import org.apache.spark.sql.functions._
    def w(dir: java.io.File, rel: String, content: String): Unit = {
      val f = new java.io.File(dir, rel); f.getParentFile.mkdirs()
      java.nio.file.Files.writeString(f.toPath, content)
    }
    def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
      val walk = java.nio.file.Files.walk(src)
      try walk.forEach { p =>
        val t = dst.resolve(src.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } finally walk.close()
    }
    def rmTree(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p)) {
        val c = java.nio.file.Files.list(p)
        try c.forEach(rmTree) finally c.close()
      }
      java.nio.file.Files.deleteIfExists(p)
    }
    val repo1 = java.nio.file.Files.createTempDirectory("graft_stamp_r1").toFile
    (1 to 30).foreach(i => w(repo1, s"src/a$i.rs",
      s"fn alpha_$i() { let first_$i = one_$i(); }\n"))
    val idxDir = java.nio.file.Files.createTempDirectory("graft_stamp_idx")
    graft.chat.ChatPipeline.index(spark, repo1.getAbsolutePath, idxDir.toString)
    graft.plans.AnnCatalog.register(spark, idxDir.toString)
    try {
      val emb = new graft.chat.HashingEmbedder()
      val q = emb.embed("alpha first one")
      def knn() = graft.chat.AnnIndex.load(spark, idxDir.toString)
        .withColumn("distance",
          graft.functions.CosineDistanceExpr(col("vector"), typedLit(q.toSeq)))
        .orderBy(col("distance").asc, col("chunk_id").asc)
        .limit(5)
      assert(knn().collect().length == 5)

      // "another process" rebuilds the index over a DIFFERENT repo:
      // staged elsewhere and file-copied over — no in-process hooks
      // fire, and the registered forest listing now names dead files.
      // The per-query stamp check (index_meta/next_generation moved)
      // must re-register before the rewrite uses the pinned listing.
      val repo2 = java.nio.file.Files.createTempDirectory("graft_stamp_r2").toFile
      (1 to 40).foreach(i => w(repo2, s"src/b$i.rs",
        s"fn beta_$i() { let second_$i = two_$i(); }\n"))
      val staged = java.nio.file.Files.createTempDirectory("graft_stamp_staged")
      graft.chat.ChatPipeline.index(spark, repo2.getAbsolutePath, staged.toString)
      rmTree(idxDir)
      java.nio.file.Files.createDirectories(idxDir)
      copyTree(staged, idxDir)
      graft.chat.AnnIndex.invalidateServing(idxDir.toString) // external-read contract

      val plan = knn().queryExecution.optimizedPlan.toString
      assert(plan.contains("LeftSemi"), "rewrite lost after external rebuild")
      val got = knn().select("file").collect().map(_.getString(0))
      assert(got.nonEmpty && got.forall(_.contains("b")),
        s"stale forest listing served the dead generation: ${got.toSeq}")
    } finally graft.plans.AnnCatalog.clear()
  }

  test("without registration the kNN plan is untouched") {
    import org.apache.spark.sql.functions._
    graft.plans.AnnCatalog.clear()
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = Seq.fill(64)(0.1f)
    val knn = emb
      .withColumn("distance",
        graft.functions.CosineDistanceExpr(col("embedding"), typedLit(q)))
      .orderBy(col("distance").asc).limit(3)
    assert(!knn.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
    assert(knn.collect().length == 3)
  }

  test("simhash16 SQL scalar equals the q16 batch signature for every doc") {
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .createOrReplaceTempView("ext_docs")
    val viaSql = spark.sql(
      "SELECT doc_id, simhash16(text) AS simhash FROM ext_docs ORDER BY doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaOp = graft.ops.Dedup.simhash(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSql == viaOp)
  }

  test("shingle_hashes SQL scalar matches the dedup shingle primitive at both widths") {
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .createOrReplaceTempView("ext_docs2")
    val rows = spark.sql(
      """SELECT doc_id, shingle_hashes(text) AS s64, shingle_hashes(text, 32) AS s32
        |FROM ext_docs2 ORDER BY doc_id""".stripMargin).collect()
    assert(rows.nonEmpty)
    val md = java.security.MessageDigest.getInstance("MD5")
    val texts = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.take(20).foreach { r =>
      val t = texts(r.getLong(0)).trim.split("\\s+").filter(_.nonEmpty)
      val expect32 =
        if (t.length < 3) Seq.empty[Long]
        else (0 to t.length - 3).map { i =>
          val d = md.digest(s"${t(i)} ${t(i + 1)} ${t(i + 2)}"
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
            ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        }.distinct.sorted
      assert(r.getSeq[Long](2) == expect32, s"doc ${r.getLong(0)} 32-bit mismatch")
      // the two widths agree as SETS when no 32-bit collision occurs
      assert(r.getSeq[Long](1).length == expect32.length)
    }
  }

  test("minhash_sig / lsh_bands SQL scalars equal q14's per-doc summary") {
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .createOrReplaceTempView("ext_docs3")
    val viaSql = spark.sql(
      """SELECT doc_id, minhash_sig(text, 32) AS mh, lsh_bands(text, 32) AS bands
        |FROM ext_docs3 WHERE minhash_sig(text, 32) IS NOT NULL
        |ORDER BY doc_id""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[String](2))).toSeq
    // the batch summary keeps the signature only as its banded form;
    // bands pin the signature 1:1 (4 rows of 4 values joined with '|')
    val viaOp = graft.ops.Dedup
      .docShingleSummary(spark, "/root/testdata/sf0.001", 32)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0),
        r.getSeq[String](r.fieldIndex("bands")).flatMap(_.split('|').map(_.toLong)),
        r.getSeq[String](r.fieldIndex("bands")))).toSeq
    assert(viaSql.map(_._1) == viaOp.map(_._1), "doc coverage differs")
    viaSql.zip(viaOp).foreach { case ((id, mh, bands), (_, opMh, opBands)) =>
      assert(mh == opMh, s"doc $id signature mismatch")
      assert(bands == opBands, s"doc $id band-string mismatch")
    }
  }

  test("pure-SQL q14 via the scalars matches the batch operator row-for-row") {
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .createOrReplaceTempView("ext_docs4")
    val viaSql = spark.sql(
      s"""WITH summ AS (
         |  SELECT doc_id, shingle_hashes(text, 32) AS s, lsh_bands(text, 32) AS bands
         |  FROM ext_docs4 WHERE lsh_bands(text, 32) IS NOT NULL
         |), banded AS (
         |  SELECT doc_id, band_idx, band_hash
         |  FROM summ LATERAL VIEW posexplode(bands) AS band_idx, band_hash
         |), cand AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM banded x JOIN banded y
         |    ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
         |   AND x.doc_id < y.doc_id
         |)
         |SELECT doc_a, doc_b,
         |  cast(size(array_intersect(sa.s, sb.s)) AS double) /
         |  cast(size(array_union(sa.s, sb.s)) AS double) AS jaccard
         |FROM cand
         |JOIN summ sa ON cand.doc_a = sa.doc_id
         |JOIN summ sb ON cand.doc_b = sb.doc_id
         |WHERE cast(size(array_intersect(sa.s, sb.s)) AS double) /
         |      cast(size(array_union(sa.s, sb.s)) AS double)
         |      >= ${graft.core.Consts.MinhashJaccardThreshold}
         |ORDER BY doc_a, doc_b""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val viaOp = graft.ops.Dedup
      .minhashLshPairs(spark, "/root/testdata/sf0.001",
        graft.ops.Dedup.OracleHashBits)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(viaSql.nonEmpty, "SQL q14 returned no pairs")
    assert(viaSql == viaOp)
  }

  test("edge-text words, simhash16 and shingle_hashes agree with the Column tokenizer") {
    import org.apache.spark.sql.functions._
    val md = java.security.MessageDigest.getInstance("MD5")
    // control chars at either end (String.trim would strip them, Spark's
    // and DuckDB's trim do not), mixed whitespace, empty and blank text
    Seq("\u0001a b\u0002 ", "\u0001 a b c d e", "  a\t\nb  ", "", "   ").foreach { s =>
      val label = s.map(c => if (c < ' ') f"\\u${c.toInt}%04x" else c.toString).mkString
      val r = spark.range(1).withColumn("t", lit(s)).select(
        graft.ops.TextAnalytics.tokens(lit(s)), expr("simhash16(t)"),
        expr("shingle_hashes(t, 32)")).head()
      val toks = r.getSeq[String](0)
      assert(graft.functions.TextKernel.words(s).toSeq == toks, s"words of '$label'")
      assert(graft.streaming.DedupStream.simhash16(s) == r.getLong(1), s"simhash16 of '$label'")
      val expect = toks.sliding(3).filter(_.length == 3).map { g =>
        val d = md.digest(g.mkString(" ").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      }.toSeq.distinct.sorted
      assert(r.getSeq[Long](2) == expect, s"shingle_hashes of '$label'")
    }
  }
}
