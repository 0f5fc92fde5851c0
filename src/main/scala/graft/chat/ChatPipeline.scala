package graft.chat

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.chat.Schemas._

/** End-to-end orchestration (reference: src/main.rs command flows +
  * hyde.rs retrieve, SURVEY.md §3).
  *
  * index:  chunk_repo -> embed -> chunks parquet + RP-forest index +
  *         profile.json          (main.rs:274-382)
  * query:  classify -> hyde doc -> embed -> kNN(k*2) -> filters ->
  *         rerank|distance sort -> truncate k -> synthesize
  *         (hyde.rs:468-576: over-fetch k*2 at :500, truncate at :519)
  */
object ChatPipeline {

  case class QueryOutput(results: Seq[RetrievalResult], answer: Seq[String])

  /** Build-time skew warn threshold: hottest leaf > this × LeafTarget
    * (20× clears organic imbalance — random projections leave leaves
    * within a small factor of target on diverse corpora — while any
    * real near-dup family is orders of magnitude past it). */
  val LeafSkewWarnFactor = 20L

  /** `refContent` (round 15): build the index with the
    * [[Chunker.refWhitespace]] node-aligned chunk content — the
    * reference's byte-range text — instead of the byte-round-trip
    * line spans. The mode is STAMPED into index_meta.json
    * (`content_mode`), and every maintenance path (incremental
    * stream, refresh repair) reads the stamp so an index can never
    * silently mix content modes across build and repair waves. */
  def index(spark: SparkSession, repoDir: String, outDir: String,
            embedder: Embedder = new HashingEmbedder(),
            refContent: Boolean = false): Long = {
    val chunks = Chunker.chunkRepo(spark, repoDir, refContent = refContent)
    val rows = Embed.embedChunks(spark, chunks, embedder).toDF()
    AnnIndex.save(rows, outDir)
    val chunksDf = AnnIndex.load(spark, outDir)
    val n = chunksDf.count()
    val forest = AnnIndex.sampleForest(embedder.dim, n)
    AnnIndex.savePlanes(spark, forest, outDir)
    AnnIndex.saveForestIndex(AnnIndex.buildForestIndex(chunksDf, forest), outDir)
    // build-time ANN skew diagnostic (AnnIndex.leafSkew scaladoc): a
    // megaleaf means the corpus carries a near-dup family no deeper
    // forest can split — warn AT BUILD, where the fix (dedup first)
    // is still cheap, and stamp the sidecar for `status`/tooling
    val (maxLeaf, p99Leaf, leafDirs, forestRows) = AnnIndex.leafSkew(spark, outDir)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/leaf_skew.json"),
      s"""{"max_leaf":$maxLeaf,"p99_leaf":$p99Leaf,"leaf_dirs":$leafDirs,""" +
        s""""forest_rows":$forestRows,"leaf_target":${AnnIndex.LeafTarget}}""")
    if (maxLeaf > AnnIndex.LeafTarget * LeafSkewWarnFactor)
      println(s"WARN: hottest ANN leaf holds $maxLeaf rows " +
        s"(expected ~${AnnIndex.LeafTarget}): the corpus likely carries a " +
        "massive near-duplicate family, which random-projection planes " +
        "cannot split and which every query hitting that leaf must scan. " +
        "Near-dup dedup before indexing restores balanced leaves.")
    // profile job over the same scan
    val files = filesFrame(spark, repoDir)
    val profile = Profile.profile(files, repoDir.split('/').last)
    writeProfileJson(profile, s"$outDir/profile.json")
    // freshness metadata (docs/proposals.md:9-35): timestamp + source
    // identity recorded at the moment the build completed; the
    // per-file manifest gives checkIndex file-level diagnosis and the
    // incremental-aware credit path. A rebuild clears any previous
    // incremental processed log — the new manifest supersedes it.
    val manifest = repoManifest(repoDir)
    writeHashLines(
      java.nio.file.Paths.get(s"$outDir/index_manifest.tsv"), manifest)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$outDir/processed_files.log"))
    writeIndexMeta(IndexMeta(
      creationTimestamp = java.time.Instant.now().toString,
      repoPath = java.nio.file.Paths.get(repoDir).toAbsolutePath.toString,
      sourceCommitHash = gitCommitHash(repoDir),
      contentHash = rollupHash(manifest),
      nChunks = n,
      contentMode = if (refContent) "ref" else "default"), outDir)
    indexChanged(spark, outDir)
    n
  }

  /** files DataFrame for the profile job: (path, filename, extension,
    * line_count, content). Applies the same gitignore + .git pre-pass
    * as Chunker.chunkRepo, so profile line counts and build-file
    * detection never include ignored artifacts (target/, logs, .git
    * internals) — matching the reference's gitignore-aware repo walk
    * (repo.rs WalkBuilder standard filters). */
  def filesFrame(spark: SparkSession, repoDir: String): DataFrame = {
    val rootPath = java.nio.file.Paths.get(repoDir).toAbsolutePath
    val keep = Chunker.gitignorePredicate(rootPath)
    val rootStr = rootPath.toString
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(rootStr)
      .filter { row =>
        val rel = row.getAs[String]("path").stripPrefix("file:")
          .stripPrefix(rootStr).stripPrefix("/")
        keep(rel)
      }
      .select(
        col("path"),
        element_at(split(col("path"), "/"), -1).as("filename"),
        col("content").cast("string").as("content"))
      .withColumn("extension",
        when(col("filename").contains("."),
          element_at(split(col("filename"), "\\."), -1)).otherwise(lit(null)))
      .withColumn("line_count", size(split(col("content"), "\n")).cast("long"))
  }

  def writeProfileJson(p: RepoProfile, path: String): Unit = {
    // escape ALL control chars, not just \n: a CRLF or tabbed README
    // leaves raw \r/\t in readme_summary, which a strict JSON parser
    // (readProfile's Jackson) rejects — same escaping class as
    // Verify's oracle_sql.json writer
    def js(s: String) = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def arr(xs: Seq[String]) = xs.map(js).mkString("[", ",", "]")
    val json =
      s"""{"name":${js(p.name)},"primary_languages":${arr(p.primary_languages)},
         |"build_files":${arr(p.build_files)},"frameworks":${arr(p.frameworks)},
         |"readme_summary":${p.readme_summary.map(js).getOrElse("null")}}""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
  }

  /** The retrieve flow (hyde.rs:468-576) with pluggable ChatClient. */
  def query(spark: SparkSession, indexDir: String, question: String, k: Int = 3,
            rerank: Boolean = false,
            client: ChatClient = new MockChatClient(),
            embedder: Embedder = new HashingEmbedder(),
            reranker: Option[Reranker] = None,
            prepared: Boolean = true): QueryOutput = {
    // proposals.md:70-73 (automatic check on query): warn — never
    // block — when the loaded index no longer matches its source.
    // Cached behind a stat sketch (checkIndexCached): the per-query
    // cost is one stat walk; hashing and the git spawn run only when
    // something changed since the last check.
    repairSwap(s"$indexDir/chunks")
    repairSwap(s"$indexDir/forest")
    checkIndexCached(indexDir).foreach { f =>
      if (f.stale)
        println(s"WARN: index may be stale (${f.reason}). " +
          s"Consider re-indexing '${f.meta.repoPath}'.")
    }
    val profile = readProfile(indexDir)
    val classification = client.classify(question)                 // Step 1 (L1)
    val hypoDoc = client.hyde(question, classification, profile)   // Step 2 (L2)
    val qVec = embedder.embed(hypoDoc)                             // embed hypo ONLY (hyde.rs:500)
    // Step 3 + over-fetch F1. Fast lane: when the index is registered
    // in AnnCatalog, the prepared-plan executor answers in two
    // literal-swapped single-job plans (PreparedKnn scaladoc) —
    // bit-identical results to the rule-rewritten DataFrame path below
    // (PreparedKnnSpec), at a fraction of the per-query planning cost.
    val window: Seq[Retrieval.LocalHit] =
      (if (prepared)
        graft.plans.PreparedKnn.search(spark, indexDir, qVec, k * 2)
      else None).getOrElse {
        val hits0 = AnnIndex.knnExact(AnnIndex.loadServing(spark, indexDir), qVec, k * 2)
        // materialize the over-fetch window ONCE: everything past F1 is
        // a presentation stage over <= 2k rows (the reference filters
        // its fetched window driver-side too, hyde.rs:976-1214), and
        // leaving the corpus-side plan lazy re-executes the whole kNN
        // at every downstream action barrier — a 2x-3x latency tax
        val hitRows = hits0.collect()
        Retrieval.localHits(hitRows.toSeq, hits0.schema)
      }
    // F2-F10 + R2 run driver-local over the collected window (the
    // Retrieval *Local twins, DataFrame-parity-pinned by
    // RetrievalLocalParitySpec): even over a LocalRelation, the Spark
    // actions these stages need (count barrier, window fetch, final
    // top-k) cost ~115 ms/query of tiny-job overhead — a third of the
    // serving latency — for <= 2k rows of driver-resident work
    val filtered = Retrieval.applyFiltersLocal(window, classification, k) // Step 4 + truncate
    val ordered =
      if (rerank) Retrieval.crossRerankLocal(filtered, question,   // Step 5 (R2)
        reranker.getOrElse(Rerankers.fromEnv()))
      else filtered.sortBy(_.distance)                             // F10
    val rows = ordered.zipWithIndex.map { case (h, i) =>
      RetrievalResult(h.file, h.code, h.language, h.extension, h.distance, i)
    }
    val snippets = rows.map(r => (r.file, r.code, r.distance))
    QueryOutput(rows, client.synthesize(question, classification, profile, snippets).toSeq)
  }

  /** Full round-trip of writeProfileJson: the prompt surface consumes
    * primary_languages/frameworks/build_files (persona capabilities,
    * HyDE language fallback), so parsing only the name would silently
    * degrade every profile-aware template. */
  def readProfile(indexDir: String): Option[RepoProfile] = {
    val p = java.nio.file.Paths.get(s"$indexDir/profile.json")
    if (!java.nio.file.Files.exists(p)) None
    else {
      val n = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readString(p))
      def arr(f: String): Seq[String] = {
        import scala.jdk.CollectionConverters._
        val v = n.path(f)
        if (v.isArray) v.elements().asScala.map(_.asText).toSeq else Seq.empty
      }
      Some(RepoProfile(
        name = n.path("name").asText("repo"),
        primary_languages = arr("primary_languages"),
        build_files = arr("build_files"),
        frameworks = arr("frameworks"),
        readme_summary =
          if (n.path("readme_summary").isTextual) Some(n.path("readme_summary").asText)
          else None))
    }
  }

  // -------------------------------------------------------------------
  // Index freshness (docs/proposals.md:3-74 — the reference's OTHER
  // proposal; incremental re-index already landed as
  // streaming/IncrementalIndex). The index artifact records WHEN it
  // was built and WHAT source state it represents; `checkIndex`
  // answers "is this index stale?" without guessing.
  // -------------------------------------------------------------------

  /** index_meta.json payload (proposals.md:16 recommends storing the
    * repo path explicitly — option (a)). `contentHash` is the primary
    * identity: exact, git-independent (the proposal's checksum
    * fallback, promoted to always-on); `sourceCommitHash` is the
    * human-meaningful label recorded additionally when the repo is a
    * git checkout. */
  case class IndexMeta(creationTimestamp: String, repoPath: String,
                       sourceCommitHash: Option[String],
                       contentHash: String, nChunks: Long,
                       contentMode: String = "default")

  /** Staleness verdict: `stale` iff the repo's CURRENT content hash
    * differs from the indexed one; `reason` states which signal said
    * so (commit divergence is reported when visible, content hash is
    * authoritative — branch switches with identical trees are NOT
    * stale, exactly the accuracy gap proposals.md:69 flags in
    * timestamp/commit comparison). */
  case class IndexFreshness(meta: IndexMeta, currentContentHash: String,
                            currentCommitHash: Option[String],
                            stale: Boolean, reason: String)

  /** Content identity of the repo AS THE INDEXER SEES IT: md5 over the
    * sorted (relative path, content md5) pairs of the gitignore-
    * filtered file walk — the same keep predicate `chunkRepo` applies,
    * so an edit to an ignored artifact (target/, logs) can never flip
    * staleness, and any edit to an indexed file always does. Driver-
    * side walk, mirroring the reference proposal's walkdir check
    * (proposals.md:57-60); the repos this CLI indexes are the
    * reference's single-checkout scale. */
  def repoContentHash(repoDir: String): String =
    rollupHash(repoManifest(repoDir))

  /** The per-file manifest behind [[repoContentHash]]: sorted
    * (relative path, content md5) pairs of the gitignore-filtered
    * walk. Stored alongside the index so [[checkIndex]] can DIAGNOSE
    * staleness (modified vs deleted vs new-unprocessed) instead of
    * only detecting it — the incremental-aware check needs the
    * file-level resolution. */
  def repoManifest(repoDir: String): Seq[(String, String)] = {
    val root = java.nio.file.Paths.get(repoDir).toAbsolutePath
    val keep = Chunker.gitignorePredicate(root)
    val entries = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val stream = java.nio.file.Files.walk(root)
    try {
      stream.forEach { p =>
        if (java.nio.file.Files.isRegularFile(p)) {
          val rel = root.relativize(p).toString
          if (keep(rel)) {
            val h = java.security.MessageDigest.getInstance("MD5")
              .digest(java.nio.file.Files.readAllBytes(p))
            entries += ((rel, h.map("%02x".format(_)).mkString))
          }
        }
      }
    } finally stream.close()
    entries.sortBy(_._1).toSeq
  }

  private def rollupHash(manifest: Seq[(String, String)]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    manifest.foreach { case (rel, h) =>
      md.update(rel.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(0.toByte)
      md.update(h.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(0.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Manifest file format: one `md5<TAB>relpath` line per file (tab is
    * the separator because relative paths may contain spaces). The
    * same format is appended by the incremental indexer's processed
    * log, so both read through [[readHashLines]]. */
  private def writeHashLines(path: java.nio.file.Path,
                             entries: Seq[(String, String)]): Unit =
    java.nio.file.Files.writeString(path,
      entries.map { case (rel, h) => s"$h\t$rel" }.mkString("", "\n", "\n"))

  private def readHashLines(path: java.nio.file.Path): Seq[(String, String)] =
    if (!java.nio.file.Files.exists(path)) Seq.empty
    else java.nio.file.Files.readAllLines(path).toArray(Array.empty[String]).toSeq
      .filter(_.nonEmpty).flatMap { l =>
        val i = l.indexOf('\t')
        if (i < 0) None else Some((l.substring(i + 1), l.substring(0, i)))
      }

  /** Append processed-file records (relpath -> content md5) to the
    * index's incremental log — called by the incremental indexer per
    * micro-batch, read by [[checkIndex]] to credit post-build files
    * the stream has already indexed. */
  def appendProcessedLog(indexDir: String,
                         entries: Seq[(String, String)]): Unit = {
    if (entries.nonEmpty) {
      val p = java.nio.file.Paths.get(s"$indexDir/processed_files.log")
      java.nio.file.Files.writeString(p,
        entries.map { case (rel, h) => s"$h\t$rel" }.mkString("", "\n", "\n"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }
  }

  /** `git rev-parse HEAD` of the repo, None when git is absent, the
    * dir is not a checkout, or the command fails — the proposal's
    * exact fallback contract (proposals.md:21-22). */
  def gitCommitHash(repoDir: String): Option[String] =
    try {
      val pb = new ProcessBuilder("git", "rev-parse", "HEAD")
      pb.directory(new java.io.File(repoDir))
      pb.redirectErrorStream(true)
      val proc = pb.start()
      val out = new String(proc.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim
      if (proc.waitFor() == 0 && out.matches("[0-9a-f]{40}")) Some(out) else None
    } catch { case _: Exception => None }

  def writeIndexMeta(meta: IndexMeta, indexDir: String): Unit = {
    def js(s: String) = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json =
      s"""{"creation_timestamp":${js(meta.creationTimestamp)},
         |"repo_path":${js(meta.repoPath)},
         |"source_commit_hash":${meta.sourceCommitHash.map(js).getOrElse("null")},
         |"content_hash":${js(meta.contentHash)},
         |"n_chunks":${meta.nChunks},
         |"content_mode":${js(meta.contentMode)}}""".stripMargin
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$indexDir/index_meta.json"), json)
  }

  /** True when the index at `indexDir` was built in ref content mode
    * (index_meta.json `content_mode` stamp) — the one switch every
    * maintenance path consults so repair waves chunk like the build. */
  private[graft] def indexRefContent(indexDir: String): Boolean =
    readIndexMeta(indexDir).exists(_.contentMode == "ref")

  def readIndexMeta(indexDir: String): Option[IndexMeta] = {
    val p = java.nio.file.Paths.get(s"$indexDir/index_meta.json")
    if (!java.nio.file.Files.exists(p)) None
    else {
      val n = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readString(p))
      Some(IndexMeta(
        creationTimestamp = n.path("creation_timestamp").asText(""),
        repoPath = n.path("repo_path").asText(""),
        sourceCommitHash =
          if (n.path("source_commit_hash").isTextual)
            Some(n.path("source_commit_hash").asText) else None,
        contentHash = n.path("content_hash").asText(""),
        nChunks = n.path("n_chunks").asLong(0L),
        // pre-round-15 metadata carries no mode field → default mode
        contentMode = {
          val m = n.path("content_mode").asText("default")
          if (m.isEmpty) "default" else m
        }))
    }
  }

  /** The `check-index` staleness check (proposals.md:41-74): Left =
    * cannot determine (no metadata — pre-freshness index — or the
    * recorded repo path is gone), Right = verdict.
    *
    * INCREMENTAL-AWARE: an append-only incremental indexer
    * (streaming/IncrementalIndex) keeps the index current for NEW
    * files without a rebuild, so a new file whose content the
    * processed log records is credited as fresh — the raw hash compare
    * would report a false stale for exactly the case the incremental
    * pipeline exists to handle. Modified and deleted files always
    * report stale (an append-only index can neither re-chunk nor
    * remove), as do new files the stream has not (yet) processed —
    * including unsupported-extension files, honestly: the repo
    * PROFILE half of the index (README summary, build files) only
    * refreshes on rebuild. */
  def checkIndex(indexDir: String): Either[String, IndexFreshness] =
    readIndexMeta(indexDir) match {
      case None => Left(s"no index_meta.json under $indexDir " +
        "(index predates freshness metadata — re-index to record it)")
      case Some(meta) =>
        if (!java.nio.file.Files.isDirectory(
            java.nio.file.Paths.get(meta.repoPath)))
          Left(s"indexed repo path ${meta.repoPath} no longer exists")
        else {
          val curManifest = repoManifest(meta.repoPath)
          val cur = rollupHash(curManifest)
          val curCommit = gitCommitHash(meta.repoPath)
          val built = readHashLines(
            java.nio.file.Paths.get(s"$indexDir/index_manifest.tsv")).toMap
          val processed = readHashLines(
            java.nio.file.Paths.get(s"$indexDir/processed_files.log")).toMap
          val (stale, reason) =
            if (cur == meta.contentHash)
              (false, "content hash matches the indexed state")
            else if (built.isEmpty)
              // pre-manifest index: hash-only verdict (no diagnosis)
              (true, (meta.sourceCommitHash, curCommit) match {
                case (Some(a), Some(b)) if a != b =>
                  s"content changed (commit ${a.take(8)} -> ${b.take(8)})"
                case _ => "content changed since indexing"
              })
            else {
              val curMap = curManifest.toMap
              val modified = curManifest.collect {
                case (rel, h) if built.get(rel).exists(_ != h) => rel
              }
              val deleted = built.keys.filterNot(curMap.contains).toSeq
              val newUnprocessed = curManifest.collect {
                case (rel, h) if !built.contains(rel) &&
                  !processed.get(rel).contains(h) => rel
              }
              val newProcessed = curManifest.count { case (rel, h) =>
                !built.contains(rel) && processed.get(rel).contains(h)
              }
              if (modified.isEmpty && deleted.isEmpty && newUnprocessed.isEmpty)
                (false, s"$newProcessed new file(s) covered by the " +
                  "incremental index's processed log; nothing modified or deleted")
              else
                (true, s"${modified.size} modified, ${deleted.size} deleted, " +
                  s"${newUnprocessed.size} new unprocessed file(s)" +
                  (if (newProcessed > 0) s" ($newProcessed new covered incrementally)" else ""))
            }
          Right(IndexFreshness(meta, cur, curCommit, stale, reason))
        }
    }

  // -------------------------------------------------------------------
  // Cheap check-on-query. The reference proposal's Considerations flag
  // that the on-query staleness check must be efficient; the exact
  // check ([[checkIndex]]) walks AND md5-hashes every repo file plus
  // shells out to git — right for the explicit REPL command, too heavy
  // to pay on every query. The query path instead keys a cached
  // verdict on a stat sketch (per-file size + mtime, the proposal's
  // own mtime-walk granularity) plus the index's recorded identity:
  // the walk stays, the hashing and the git spawn run only when
  // something actually changed. An edit preserving both size and mtime
  // is invisible to the sketch — the documented accuracy tradeoff the
  // proposal's mtime sketch already makes; the exact command remains
  // available.
  // -------------------------------------------------------------------

  private case class CheckKey(sketch: Map[String, (Long, Long)],
                              contentHash: String, creation: String,
                              processedLog: Option[(Long, Long)])

  private val checkCache = new java.util.concurrent.ConcurrentHashMap[
    String, (CheckKey, Either[String, IndexFreshness])]()

  /** Serving-burst amortization for the stat walk itself: within this
    * window of the last check the cached verdict is returned WITHOUT
    * re-walking the repo. The sketch walk is O(repo files) per query —
    * on a large repo it becomes the query path's dominant fixed tax
    * (it grew past the whole kNN at ServeBench's 32x corpus) — and the
    * freshness contract is warn-only advice (proposals.md:70-73), so
    * detection delayed by at most this window is an honest trade. 0
    * restores exact per-query sketching (specs pin that behavior).
    *
    * Once a verdict exists, an EXPIRED window never blocks the serving
    * path either: the cached verdict is served and ONE background
    * refresh (single-flight per index) re-walks off-path. A fixed
    * window with an in-path walk inverts at scale — at ServeBench's
    * 512x corpus (320k repo files) the walk takes LONGER than this
    * window, so every query re-walked and the "amortized" check became
    * a ~1.9 s per-query tax (the round-12 serve knee, BENCH_NOTES).
    * Staleness detection is therefore delayed by at most one window
    * plus one walk — still warn-only advice. The synchronous arms that
    * remain are exactly the ones that must be: the first query (no
    * verdict to serve), TTL = 0 (exact mode), and the first query
    * after a mutator invalidation (a TTL'd verdict must never outlive
    * the state it described). */
  @volatile private[graft] var checkSketchTtlMs = 2000L

  /** Single-flight guard + daemon executor for the off-path refresh. */
  private val refreshInFlight =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val freshnessExecutor =
    java.util.concurrent.Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, "graft-freshness-refresh")
      t.setDaemon(true); t
    })
  private val checkTime =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Bumped by every index mutation ([[indexChanged]]): a TTL'd
    * verdict must never outlive the state it described. The epoch
    * closes the check-then-act window — a query thread that computed
    * its verdict from PRE-mutation state must not re-arm the TTL clock
    * after the mutator cleared it. */
  private val freshnessEpoch =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** The index at `indexDir` changed (build, refresh, a watcher batch,
    * compaction): drop every in-process view of it — the pinned serving
    * listing, a registered catalog entry with its prepared plans (their
    * file listings name appended or deleted files), and the TTL'd
    * freshness verdict. */
  private[graft] def indexChanged(spark: SparkSession, indexDir: String): Unit = {
    AnnIndex.invalidateServing(indexDir)
    graft.plans.AnnCatalog.refreshIfRegistered(spark, indexDir)
    freshnessEpoch.merge(indexDir, 1L, (a, b) => a + b)
    checkTime.remove(indexDir)
  }

  /** full (hashing) checks actually run — observable cache behavior
    * for specs and for anyone profiling the query path. */
  private[graft] val fullCheckCount = new java.util.concurrent.atomic.AtomicLong(0)

  private def statOf(p: java.nio.file.Path): Option[(Long, Long)] =
    if (!java.nio.file.Files.exists(p)) None
    else Some((java.nio.file.Files.size(p),
      java.nio.file.Files.getLastModifiedTime(p).toMillis))

  private def statSketch(repoDir: String): Map[String, (Long, Long)] = {
    val root = java.nio.file.Paths.get(repoDir).toAbsolutePath
    val keep = Chunker.gitignorePredicate(root)
    val b = Map.newBuilder[String, (Long, Long)]
    val stream = java.nio.file.Files.walk(root)
    try stream.forEach { p =>
      if (java.nio.file.Files.isRegularFile(p)) {
        val rel = root.relativize(p).toString
        if (keep(rel))
          b += rel -> ((java.nio.file.Files.size(p),
            java.nio.file.Files.getLastModifiedTime(p).toMillis))
      }
    } finally stream.close()
    b.result()
  }

  /** [[checkIndex]] behind the stat-sketch cache — what [[query]] runs.
    * Same verdict as the exact check whenever any indexed file's size
    * or mtime changed, the index was rebuilt/refreshed (metadata
    * identity is part of the key), or the incremental stream appended
    * to the processed log. */
  def checkIndexCached(indexDir: String): Either[String, IndexFreshness] = {
    val now = System.currentTimeMillis()
    val recent = checkCache.get(indexDir)
    val last = checkTime.get(indexDir)
    if (recent != null && last != null) {
      if (now - last < checkSketchTtlMs) return recent._2
      if (checkSketchTtlMs > 0) {
        // expired window with a verdict in hand: serve it, refresh
        // off-path — the walk must never sit on the serving path
        // (scaladoc above; checkTime was NOT cleared, so `last` being
        // present proves no mutator invalidated this verdict)
        if (refreshInFlight.add(indexDir))
          freshnessExecutor.execute(() =>
            try refreshVerdict(indexDir)
            finally refreshInFlight.remove(indexDir))
        return recent._2
      }
    }
    refreshVerdict(indexDir)
  }

  /** The synchronous sketch-compare-check core of [[checkIndexCached]]
    * — the in-path arm for first/exact/post-mutation queries and the
    * body of the background refresh. */
  private def refreshVerdict(indexDir: String): Either[String, IndexFreshness] = {
    val now = System.currentTimeMillis()
    val epoch = freshnessEpoch.getOrDefault(indexDir, 0L)
    readIndexMeta(indexDir) match {
      case Some(meta) if java.nio.file.Files.isDirectory(
          java.nio.file.Paths.get(meta.repoPath)) =>
        val key = CheckKey(statSketch(meta.repoPath), meta.contentHash,
          meta.creationTimestamp,
          statOf(java.nio.file.Paths.get(s"$indexDir/processed_files.log")))
        val cached = checkCache.get(indexDir)
        // arm the TTL clock only if no mutator invalidated since this
        // verdict's inputs were read — otherwise a pre-mutation verdict
        // would be served for a whole TTL window the mutator already
        // cleared
        if (freshnessEpoch.getOrDefault(indexDir, 0L) == epoch)
          checkTime.put(indexDir, now)
        if (cached != null && cached._1 == key) cached._2
        else {
          fullCheckCount.incrementAndGet()
          val v = checkIndex(indexDir)
          checkCache.put(indexDir, (key, v))
          v
        }
      // no metadata / vanished repo: the exact check's cheap arms
      case _ => checkIndex(indexDir)
    }
  }

  // -------------------------------------------------------------------
  // refresh-index: REPAIR a stale index without a full rebuild — the
  // operation check-index's diagnosis exists to drive. Modified and
  // deleted files' chunks are PURGED (the append-only incremental
  // stream cannot do this), modified and new files re-chunk + re-embed,
  // the profile regenerates, and the freshness metadata re-stamps.
  // Only changed files pay embedding cost; untouched chunks are
  // rewritten (tmp + journaled atomic swap, [[rewriteSwap]], which
  // compaction shares) but never re-embedded.
  // -------------------------------------------------------------------

  case class RefreshStats(purgedFiles: Long, purgedChunks: Long,
                          reindexedFiles: Long, addedChunks: Long)

  private def rmTree(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.isDirectory(p)) {
      val children = Files.list(p)
      try children.forEach(c => rmTree(c)) finally children.close()
    }
    Files.deleteIfExists(p)
  }

  // -------------------------------------------------------------------
  // Index maintenance lock: ONE exclusive OS advisory lock per index
  // dir coordinates every structure mutator — refresh (snapshot reads
  // included), swaps (rewriteSwap), swap repair, incremental batch
  // appends, and chunk-id generation allocation — across PROCESSES,
  // not just threads. The kernel releases a crashed holder's lock
  // automatically, so a dead writer never wedges the index and there
  // is no stale-lock protocol to get wrong. This replaces the former
  // 10-minute journal-staleness heuristic: under the lock, any journal
  // a repairer can see is crash leftovers BY CONSTRUCTION (a live
  // writer would be holding the lock), so repair is unconditional and
  // immediate.
  // -------------------------------------------------------------------

  /** In-JVM serialization per index dir: threads of one process share
    * a pid, so the file alone cannot arbitrate between them. Reentrant
    * — a mutator holding the lock (refreshIndex, a stream batch) calls
    * the locked primitives (nextGeneration, rewriteSwap, repairSwap)
    * without re-acquiring the file. */
  private val indexMonitors = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.locks.ReentrantLock]()

  /** Run `body` under the index's exclusive maintenance lock: an OS
    * advisory lock ([[java.nio.channels.FileChannel#tryLock()]]) on the
    * index's `maintenance_lock` file. The KERNEL owns liveness — a
    * crashed holder's lock is released the instant its process dies, so
    * there is no stale-lock state, no owner-pid bookkeeping, and no
    * takeover race (every pid-file protocol we tried had a two-reader
    * window where a dead owner's lock could be 'taken over' twice).
    * The file's pid content is diagnostics only.
    *
    * Waits up to `waitMs` — covering BOTH the same-JVM monitor and the
    * cross-process file lock, so a waitMs=0 probe (the read-path
    * repair) never blocks behind a long-held writer — and returns None
    * on timeout (mutators fail loudly, the read-path repair just
    * skips: the live owner will finish its own swap). Reentrant: a
    * nested call on the owning thread runs the body directly. */
  private[graft] def withIndexLock[T](indexDir: String, waitMs: Long = 30000L)
                                     (body: => T): Option[T] = {
    // normalize BEFORE keying: two threads reaching one index through
    // differently-spelled paths ('idx' vs 'idx/') must share a monitor
    val norm = java.nio.file.Paths.get(indexDir).toAbsolutePath.normalize
    val mon = indexMonitors.computeIfAbsent(norm.toString,
      _ => new java.util.concurrent.locks.ReentrantLock())
    val deadline = System.nanoTime() + waitMs * 1000000L
    if (!mon.tryLock(waitMs, java.util.concurrent.TimeUnit.MILLISECONDS))
      return None
    try {
      if (mon.getHoldCount > 1) Some(body) // outer frame owns the file lock
      else {
        import java.nio.file.{Files, StandardOpenOption}
        Files.createDirectories(norm)
        val ch = java.nio.channels.FileChannel.open(
          norm.resolve("maintenance_lock"),
          StandardOpenOption.CREATE, StandardOpenOption.WRITE)
        try {
          // OverlappingFileLockException = this JVM already holds it
          // through a channel outside this helper (a test simulating a
          // foreign process, or a bug): treat as busy, never throw
          def attempt(): Option[java.nio.channels.FileLock] =
            try Option(ch.tryLock())
            catch {
              case _: java.nio.channels.OverlappingFileLockException => None
            }
          var fl = attempt()
          while (fl.isEmpty && System.nanoTime() < deadline) {
            Thread.sleep(25)
            fl = attempt()
          }
          fl match {
            case None => None
            case Some(l) =>
              try {
                ch.truncate(0L)
                ch.write(java.nio.ByteBuffer.wrap(
                  ProcessHandle.current().pid().toString.getBytes(
                    java.nio.charset.StandardCharsets.UTF_8)))
                Some(body)
              } finally l.release()
          }
        } finally ch.close()
      }
    } finally mon.unlock()
  }

  /** Recover a [[rewriteSwap]] interrupted between its two renames: the
    * journal written before the first move names the tmp and old
    * generations, so a crash at ANY point leaves a deterministic repair
    * — live missing + tmp present → finish the swap (tmp is the
    * complete new generation); live missing + only old present →
    * restore the pre-swap generation; live present → the swap either
    * never started (drop the orphaned tmp) or completed (drop the
    * leftovers). Runs under the index maintenance lock, so a journal
    * can only ever be crash leftovers here — an in-flight writer holds
    * the lock and this repair SKIPS (non-blocking acquire) instead of
    * guessing from timestamps. A torn journal (crash during the journal
    * write itself, before any rename could have happened) is deleted.
    * No-op without a journal. */
  private[graft] def repairSwap(dir: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val j = Paths.get(s"${dir}_swap_journal")
    if (!Files.exists(j)) return // cheap read-path fast exit, no lock
    val indexDir = Option(Paths.get(dir).getParent)
      .map(_.toString).getOrElse(dir)
    withIndexLock(indexDir, waitMs = 0L) {
      try {
        if (!Files.exists(j)) return // owner finished while we acquired
        // a journal means dirs may be about to move — any pinned
        // serving listing for this index could name files the repair
        // relocates
        AnnIndex.invalidateServing(indexDir)
        val lines = Files.readAllLines(j)
        val live = Paths.get(dir)
        if (lines.size < 2) {
          // torn journal: rewriteSwap journals BEFORE its first
          // rename, so the live dir is intact and there is nothing to
          // repair; under the lock no live writer can be mid-write
          Files.deleteIfExists(j)
          return
        }
        val tmp = Paths.get(lines.get(0)); val old = Paths.get(lines.get(1))
        if (!Files.isDirectory(live)) {
          if (Files.isDirectory(tmp))
            Files.move(tmp, live, StandardCopyOption.ATOMIC_MOVE)
          else if (Files.isDirectory(old))
            Files.move(old, live, StandardCopyOption.ATOMIC_MOVE)
          else {
            // live, tmp AND old all missing: nothing can restore the
            // live path, and the journal is the only surviving record
            // of the failed swap — keep it (deleting it would erase
            // the evidence while leaving the index headless)
            System.err.println(
              s"repairSwap: no candidate dir can restore '$dir' " +
                s"(tmp=$tmp old=$old both missing); keeping swap journal")
            return
          }
        }
        rmTree(old)
        if (Files.isDirectory(live)) rmTree(tmp)
        Files.deleteIfExists(j)
      } catch {
        // a previous session completing its swap can still have deleted
        // dirs between our journal read and the moves (its success
        // means nothing is left to repair); FileAlreadyExists /
        // DirectoryNotEmpty from the promote moves are the same
        // lost-race no-op — the index is whole either way
        case _: java.nio.file.NoSuchFileException => ()
        case _: java.nio.file.FileAlreadyExistsException => ()
        case _: java.nio.file.DirectoryNotEmptyException => ()
      }
    }
    ()
  }

  /** Rewrite a parquet dir as `keep` of its rows (refresh's purge,
    * compaction's repartition): write tmp, swap
    * atomically, drop the old generation (read-and-overwrite of the
    * same live path would race the lazy scan). The two renames are not
    * jointly atomic, so a journal written BEFORE the first move makes a
    * crash between them recoverable ([[repairSwap]]) instead of leaving
    * the index with no live dir. An all-rows-purged rewrite swaps in an
    * EMPTY directory (never a schema-less parquet dir a later load
    * would fail to infer): callers appending new rows right after —
    * the only legal next step, [[refreshIndex]] guards the
    * would-stay-empty case — write the first data files. */
  private[graft] def rewriteSwap(spark: SparkSession, dir: String,
                          partitionCols: Seq[String],
                          keep: DataFrame => DataFrame): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val live = Paths.get(dir)
    val tmp = Paths.get(s"${dir}_refresh_${System.nanoTime()}")
    val kept = keep(spark.read.parquet(dir))
    if (kept.isEmpty) Files.createDirectories(tmp)
    else {
      val w = kept.write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(tmp.toString)
    }
    // journal + both renames + cleanup run under the index maintenance
    // lock: a concurrent repairer (or second writer) can never observe
    // this swap mid-flight, so repair needs no staleness guessing
    val indexDir = Option(live.getParent).map(_.toString).getOrElse(dir)
    val done = withIndexLock(indexDir) {
      val old = Paths.get(s"${dir}_old_${System.nanoTime()}")
      val journal = Paths.get(s"${dir}_swap_journal")
      Files.writeString(journal, s"$tmp\n$old\n")
      Files.move(live, old, StandardCopyOption.ATOMIC_MOVE)
      Files.move(tmp, live, StandardCopyOption.ATOMIC_MOVE)
      rmTree(old)
      Files.deleteIfExists(journal)
    }
    if (done.isEmpty)
      throw new IllegalStateException(
        s"another live session holds the maintenance lock for '$indexDir' — " +
          "swap aborted (staged dir left for inspection)")
  }

  /** Persistent chunk-id generation counter (`next_generation` under
    * the index): the high 32 bits of every chunk id name the
    * generation that wrote it, and THREE writers allocate generations —
    * the base build (gen 0), the incremental stream (one per
    * micro-batch), and refresh-index (one per repair). Each allocator
    * has a natural floor (stream: batchId+1 from its checkpoint;
    * refresh: above the max existing id), but the floors don't know
    * about each other: a refresh at generation G followed by a resumed
    * watcher whose next batch floor is ≤ G would mint duplicate chunk
    * ids and corrupt chunk identity across chunks/ and forest/. The
    * shared high-water mark makes every allocation strictly increasing
    * regardless of which writer asks. Allocation runs under the index
    * maintenance lock ([[withIndexLock]]: exclusive lock file, owner
    * pid, dead-owner takeover), so the counter is safe across
    * PROCESSES, not just this JVM's threads. */
  private[graft] def nextGeneration(indexDir: String, floor: Long,
                                    recoverFloor: () => Long = () => 0L): Long =
    withIndexLock(indexDir) {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val p = Paths.get(s"$indexDir/next_generation")
      val recorded =
        if (!Files.exists(p)) 0L
        else
          try Files.readString(p).trim.toLong
          catch {
            case _: NumberFormatException =>
              // torn counter file (a crash mid-write predating the
              // atomic tmp+move below, or manual corruption): recompute
              // the floor from the index itself — wedging every
              // allocator on an unparsable file would turn one torn
              // write into a permanent refresh/watcher outage
              recoverFloor()
          }
      val g = math.max(recorded, floor)
      // tmp + atomic rename: the counter is the chunk-identity
      // authority, so it must never be observable half-written
      val tmp = Paths.get(s"$indexDir/next_generation_tmp")
      Files.writeString(tmp, (g + 1L).toString)
      Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE)
      g
    }.getOrElse(throw new IllegalStateException(
      s"another live session holds the maintenance lock for '$indexDir' — " +
        "cannot allocate a chunk-id generation"))

  /** Bring a stale index back to fresh: diff the current repo manifest
    * against the indexed view (build manifest + incremental processed
    * log), purge changed/deleted files' chunks from chunks/ and their
    * ids from forest/ (anti-joins against purge-key frames — an
    * `isin(thousands)` In-expression is the non-scale-safe form),
    * re-chunk + re-embed only the changed/new files (fresh ids above
    * every existing generation, via the [[nextGeneration]] high-water
    * mark the incremental stream shares), regenerate the profile, and
    * re-stamp manifest + metadata. A wave of any size takes one path:
    * an explicit-path binaryFile scan of the changed files, the wave
    * builder the watcher shares ([[embedWave]]) and the one append
    * ([[AnnIndex.appendWave]]). A no-op on a fresh index. After
    * refresh, [[checkIndex]] reports fresh by construction. */
  def refreshIndex(spark: SparkSession, repoDir: String, indexDir: String,
                   embedder: Embedder = new HashingEmbedder()): RefreshStats =
    // the WHOLE repair — snapshot reads included — runs under the
    // maintenance lock: locking only the rename sections would let two
    // serialized refreshes both stage from the SAME pre-swap snapshot,
    // and the second swap would silently discard the first's committed
    // rewrite (lost update). The nested locked primitives
    // (repairSwap/nextGeneration/rewriteSwap) re-enter.
    withIndexLock(indexDir) {
      refreshIndexLocked(spark, repoDir, indexDir, embedder)
    }.getOrElse(throw new IllegalStateException(
      s"another live session holds the maintenance lock for '$indexDir' — " +
        "refresh aborted"))

  private def refreshIndexLocked(spark: SparkSession, repoDir: String,
                                 indexDir: String, embedder: Embedder): RefreshStats = {
    import spark.implicits._
    repairSwap(s"$indexDir/chunks")
    repairSwap(s"$indexDir/forest")
    val cur = repoManifest(repoDir)
    val curMap = cur.toMap
    val indexed = readHashLines(
      java.nio.file.Paths.get(s"$indexDir/index_manifest.tsv")).toMap ++
      readHashLines(
        java.nio.file.Paths.get(s"$indexDir/processed_files.log")).toMap
    // purge = indexed files whose content changed or vanished;
    // reindex = current files whose content the index does not hold
    val purgeFiles = indexed.keys
      .filter(rel => !curMap.get(rel).contains(indexed(rel))).toSeq.sorted
    val reindexFiles = cur.collect {
      case (rel, h) if !indexed.get(rel).contains(h) => rel
    }.sorted
    if (purgeFiles.isEmpty && reindexFiles.isEmpty)
      return RefreshStats(0L, 0L, 0L, 0L)

    val root = java.nio.file.Paths.get(repoDir).toAbsolutePath
    val chunks = AnnIndex.load(spark, indexDir)
    val mx = chunks.agg(max(col("chunk_id"))).head()
    val genFloor = (if (mx.isNullAt(0)) 0L else mx.getLong(0) >> 32) + 1L
    val gen = nextGeneration(indexDir, genFloor, () => genFloor)
    // build the wave FIRST (eager, checkpointed by embedWave) — the
    // empty-index guard below must know the actual chunk yield BEFORE
    // any destructive purge runs: a wave of reindex files can
    // legitimately yield zero chunks (truncated-to-empty or
    // unsupported-extension replacements), and destroying the index
    // before discovering that would leave nothing to load.
    // Paths are loaded EXACTLY (scanning the whole repo and filtering
    // down would read every file's bytes, making repair cost scale with
    // repo size and tripping binaryFile's size limit on any unrelated
    // huge artifact) and GLOB-ESCAPED (load() glob-interprets paths: a
    // literal src/pages/[id].tsx would read as a character class and
    // 'not exist'). A file deleted between the manifest diff and its
    // read drops out of the wave (ignoreMissingFiles covers a deletion
    // after the listing); the restamped manifest still names it, so
    // the next check-index honestly reports stale again.
    val livePaths = reindexFiles.map(root.resolve(_))
      .filter(java.nio.file.Files.exists(_))
      .map(_.toString.replaceAll("([{}\\[\\]*?\\\\])", "\\\\$1"))
    val files =
      if (livePaths.isEmpty) Seq.empty[(String, Array[Byte])].toDF("path", "content")
      else spark.read.format("binaryFile").option("ignoreMissingFiles", "true")
        .load(livePaths: _*)
    val rows = embedWave(spark, files, root.toString, indexDir, gen, embedder)
    val addedChunks = rows.count()
    // the live layout, read before any swap (also primes the layout
    // verdict appendWave reuses once the purge may have emptied chunks/)
    val chunkParts = AnnIndex.chunkPartitionCols(spark, indexDir)
    var purgedChunks = 0L
    if (purgeFiles.nonEmpty) {
      val purgeDf = broadcast(purgeFiles.toDF("file"))
      // materialize the purged ids BEFORE the chunks/ swap: the frame
      // is consumed by the forest rewrite, which runs after the chunks
      // dir it reads through has been replaced
      val purgedIds = chunks.join(purgeDf, Seq("file"), "left_semi")
        .select("chunk_id").localCheckpoint(true)
      purgedChunks = purgedIds.count()
      if (purgedChunks > 0L) {
        // a refresh that empties the index with nothing to re-add has
        // no valid final state (the load below could never read a
        // schema) — that operation is a delete, not a repair. The
        // guard runs BEFORE any mutation and checks the reindex wave's
        // ACTUAL chunk yield, not just its file count
        if (addedChunks == 0L &&
            chunks.join(purgeDf, Seq("file"), "left_anti").isEmpty)
          throw new IllegalStateException(
            "refresh would purge every chunk with nothing to re-index — " +
              "remove the index directory and rebuild instead")
        rewriteSwap(spark, s"$indexDir/chunks", chunkParts,
          df => df.join(purgeDf, Seq("file"), "left_anti"))
        if (AnnIndex.hasPlanes(indexDir) &&
            java.nio.file.Files.isDirectory(
              java.nio.file.Paths.get(s"$indexDir/forest")))
          rewriteSwap(spark, s"$indexDir/forest", Seq("tree", "leaf"),
            df => df.join(broadcast(purgedIds), Seq("chunk_id"), "left_anti"))
      }
    }
    AnnIndex.appendWave(spark, indexDir, rows)
    org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(rows)
    // profile + freshness re-stamp: the refreshed index describes the
    // CURRENT repo state, manifest included; the processed log is
    // superseded
    val profileFiles = filesFrame(spark, repoDir)
    writeProfileJson(Profile.profile(profileFiles, repoDir.split('/').last),
      s"$indexDir/profile.json")
    writeHashLines(
      java.nio.file.Paths.get(s"$indexDir/index_manifest.tsv"), cur)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$indexDir/processed_files.log"))
    val n = AnnIndex.load(spark, indexDir).count()
    writeIndexMeta(IndexMeta(
      creationTimestamp = java.time.Instant.now().toString,
      repoPath = root.toString,
      sourceCommitHash = gitCommitHash(repoDir),
      contentHash = rollupHash(cur),
      nChunks = n,
      contentMode = if (indexRefContent(indexDir)) "ref" else "default"), indexDir)
    indexChanged(spark, indexDir)
    RefreshStats(purgeFiles.size.toLong, purgedChunks,
      reindexFiles.size.toLong, addedChunks)
  }

  /** The wave builder of index maintenance, shared by refresh-index and
    * the incremental watcher: a `(path, content)` frame of files under
    * `root`, as the binaryFile source yields it, is chunked through
    * [[Chunker.fileChunkRows]] in the content mode the index was built
    * with (the index_meta.json stamp — a repair wave must not mix
    * content projections), embedded through [[Embed.embedChunks]] with
    * generation-`gen` ids, and checkpointed, so counting, the chunks
    * append and the forest rows never re-run the embed. The caller
    * releases the checkpoint (Bridge.unpersistCheckpoint). */
  private[graft] def embedWave(spark: SparkSession, files: DataFrame, root: String,
                               indexDir: String, gen: Long,
                               embedder: Embedder): DataFrame = {
    import spark.implicits._
    val refContent = indexRefContent(indexDir)
    val chunks = files.select(col("path"), col("content")).as[(String, Array[Byte])]
      .flatMap { case (uri, bytes) =>
        val rel = uri.stripPrefix("file:").stripPrefix(root).dropWhile(_ == '/')
        Chunker.fileChunkRows(rel,
            new String(bytes, java.nio.charset.StandardCharsets.UTF_8), refContent)
          .map { case (r, _, c, lang, e) => CodeChunk(r, c, lang, e) }
      }
    Embed.embedChunks(spark, chunks, embedder, gen).toDF().localCheckpoint(true)
  }
}

/** Thin CLI mirroring main.rs:42-92 commands (index / query /
  * interactive REPL holding one session — SURVEY.md §3.3).
  *
  * REPL conveniences mirror the reference's feature-gated extras
  * (main.rs:578-601 history file, 279/378 + 510-518 elapsed prints,
  * 695-718 status/help): a `.graft_chat_history` file under $HOME
  * (cwd fallback) loaded at session start and appended per line, a
  * prompt naming the loaded index, `status`/`help` commands, "Total
  * indexing time" after index, and "Answer generated by <model> in
  * <elapsed>:" before the answer. No terminal line editor on the JVM
  * without a native dependency, so history persists across sessions
  * (the file contract) without arrow-key recall (the rustyline UI). */
object ChatCli {
  private[graft] val HistoryFileName = ".graft_chat_history"

  /** main.rs:580-596: $HOME/<file>, cwd fallback when HOME is unset. */
  private[graft] def historyPath(env: Map[String, String] = sys.env): java.nio.file.Path =
    env.get("HOME").filter(_.nonEmpty)
      .map(h => java.nio.file.Paths.get(h, HistoryFileName))
      .getOrElse(java.nio.file.Paths.get(HistoryFileName))

  private[graft] def loadHistory(p: java.nio.file.Path): Seq[String] =
    if (java.nio.file.Files.isReadable(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(p).asScala.toSeq
    } else Seq.empty

  private[graft] def appendHistory(p: java.nio.file.Path, line: String): Unit =
    try {
      java.nio.file.Files.write(p,
        (line + System.lineSeparator).getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      ()
    } catch { case _: java.io.IOException => () } // history is best-effort

  /** "1.23s" — the reference's {:.2?} Duration rendering at the
    * second scale its pipelines operate in. Locale-pinned: a
    * comma-decimal default locale must not turn it into "1,23s". */
  private[graft] def formatElapsed(nanos: Long): String =
    "%.2fs".formatLocal(java.util.Locale.ROOT, nanos / 1e9)

  /** The reference's clap flag surface (main.rs:42-150): `--model-id`
    * overrides `--model-type` on index/query/interactive; query adds
    * `-k`, `--use-rerank`, `--rerank-model`, `--hyde-model`,
    * `--answer-model`. Env vars (GRAFT_ONNX_MODEL, GRAFT_RERANK_ONNX,
    * GRAFT_OPENAI_MODEL) stay as OVERRIDES of the flags, so existing
    * deployments keep working unchanged. */
  private[graft] case class CliFlags(
      modelId: Option[String] = None,
      modelType: String = "qwen3",
      k: Option[Int] = None,
      useRerank: Boolean = false,
      rerankModel: Option[String] = None,
      hydeModel: Option[String] = None,
      answerModel: Option[String] = None,
      refContent: Boolean = false)

  /** Splits an argument list into (positionals, flags). Unknown
    * `--flags` fail fast with the flag name, like clap. */
  private[graft] def parseFlags(args: List[String]): Either[String, (List[String], CliFlags)] = {
    def loop(rest: List[String], pos: List[String], f: CliFlags): Either[String, (List[String], CliFlags)] =
      rest match {
        case Nil => Right((pos.reverse, f))
        case "--model-id" :: v :: t => loop(t, pos, f.copy(modelId = Some(v)))
        case "--model-type" :: v :: t => loop(t, pos, f.copy(modelType = v))
        case ("-k" | "--k") :: v :: t =>
          v.toIntOption match {
            case Some(n) if n > 0 => loop(t, pos, f.copy(k = Some(n)))
            case _ => Left(s"invalid -k value: $v")
          }
        case "--use-rerank" :: t => loop(t, pos, f.copy(useRerank = true))
        case "--ref-content" :: t => loop(t, pos, f.copy(refContent = true))
        case "--rerank-model" :: v :: t => loop(t, pos, f.copy(rerankModel = Some(v)))
        case "--hyde-model" :: v :: t => loop(t, pos, f.copy(hydeModel = Some(v)))
        case "--answer-model" :: v :: t => loop(t, pos, f.copy(answerModel = Some(v)))
        case a :: _ if a.startsWith("--") => Left(s"unknown flag: $a")
        case a :: t => loop(t, a :: pos, f)
      }
    loop(args, Nil, CliFlags())
  }

  /** Flag-aware embedder routing: env GRAFT_ONNX_MODEL wins (deployment
    * override), else `--model-id` names an .onnx file, else the
    * predefined `--model-type` — which, offline, resolves to the
    * deterministic hashing embedder (the reference downloads its
    * predefined models; this engine's offline default is the hashing
    * family, exactly as when no flag is given). */
  private[graft] def embedderFor(flags: CliFlags,
                                 env: Map[String, String] = sys.env): Embedder =
    if (env.contains("GRAFT_ONNX_MODEL")) Embedders.fromEnv(env)
    else flags.modelId match {
      case Some(path) if java.nio.file.Files.isRegularFile(java.nio.file.Paths.get(path)) =>
        new OnnxEmbedder(path, env.get("GRAFT_ONNX_DIM").map(_.toInt))
      case _ => new HashingEmbedder()
    }

  /** Flag-aware reranker routing, same precedence: env override, then
    * `--rerank-model` as an .onnx path, then the TF-IDF default. */
  private[graft] def rerankerFor(flags: CliFlags,
                                 env: Map[String, String] = sys.env): Reranker =
    if (env.contains("GRAFT_RERANK_ONNX")) Rerankers.fromEnv(env)
    else flags.rerankModel match {
      case Some(path) if java.nio.file.Files.isRegularFile(java.nio.file.Paths.get(path)) =>
        new OnnxReranker(path)
      case _ => new TfidfReranker()
    }

  private def answerModelName(flags: CliFlags = CliFlags()): String =
    if (sys.env.contains("GRAFT_OPENAI_BASE_URL"))
      sys.env.get("GRAFT_OPENAI_MODEL")
        .orElse(flags.answerModel)
        .getOrElse("gpt-4o-mini")
    else "mock"

  private def runQuery(spark: SparkSession, indexDir: String, question: String,
                       k: Int, flags: CliFlags = CliFlags()): Unit = {
    val model = answerModelName(flags)
    // main.rs:500-508's spinner line, sans ticks (no steady-tick
    // thread without a TTY library; the message is the contract)
    println(s"Generating answer with $model ...")
    val t0 = System.nanoTime()
    // --hyde-model routes classify + HyDE through its own (cheaper)
    // client, synthesis stays on the answer model — main.rs:456-476's
    // two-client split (SplitChatClient). Without the flag one client
    // serves all three touchpoints, as before.
    val answerClient = OpenAiChatClient.fromEnv(modelFallback = flags.answerModel)
    val chatClient = flags.hydeModel match {
      case Some(_) => new SplitChatClient(
        OpenAiChatClient.fromEnv(modelFallback = flags.hydeModel), answerClient)
      case None => answerClient
    }
    val out = ChatPipeline.query(spark, indexDir, question, k,
      rerank = flags.useRerank,
      client = chatClient,
      embedder = embedderFor(flags),
      reranker = Some(rerankerFor(flags)))
    val elapsed = formatElapsed(System.nanoTime() - t0)
    out.results.foreach(r =>
      println(s"Chunk ${r.rank} | ${r.file} | Relevance " +
        "%.4f".formatLocal(java.util.Locale.ROOT, r.distance)))
    println(s"Answer generated by $model in $elapsed:")
    out.answer.foreach(print); println()
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Harness.session(graft.Harness.Serving,
      master = sys.env.getOrElse("SPARK_MASTER", "local[4]"), shufflePartitions = "4")
    args.toList match {
      case "index" :: rest0 =>
        parseFlags(rest0) match {
          case Right((repo :: out :: Nil, flags)) =>
            // GRAFT_ONNX_MODEL overrides --model-id/--model-type
            val t0 = System.nanoTime()
            val n = ChatPipeline.index(spark, repo, out,
              embedder = embedderFor(flags), refContent = flags.refContent)
            println(s"indexed $n chunks from $repo -> $out")
            println(s"Total indexing time: ${formatElapsed(System.nanoTime() - t0)}")
          case Right(_) =>
            System.err.println("usage: index <repo> <out> [--model-id M] [--model-type T] [--ref-content]")
            spark.stop(); sys.exit(2)
          case Left(err) =>
            System.err.println(s"error: $err"); spark.stop(); sys.exit(2)
        }
      case "query" :: rest0 =>
        parseFlags(rest0) match {
          case Right((indexDir :: question :: rest, flags)) =>
            if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(indexDir, "chunks"))) {
              System.err.println(s"error: no index at $indexDir (run: index <repo> $indexDir)")
              spark.stop(); sys.exit(2)
            }
            // positional k (main.rs query surface) or the -k flag
            val k = rest.headOption.flatMap(_.toIntOption)
              .orElse(flags.k).getOrElse(3)
            // GRAFT_OPENAI_BASE_URL switches the LLM touchpoints to a real
            // endpoint; unset, the deterministic mock answers
            runQuery(spark, indexDir, question, k, flags)
          case Right(_) =>
            System.err.println("usage: query <indexDir> <question> [k] " +
              "[--model-id M] [--model-type T] [--use-rerank] [--rerank-model R] " +
              "[--hyde-model H] [--answer-model A]")
            spark.stop(); sys.exit(2)
          case Left(err) =>
            System.err.println(s"error: $err"); spark.stop(); sys.exit(2)
        }
      case "interactive" :: Nil =>
        val histFile = historyPath()
        val prior = loadHistory(histFile)
        if (prior.nonEmpty) println(s"Loaded ${prior.size} history entries from $histFile")
        println("Interactive graft-chat session. Type 'help' for commands, 'exit' to quit.")
        var indexDir: Option[String] = None
        var line = ""
        def prompt = s"graft-chat (${indexDir.getOrElse("no index")})> "
        while ({ line = Option(scala.io.StdIn.readLine(prompt)).getOrElse("exit"); line != "exit" }) {
          if (line.trim.nonEmpty) appendHistory(histFile, line)
          line.trim.split("\\s+").toList match {
            case "index" :: rest0 =>
              parseFlags(rest0) match {
                case Right((repo :: out :: Nil, flags)) =>
                  // same flag+env embedder routing as the top-level
                  // commands — REPL-built indexes and queries must
                  // share vector space
                  val t0 = System.nanoTime()
                  ChatPipeline.index(spark, repo, out, embedder = embedderFor(flags),
                    refContent = flags.refContent)
                  println(s"Total indexing time: ${formatElapsed(System.nanoTime() - t0)}")
                  indexDir = Some(out)
                case Right(_) => println("usage: index <repo> <out> [--model-id M] [--model-type T] [--ref-content]")
                case Left(err) => println(s"error: $err")
              }
            case "load" :: dir :: Nil => indexDir = Some(dir)
            case "query" :: qs if indexDir.isDefined =>
              // ReplQueryArgs (main.rs:137-150): free-text query parts
              // plus -k N and --use-rerank/--rerank-model/--hyde-model/
              // --answer-model
              parseFlags(qs) match {
                case Right((parts, flags)) if parts.nonEmpty =>
                  runQuery(spark, indexDir.get, parts.mkString(" "),
                    k = flags.k.getOrElse(3), flags)
                case Right(_) => println("usage: query <question> [-k N] [--use-rerank]")
                case Left(err) => println(s"error: $err")
              }
            case "status" :: Nil =>
              // main.rs:695-704 + proposals.md:27 (display the
              // freshness metadata when an index is loaded)
              println("Session Status:")
              println(s"  Model: ${sys.env.getOrElse("GRAFT_ONNX_MODEL", "hashing-256")}")
              println("  Embedder Loaded: Yes")
              println(indexDir.fold("  Current Index: Not loaded")(p =>
                s"  Current Index: $p (Loaded)"))
              indexDir.flatMap(ChatPipeline.readIndexMeta).foreach { m =>
                println(s"  Index Created: ${m.creationTimestamp}")
                println(s"  Indexed Source: ${m.repoPath}" +
                  m.sourceCommitHash.fold("")(h => s" @ ${h.take(8)}"))
                println(s"  Content Hash: ${m.contentHash}")
              }
              // build-time ANN skew sidecar (leaf_skew.json) when present
              indexDir.map(d => java.nio.file.Paths.get(s"$d/leaf_skew.json"))
                .filter(java.nio.file.Files.exists(_)).foreach { p =>
                  val s = new com.fasterxml.jackson.databind.ObjectMapper()
                    .readTree(java.nio.file.Files.readString(p))
                  val mx = s.path("max_leaf").asLong()
                  val tgt = s.path("leaf_target").asLong()
                  println(s"  Hottest ANN Leaf: $mx rows (target ~$tgt)" +
                    (if (mx > tgt * ChatPipeline.LeafSkewWarnFactor)
                      " — SKEWED: near-dup family, dedup before re-indexing"
                    else ""))
                }
            case "check-index" :: Nil if indexDir.isDefined =>
              // proposals.md:41-74 — the on-demand staleness check
              ChatPipeline.checkIndex(indexDir.get) match {
                case Left(msg) => println(s"Cannot determine staleness: $msg")
                case Right(f) if f.stale =>
                  println(s"Index is STALE: ${f.reason}. Run 'refresh-index' " +
                    s"or re-index with 'index ${f.meta.repoPath} ${indexDir.get}'.")
                case Right(f) =>
                  println(s"Index is up to date (${f.reason}; " +
                    s"created ${f.meta.creationTimestamp}).")
              }
            case "refresh-index" :: Nil if indexDir.isDefined =>
              // repair without a full rebuild: purge changed/deleted
              // files' chunks, re-embed only changed/new files
              ChatPipeline.readIndexMeta(indexDir.get) match {
                case None => println("Cannot refresh: no freshness metadata " +
                  "(re-index to record it).")
                case Some(m) =>
                  val t0 = System.nanoTime()
                  val st = ChatPipeline.refreshIndex(spark, m.repoPath,
                    indexDir.get, embedder = Embedders.fromEnv())
                  println(s"Refreshed: purged ${st.purgedChunks} chunk(s) of " +
                    s"${st.purgedFiles} file(s), re-indexed ${st.reindexedFiles} " +
                    s"file(s) (+${st.addedChunks} chunk(s)) in " +
                    formatElapsed(System.nanoTime() - t0))
              }
            case "graph-status" :: dir :: Nil =>
              // dedup-graph hygiene read + the compact advisory (the
              // check-index discipline applied to the graph artifact)
              try {
                val row = graft.ops.Dedup.graphStatus(spark, dir).collect().head
                row.schema.fieldNames.zip(row.toSeq).foreach { case (n, v) =>
                  println(s"  $n: $v")
                }
                graft.ops.Dedup.compactAdvisory(spark, dir) match {
                  case Some(msg) => println(msg)
                  case None => println(
                    "Graph is compact: no relabeling debt, no appended waves.")
                }
              } catch {
                case e: org.apache.spark.sql.AnalysisException =>
                  println(s"Cannot read graph at '$dir': ${e.getMessage}")
              }
            case "help" :: Nil =>
              println("Available REPL commands:")
              println("  index <repo> <out> [--model-id M] [--model-type T] : Indexes a repository.")
              println("  load <index_dir>    : Loads an ANN index from the specified directory.")
              println("  query <question> [-k N] [--use-rerank] [--rerank-model R] : Queries the loaded index.")
              println("  status              : Shows current session status.")
              println("  check-index         : Checks whether the loaded index is stale.")
              println("  refresh-index       : Repairs a stale index without a full rebuild.")
              println("  graph-status <dir>  : Dedup-graph hygiene + compact advisory.")
              println("  help                : Shows this help message.")
              println("  exit                : Exits the interactive session.")
            case Nil | ("" :: Nil) => ()
            case _ => println("unrecognized (or no index loaded) — type 'help'")
          }
        }
      case _ =>
        System.err.println("usage: index <repo> <out> | query <indexDir> <question> [k] | interactive")
    }
    spark.stop()
  }
}
