package graft

import org.apache.spark.sql.functions.col
import graft.chat.{AnnIndex, ChatPipeline}

/** Scale/crash hardening of the refresh-index path:
  *  - a refreshed index holds exactly what a fresh build of the edited
  *    repo holds: the same (file, code, language, extension, vector)
  *    rows, each with one forest row per tree
  *  - every chunk of a multi-partition refresh wave, and of a watcher
  *    batch, is embedded exactly once
  *  - refresh and the incremental stream allocate chunk-id generations
  *    from one persistent high-water counter, so a refresh between
  *    batches can never mint duplicate ids
  *  - an interrupted chunks/forest swap is journal-recoverable at any
  *    crash point
  *  - the query-time staleness check is cached behind a stat sketch
  *    (full hashing runs only when something changed)
  */
class RefreshHardeningSpec extends SparkSpec {

  private def scratch(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(
      graft.streaming.StreamScratch.root, prefix)

  private def w(dir: java.nio.file.Path, rel: String, content: String): Unit = {
    val p = dir.resolve(rel)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, content)
  }

  private def copyDir(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(src)
    try walk.forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    } finally walk.close()
  }

  private def rust(tag: String, lines: Int): String =
    (1 to lines).map(i => s"pub fn ${tag}_$i() -> i32 {\n    ${i}\n}\n").mkString

  private def writeBaseRepo(repo: java.nio.file.Path): Unit =
    (1 to 8).foreach(i => w(repo, s"src/mod$i.rs", rust(s"base$i", 6)))

  test("a refreshed index holds the rows of a fresh build of the edited repo") {
    val repo = scratch("rh-repo")
    writeBaseRepo(repo)
    val idx = scratch("rh-idx").toString
    ChatPipeline.index(spark, repo.toString, idx)

    // the edit: modify 4 files, add 4 — an 8-file reindex wave
    (1 to 4).foreach(i => w(repo, s"src/mod$i.rs", rust(s"edit$i", 7)))
    (9 to 12).foreach(i => w(repo, s"src/mod$i.rs", rust(s"new$i", 5)))
    val st = ChatPipeline.refreshIndex(spark, repo.toString, idx)
    assert(st.purgedFiles == 4L && st.reindexedFiles == 8L && st.addedChunks > 0L, st)
    val fresh = scratch("rh-fresh").toString
    ChatPipeline.index(spark, repo.toString, fresh)

    def rows(i: String): Seq[String] =
      AnnIndex.load(spark, i)
        .select("file", "code", "language", "extension", "vector")
        .collect().map(_.toSeq.map {
          case v: scala.collection.Seq[_] => v.mkString("[", ",", "]")
          case x => String.valueOf(x)
        }.mkString("\u0001")).toSeq.sorted
    assert(rows(idx) == rows(fresh),
      "refreshed chunks differ from a fresh build of the edited repo")
    // one forest row per tree for every live chunk, and no orphans
    val perChunk = spark.read.parquet(s"$idx/forest").groupBy("chunk_id").count()
    val ids = AnnIndex.load(spark, idx).select("chunk_id")
    assert(perChunk.join(ids, Seq("chunk_id"), "full_outer")
      .filter(col("count").isNull || col("count") =!= AnnIndex.NumTrees).isEmpty,
      "forest rows per chunk differ from NumTrees")
    assert(ChatPipeline.readIndexMeta(idx).get.contentHash ==
      ChatPipeline.readIndexMeta(fresh).get.contentHash)
    assert(!ChatPipeline.checkIndex(idx).toOption.get.stale)
  }

  test("each chunk of a multi-partition refresh wave and of a watcher batch is embedded once") {
    val repo = scratch("rh-once-repo")
    writeBaseRepo(repo)
    val idx = scratch("rh-once-idx").toString
    ChatPipeline.index(spark, repo.toString, idx)
    // 70 new files: the explicit-path scan spreads them over several
    // partitions, so a wave that sampled or shuffled its embedded rows
    // would embed some chunks again
    (1 to 70).foreach(i => w(repo, s"src/wave$i.rs", rust(s"wave$i", 3)))
    CountingEmbedder.seen.clear()
    val st = ChatPipeline.refreshIndex(spark, repo.toString, idx, new CountingEmbedder)
    import scala.jdk.CollectionConverters._
    def counts = CountingEmbedder.seen.asScala.toMap
    assert(st.addedChunks >= 70L && counts.size.toLong == st.addedChunks, (st, counts.size))
    assert(counts.values.forall(_ == 1),
      s"refresh re-embedded chunks: ${counts.filter(_._2 != 1).take(3)}")

    val watch = scratch("rh-once-watch")
    (1 to 6).foreach(i => w(watch, s"src/watched$i.rs", rust(s"watched$i", 3)))
    CountingEmbedder.seen.clear()
    val q = graft.streaming.IncrementalIndex.start(spark, watch.toString, idx,
      new CountingEmbedder)
    try q.processAllAvailable() finally q.stop()
    val added = AnnIndex.load(spark, idx).filter(col("file").startsWith("src/watched")).count()
    assert(added >= 6L && counts.size.toLong == added, (added, counts.size))
    assert(counts.values.forall(_ == 1),
      s"the watcher re-embedded chunks: ${counts.filter(_._2 != 1).take(3)}")
  }

  test("refresh and a fresh-checkpoint watcher share the generation counter: no duplicate chunk ids") {
    val repo = scratch("rh-gen-repo")
    writeBaseRepo(repo)
    val idx = scratch("rh-gen-idx").toString
    ChatPipeline.index(spark, repo.toString, idx)

    // refresh allocates generation 1 (above the base build's gen 0)
    w(repo, "src/mod1.rs", rust("genedit", 6))
    ChatPipeline.refreshIndex(spark, repo.toString, idx)
    val refreshGen = AnnIndex.load(spark, idx)
      .select((col("chunk_id") / org.apache.spark.sql.functions.lit(1L << 32))
        .cast("long").as("g"))
      .agg(org.apache.spark.sql.functions.max(col("g"))).head().getLong(0)
    assert(refreshGen >= 1L)

    // a watcher with a FRESH checkpoint starts at batchId 0 → floor 1 —
    // exactly the collision window the shared counter closes
    w(repo, "src/watched.rs", rust("watched", 4))
    val q = graft.streaming.IncrementalIndex.start(spark, repo.toString, idx)
    try q.processAllAvailable() finally q.stop()

    val chunks = AnnIndex.load(spark, idx)
    val total = chunks.count()
    val distinct = chunks.select("chunk_id").distinct().count()
    assert(total == distinct, s"duplicate chunk ids: $total rows, $distinct distinct")
    val watchedGen = chunks.filter(col("file") === "src/watched.rs")
      .select((col("chunk_id") / org.apache.spark.sql.functions.lit(1L << 32))
        .cast("long").as("g"))
      .agg(org.apache.spark.sql.functions.min(col("g"))).head().getLong(0)
    assert(watchedGen > refreshGen,
      s"stream generation $watchedGen did not clear the refresh generation $refreshGen")
  }

  test("repairSwap recovers an interrupted chunks swap at both crash points") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val repo = scratch("rh-swap-repo")
    writeBaseRepo(repo)
    val idx = scratch("rh-swap-idx").toString
    ChatPipeline.index(spark, repo.toString, idx)
    val before = AnnIndex.load(spark, idx).count()

    // crash point A: after live->old, before tmp->live (the window
    // with NO live dir). tmp here is a full copy = the complete new
    // generation the swap was installing.
    val live = Paths.get(s"$idx/chunks")
    val tmp = Paths.get(s"$idx/chunks_refresh_777")
    val old = Paths.get(s"$idx/chunks_old_777")
    copyDir(live, tmp)
    Files.writeString(Paths.get(s"$idx/chunks_swap_journal"), s"$tmp\n$old\n")
    Files.move(live, old, StandardCopyOption.ATOMIC_MOVE)
    assert(!Files.isDirectory(live))
    ChatPipeline.repairSwap(s"$idx/chunks")
    assert(Files.isDirectory(live), "repair did not restore a live chunks dir")
    assert(!Files.exists(Paths.get(s"$idx/chunks_swap_journal")))
    assert(!Files.isDirectory(old) && !Files.isDirectory(tmp))
    assert(AnnIndex.load(spark, idx).count() == before)

    // crash point B: journal written, neither move happened (aborted
    // refresh) — live untouched, orphaned tmp dropped. In-flight
    // protection is the maintenance LOCK now, not timestamps: while a
    // live holder (a raw channel stands in for a foreign process) has
    // the OS lock, repair must leave the writer's journal and tmp
    // alone; the moment the holder dies the kernel releases the lock
    // and repair acts immediately — no staleness window to wait out
    val tmp2 = Paths.get(s"$idx/chunks_refresh_778")
    copyDir(live, tmp2)
    val j2 = Paths.get(s"$idx/chunks_swap_journal")
    Files.writeString(j2, s"$tmp2\n$idx/chunks_old_778\n")
    val lockCh = java.nio.channels.FileChannel.open(
      Paths.get(s"$idx/maintenance_lock"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    val lockFl = lockCh.tryLock()
    assert(lockFl != null)
    ChatPipeline.repairSwap(s"$idx/chunks")
    assert(Files.isDirectory(tmp2) && Files.exists(j2),
      "repair touched an in-flight swap whose owner holds the lock")
    lockFl.release(); lockCh.close() // the writer "died": kernel releases
    ChatPipeline.repairSwap(s"$idx/chunks")
    assert(Files.isDirectory(live) && !Files.isDirectory(tmp2))
    assert(!Files.exists(j2))
    assert(AnnIndex.load(spark, idx).count() == before)

    // torn journal (crash during the journal write itself): no rename
    // can have happened; with the lock free it is crash leftovers by
    // construction and is deleted immediately
    Files.writeString(j2, s"$tmp2")
    ChatPipeline.repairSwap(s"$idx/chunks")
    assert(!Files.exists(j2))
    assert(Files.isDirectory(live))

    // and the query path runs the repair implicitly
    copyDir(live, tmp)
    Files.writeString(Paths.get(s"$idx/chunks_swap_journal"), s"$tmp\n$old\n")
    Files.move(live, old, StandardCopyOption.ATOMIC_MOVE)
    val out = ChatPipeline.query(spark, idx, "base function", 1)
    assert(out.results.nonEmpty)
    assert(Files.isDirectory(live))
  }

  test("maintenance lock: concurrent writers mint distinct generations; dead owners taken over; live owners exclude") {
    import java.nio.file.{Files, Paths}
    val idx = scratch("rh-lock-idx").toString
    // hammer: 8 concurrent "writer sessions" allocating through the
    // shared counter — every generation distinct, counter parsable
    val gens = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Long]())
    val errs = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val threads = (1 to 8).map { _ =>
      new Thread(() => {
        try (1 to 25).foreach { _ =>
          gens.add(ChatPipeline.nextGeneration(idx, 1L))
        } catch { case t: Throwable => errs.compareAndSet(null, t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.get() == null, s"writer failed: ${errs.get()}")
    import scala.jdk.CollectionConverters._
    val all = gens.asScala.toSeq
    assert(all.size == 200 && all.distinct.size == 200,
      s"duplicate generations minted: ${all.size} allocations, ${all.distinct.size} distinct")
    assert(Files.readString(Paths.get(s"$idx/next_generation")).trim.toLong ==
      all.max + 1L)

    // dead-owner release is the KERNEL's job with an OS advisory lock:
    // a leftover lock FILE (whatever its content — a crashed writer's
    // diagnostics pid) holds no lock, so the next allocation proceeds
    // immediately with no takeover protocol
    Files.writeString(Paths.get(s"$idx/maintenance_lock"), "999999999")
    assert(ChatPipeline.nextGeneration(idx, 1L) == all.max + 1L)

    // live-owner exclusion: while ANOTHER holder has the OS lock (a
    // raw channel here stands in for a foreign process), acquisition
    // times out instead of stealing it
    val ch = java.nio.channels.FileChannel.open(
      Paths.get(s"$idx/maintenance_lock"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    val fl = ch.tryLock()
    assert(fl != null)
    try
      assert(ChatPipeline.withIndexLock(idx, waitMs = 100L) { 42 }.isEmpty)
    finally { fl.release(); ch.close() }
    assert(ChatPipeline.withIndexLock(idx, waitMs = 100L) { 42 }.contains(42),
      "lock not acquirable after the holder released")
  }

  test("a rebuild at the same path supersedes the cached chunk-layout verdict") {
    val repo = scratch("rh-layout-repo")
    writeBaseRepo(repo)
    val idx = scratch("rh-layout-idx").toString
    // legacy layout: chunks partitioned by language only — primes the
    // per-path layout cache with 'not bucketed'
    import spark.implicits._
    Seq((1L, "f.rs", "code", "Rust", Option("rs"), Seq(0.1f, 0.2f)))
      .toDF("chunk_id", "file", "code", "language", "extension", "vector")
      .write.partitionBy("language").parquet(s"$idx/chunks")
    assert(!AnnIndex.hasIdBucket(spark, idx))
    // rebuild at the SAME path writes the bucketed layout; a stale
    // cached 'false' would make the next append write unbucketed rows
    // into the bucketed table
    ChatPipeline.index(spark, repo.toString, idx)
    assert(AnnIndex.hasIdBucket(spark, idx),
      "layout cache not invalidated by the rebuild")
  }

  test("repairSwap keeps the journal when no candidate dir can restore the live path") {
    import java.nio.file.{Files, Paths}
    val d = scratch("rh-headless").toString
    val target = s"$d/chunks" // never created: live, tmp and old all missing
    val j = Paths.get(s"${target}_swap_journal")
    Files.writeString(j,
      s"${target}_refresh_1\n${target}_old_1\n")
    ChatPipeline.repairSwap(target)
    assert(Files.exists(j),
      "journal erased while the index is headless — the only record of the failed swap")
  }

  test("nextGeneration survives a torn counter file via the recover floor") {
    import java.nio.file.{Files, Paths}
    val idx = scratch("rh-gen").toString
    assert(ChatPipeline.nextGeneration(idx, 5L) == 5L)
    assert(ChatPipeline.nextGeneration(idx, 0L) == 6L)
    // torn counter (crash mid-write): unparsable content must not wedge
    // the allocator — the recover floor (max existing generation in the
    // index) takes over, and the repaired file is parsable again
    Files.writeString(Paths.get(s"$idx/next_generation"), "12x garbage")
    var recovered = false
    val g = ChatPipeline.nextGeneration(idx, 3L, () => { recovered = true; 9L })
    assert(recovered && g == 9L)
    assert(ChatPipeline.nextGeneration(idx, 0L) == 10L)
    assert(!Files.exists(Paths.get(s"$idx/next_generation_tmp")))
  }

  test("payload_buckets: a missing file is recorded as the legacy default; a malformed one throws") {
    import java.nio.file.{Files, Paths}
    val idx = scratch("rh-buckets").toString
    val f = Paths.get(idx, "payload_buckets")
    assert(AnnIndex.ensurePayloadBuckets(idx) == AnnIndex.PayloadBucketsLegacyDefault)
    assert(Files.readString(f) == AnnIndex.PayloadBucketsLegacyDefault.toString,
      "the legacy default must be recorded for later appenders")
    // an empty or garbled file (torn write, hand edit) must fail the
    // append loudly, never silently bucket with the legacy default
    Seq("", "x").foreach { bad =>
      Files.writeString(f, bad)
      val e = intercept[IllegalStateException](AnnIndex.ensurePayloadBuckets(idx))
      assert(e.getMessage.contains(f.toString) && e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
    Files.writeString(f, "256\n")
    assert(AnnIndex.ensurePayloadBuckets(idx) == 256)
    val ls = Files.list(Paths.get(idx))
    try assert(ls.count() == 1, "a temp file was left behind") finally ls.close()
  }

  test("distributed refresh handles glob-metachar filenames and mid-refresh deletions") {
    val repo = scratch("rh-glob-repo")
    writeBaseRepo(repo)
    val idx = scratch("rh-glob-idx").toString
    ChatPipeline.index(spark, repo.toString, idx)
    // a Next.js-style bracketed filename: Spark's load() glob-interprets
    // raw paths, so '[id]' would read as a character class and the
    // refresh would abort with 'Path does not exist' without escaping
    w(repo, "src/[id].rs", rust("globbed", 5))
    w(repo, "src/mod1.rs", rust("globedit", 6))
    val st = ChatPipeline.refreshIndex(spark, repo.toString, idx)
    assert(st.addedChunks > 0L, st)
    val files = AnnIndex.load(spark, idx)
      .select("file").distinct().collect().map(_.getString(0)).toSet
    assert(files.contains("src/[id].rs"),
      s"bracketed filename missing from the refreshed index: $files")
    assert(!ChatPipeline.checkIndex(idx).toOption.get.stale)
  }

  test("refresh refuses to purge every chunk with nothing to re-index") {
    val repo = scratch("rh-empty-repo")
    w(repo, "src/only.rs", rust("only", 4))
    val idx = scratch("rh-empty-idx").toString
    ChatPipeline.index(spark, repo.toString, idx)
    // delete the only source file: the repair would empty the index
    java.nio.file.Files.delete(repo.resolve("src/only.rs"))
    intercept[IllegalStateException] {
      ChatPipeline.refreshIndex(spark, repo.toString, idx)
    }
    // the live index is untouched by the refusal
    assert(AnnIndex.load(spark, idx).count() > 0L)

    // the subtler arm: the file still EXISTS but its reindex yields
    // ZERO chunks (truncated to empty) — the wave's file count passes
    // a naive guard, its chunk yield must not. The guard checks the
    // actual yield BEFORE any destructive purge, so the index survives
    w(repo, "src/only.rs", "")
    intercept[IllegalStateException] {
      ChatPipeline.refreshIndex(spark, repo.toString, idx)
    }
    assert(AnnIndex.load(spark, idx).count() > 0L,
      "a zero-yield reindex wave must not destroy the index")
  }

  test("check-on-query is cached behind the stat sketch: one full check until something changes") {
    val repo = scratch("rh-cache-repo")
    writeBaseRepo(repo)
    val idx = scratch("rh-cache-idx").toString
    ChatPipeline.index(spark, repo.toString, idx)
    // exact per-query sketching for this test: the serving TTL would
    // legitimately delay detection of the mid-test edit
    val savedTtl = ChatPipeline.checkSketchTtlMs
    ChatPipeline.checkSketchTtlMs = 0L
    try {
    val c0 = ChatPipeline.fullCheckCount.get()
    ChatPipeline.query(spark, idx, "base function one", 1)
    ChatPipeline.query(spark, idx, "base function two", 1)
    ChatPipeline.query(spark, idx, "base function three", 1)
    val afterThree = ChatPipeline.fullCheckCount.get() - c0
    assert(afterThree == 1L,
      s"expected exactly 1 full check across 3 unchanged queries, got $afterThree")

    // an edit invalidates the sketch: the next query re-checks fully
    // and warns stale
    w(repo, "src/mod1.rs", rust("cacheedit", 6))
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf)) {
      ChatPipeline.query(spark, idx, "base function four", 1)
    }
    assert(ChatPipeline.fullCheckCount.get() - c0 == 2L)
    assert(buf.toString.contains("WARN: index may be stale"), buf.toString)

    // the cached variant agrees with the exact command on the verdict
    val exact = ChatPipeline.checkIndex(idx).toOption.get
    val cached = ChatPipeline.checkIndexCached(idx).toOption.get
    assert(exact.stale == cached.stale)
    assert(exact.currentContentHash == cached.currentContentHash)

    // serving TTL: within the window the verdict comes back without a
    // stat walk or full check — an edit inside the window is invisible
    // until the window closes (warn-only contract), then detected
    ChatPipeline.checkSketchTtlMs = 60000L
    val cBefore = ChatPipeline.fullCheckCount.get()
    ChatPipeline.checkIndexCached(idx) // primes the TTL clock
    w(repo, "src/mod2.rs", rust("ttledit", 6))
    val inWindow = ChatPipeline.checkIndexCached(idx).toOption.get
    assert(ChatPipeline.fullCheckCount.get() == cBefore,
      "a check inside the TTL window must not run the full check")
    ChatPipeline.checkSketchTtlMs = 0L
    val afterWindow = ChatPipeline.checkIndexCached(idx).toOption.get
    assert(afterWindow.stale, "edit must be detected once the window closes")
    assert(inWindow.currentContentHash != afterWindow.currentContentHash ||
      inWindow.stale != afterWindow.stale)
    } finally ChatPipeline.checkSketchTtlMs = savedTtl
  }
}

/** Counts every text that reaches `embedBatch`, across tasks: local-mode
  * tasks run in the test JVM, so the shared map sees each call. */
object CountingEmbedder {
  val seen = new java.util.concurrent.ConcurrentHashMap[String, Int]()
}

class CountingEmbedder extends graft.chat.Embedder {
  private val inner = new graft.chat.HashingEmbedder()
  def dim: Int = inner.dim
  def embedBatch(texts: Seq[String]): Seq[Array[Float]] = {
    texts.foreach(t => CountingEmbedder.seen.merge(t, 1, _ + _))
    inner.embedBatch(texts)
  }
}
