package graft

import java.nio.file.Files
import graft.chat._
import graft.chat.Schemas._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ports of the reference's unit fixtures (hyde.rs:1237-1750,
  * repo.rs:488-562, language.rs:127-155 — see FIXTURES.md) plus
  * end-to-end index/query coverage. */
class ChatSpec extends SparkSpec {
  import spark.implicits._

  // ---- language.rs tests -------------------------------------------

  test("language detection incl. case-insensitivity and unknown") {
    assert(Language.detect("rs").contains("Rust"))
    assert(Language.detect("RS").contains("Rust"))
    assert(Language.detect("js").contains("JavaScript"))
    assert(Language.detect("TS").contains("TypeScript"))
    assert(Language.detect("cpp").contains("C++"))
    assert(Language.detect("cs").contains("C#"))
    assert(Language.detect("py").contains("Python"))
    assert(Language.detect("md").contains("Markdown"))
    assert(Language.detect("unknown").isEmpty)
  }

  test("extension table matches the reference 1:1 across all 12 languages (language.rs:57-72)") {
    // the full table from language.rs:57-72, transcribed as a fixture:
    // every extension must map to exactly this language (incl. the
    // easy-to-drop ones: mjs, pyx/pyi, hxx/hh, markdown), and the
    // supported-extension roster must carry no extras (Kotlin is
    // commented out in the reference — language.rs:90 — so kt/kts
    // must NOT map)
    val reference: Seq[(String, Seq[String])] = Seq(
      "Rust"       -> Seq("rs"),
      "JavaScript" -> Seq("js", "jsx", "mjs"),
      "TypeScript" -> Seq("ts", "tsx"),
      "Java"       -> Seq("java"),
      "C++"        -> Seq("cpp", "cxx", "cc", "hpp", "hxx", "hh"),
      "C"          -> Seq("c", "h"),
      "Ruby"       -> Seq("rb"),
      "C#"         -> Seq("cs"),
      "Swift"      -> Seq("swift"),
      "Go"         -> Seq("go"),
      "Python"     -> Seq("py", "pyx", "pyi"),
      "Markdown"   -> Seq("md", "markdown"))
    assert(reference.map(_._1) == Language.extensionsByLanguage.map(_._1))
    reference.foreach { case (lang, exts) =>
      exts.foreach { e =>
        assert(Language.detect(e).contains(lang), s"$e must map to $lang")
        assert(Language.detect(e.toUpperCase).contains(lang), s"${e.toUpperCase} must map to $lang")
      }
    }
    val allRef = reference.flatMap(_._2)
    assert(Language.supportedExtensions.sorted == allRef.sorted,
      "supported-extension roster drifted from language.rs")
    Seq("kt", "kts", "txt", "json", "sh").foreach { e =>
      assert(Language.detect(e).isEmpty, s"$e must not be supported")
    }
  }

  // ---- repo.rs tests -----------------------------------------------

  test("human_list over 0/1/2/3 items") {
    assert(Profile.humanList(Seq.empty) == "")
    assert(Profile.humanList(Seq("Rust")) == "Rust")
    assert(Profile.humanList(Seq("Rust", "Python")) == "Rust and Python")
    assert(Profile.humanList(Seq("Rust", "Python", "JavaScript")) ==
      "Rust, Python, and JavaScript")
  }

  test("is_build_file allowlist") {
    assert(Profile.isBuildFile("Cargo.toml"))
    assert(Profile.isBuildFile("package.json"))
    assert(Profile.isBuildFile("pom.xml"))
    assert(Profile.isBuildFile("Makefile"))
    assert(!Profile.isBuildFile("main.rs"))
    assert(!Profile.isBuildFile("index.js"))
  }

  test("project type: build file beats language") {
    assert(Profile.projectType(Seq("package.json"), Seq("JavaScript")) == "Node.js project")
    assert(Profile.projectType(Seq.empty, Seq("Python")) == "Python project")
    assert(Profile.projectType(Seq.empty, Seq.empty) == "Software project")
  }

  test("primary languages: take-5-then-filter order (repo.rs:135-138)") {
    // six languages; the 6th by line count is big enough to pass the
    // >10 filter but must be dropped by the take(5) FIRST
    val files = Seq(
      ("a.rs", "a.rs", "rs", 100L, ""), ("b.py", "b.py", "py", 90L, ""),
      ("c.js", "c.js", "js", 80L, ""), ("d.go", "d.go", "go", 70L, ""),
      ("e.java", "e.java", "java", 60L, ""), ("f.rb", "f.rb", "rb", 50L, ""),
      ("g.md", "g.md", "md", 5L, "")
    ).toDF("path", "filename", "extension", "line_count", "content")
    val primary = Profile.primaryLanguages(files)
    assert(primary == Seq("Rust", "Python", "JavaScript", "Go", "Java"))
    assert(!primary.contains("Ruby")) // dropped by take(5) despite 50 > 10
    assert(!primary.contains("Markdown")) // dropped by the >10 filter
  }

  // ---- hyde.rs retrieval-filter fixtures ---------------------------

  private def results(rows: (String, String, String, String, Double)*): DataFrame =
    rows.toSeq.toDF("file", "code", "extension", "language", "distance")
      .select(col("file"), col("code"),
        when(col("extension") === "", lit(null)).otherwise(col("extension")).as("extension"),
        when(col("language") === "", lit(null)).otherwise(col("language")).as("language"),
        col("distance"))

  private def cls(language: Option[String] = None, intent: String = "implementation",
                  wantsCode: Boolean = true, confidence: Double = 0.8,
                  folders: Option[Seq[String]] = None, exts: Option[Seq[String]] = None,
                  excludes: Option[Seq[String]] = None) =
    QueryClassification(language, intent, wantsCode, confidence, folders, exts, excludes)

  private val mixed = results(
    ("README.md", "# Documentation", "md", "", 0.1),
    ("src/hyde.rs", "fn hyde_impl() {}", "rs", "rust", 0.3),
    ("docs/guide.md", "## Guide", "md", "", 0.2),
    ("src/main.rs", "fn main() {}", "rs", "rust", 0.4))

  test("code-over-docs: wants_code + confidence 0.8 excludes docs (hyde.rs:1451-1489)") {
    val out = Retrieval.applyFilters(mixed, cls(confidence = 0.8), k = 10).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("src/hyde.rs", "src/main.rs"))
  }

  test("language priority beats distance (hyde.rs:1491-1526)") {
    val df = results(
      ("src/main.py", "def main():", "py", "python", 0.2),
      ("src/app.js", "function app() {}", "js", "javascript", 0.1),
      ("src/hyde.rs", "fn hyde_impl() {}", "rs", "rust", 0.3))
    val out = Retrieval.applyFilters(df,
      cls(language = Some("rust"), confidence = 0.9), k = 10).collect()
    assert(out.head.getString(0) == "src/hyde.rs")
    assert(out.map(_.getString(0)).toSeq == Seq("src/hyde.rs", "src/app.js", "src/main.py"))
  }

  test("low confidence preserves distance order (hyde.rs:1528-1549)") {
    val out = Retrieval.applyFilters(mixed, cls(confidence = 0.5), k = 10).collect()
    assert(out.map(_.getString(0)).toSeq ==
      Seq("README.md", "docs/guide.md", "src/hyde.rs", "src/main.rs"))
  }

  test("folder filter keeps src/ and lib/ only (hyde.rs:1551-1589)") {
    val df = results(
      ("src/main.rs", "fn main() {}", "rs", "rust", 0.2),
      ("tests/test.rs", "#[test] fn test() {}", "rs", "rust", 0.3),
      ("lib/utils.rs", "pub fn util() {}", "rs", "rust", 0.4),
      ("benches/bench.rs", "fn bench() {}", "rs", "rust", 0.1))
    val out = Retrieval.applyFilters(df,
      cls(folders = Some(Seq("src", "lib"))), k = 10).collect()
    assert(out.map(_.getString(0)).toSet == Set("src/main.rs", "lib/utils.rs"))
  }

  test("exclude patterns drop test/target/docs (hyde.rs:1622-1656)") {
    val df = results(
      ("src/main.rs", "fn main() {}", "rs", "rust", 0.2),
      ("tests/test.rs", "#[test] fn test() {}", "rs", "rust", 0.1),
      ("target/debug/main", "binary", "", "", 0.3),
      ("docs/guide.md", "## Guide", "md", "", 0.15))
    val out = Retrieval.applyFilters(df,
      cls(excludes = Some(Seq("test", "target", "docs")), confidence = 0.5), k = 10).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("src/main.rs"))
  }

  test("extension filter with null-extension path fallback (hyde.rs:868-927)") {
    val df = results(
      ("src/main.rs", "fn main() {}", "rs", "rust", 0.2),
      ("src/app.js", "function app() {}", "js", "javascript", 0.1),
      ("noext/script.py", "print()", "", "", 0.3),  // null ext, .py path
      ("noext/binary", "bin", "", "", 0.05))        // null ext, no match
    val out = Retrieval.applyFilters(df,
      cls(exts = Some(Seq(".rs", "py")), confidence = 0.5), k = 10).collect()
    assert(out.map(_.getString(0)).toSet == Set("src/main.rs", "noext/script.py"))
  }

  test("combined folder+extension: exactly src/main.rs survives (hyde.rs:1658-1695)") {
    val df = results(
      ("src/main.rs", "fn main() {}", "rs", "rust", 0.2),
      ("src/lib.py", "def lib():", "py", "python", 0.2),
      ("lib/utils.rs", "pub fn util() {}", "rs", "rust", 0.4),
      ("README.md", "# Documentation", "md", "", 0.1))
    val out = Retrieval.applyFilters(df,
      cls(folders = Some(Seq("src")), exts = Some(Seq("rs"))), k = 10).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("src/main.rs"))
  }

  test("doc quota: explanation intent admits 1 doc at confidence 0.75") {
    val out = Retrieval.applyFilters(mixed,
      cls(intent = "explanation", confidence = 0.75), k = 10).collect()
    // code first (by distance), then exactly one closest doc
    assert(out.map(_.getString(0)).toSeq ==
      Seq("src/hyde.rs", "src/main.rs", "README.md"))
  }

  test("how_it_works: docs excluded when >=3 code results") {
    val df = results(
      ("a.rs", "fn a() {}", "rs", "rust", 0.1),
      ("b.rs", "fn b() {}", "rs", "rust", 0.2),
      ("c.rs", "fn c() {}", "rs", "rust", 0.3),
      ("README.md", "# Doc", "md", "", 0.05))
    val out = Retrieval.applyFilters(df,
      cls(intent = "how_it_works", confidence = 0.75), k = 10).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("a.rs", "b.rs", "c.rs"))
  }

  // ---- chunker ------------------------------------------------------

  test("splitContent: <=1000 chars, round-trips, splits oversized lines") {
    val text = (1 to 100).map(i => s"line $i: " + "x" * 20).mkString("\n")
    val chunks = Chunker.splitContent(text)
    assert(chunks.forall(_.length <= 1000))
    assert(chunks.mkString("") == text)
    val longLine = "y" * 2500
    val c2 = Chunker.splitContent(longLine)
    assert(c2.forall(_.length <= 1000) && c2.mkString("") == longLine)
  }

  // ---- end-to-end ---------------------------------------------------

  private def makeRepo(): java.io.File = {
    val dir = Files.createTempDirectory("graft_repo").toFile
    def w(rel: String, content: String): Unit = {
      val f = new java.io.File(dir, rel); f.getParentFile.mkdirs()
      Files.writeString(f.toPath, content)
    }
    w("src/main.rs", "fn main() {\n    println!(\"search engine entry\");\n}\n")
    w("src/search.rs", "pub fn cosine_similarity_search(query: &str) -> Vec<Hit> {\n    // vector search over the index\n}\n")
    w("lib/utils.py", "def tokenize(text):\n    return text.split()\n")
    w("README.md", "# Demo repo\nA vector search demo.\nUsed for tests.\n")
    w("Cargo.toml", "[dependencies]\ntokio = \"1\"\nserde = \"1\"\n")
    w(".gitignore", "target/\n*.log\n")
    w("target/debug/out.rs", "fn ignored() {}\n")
    w("build.log", "should be ignored\n")
    dir
  }

  test("index + query end-to-end on a temp repo") {
    val repo = makeRepo()
    val out = Files.createTempDirectory("graft_idx").toFile
    val n = ChatPipeline.index(spark, repo.getAbsolutePath, out.getAbsolutePath)
    assert(n > 0)
    val chunks = AnnIndex.load(spark, out.getAbsolutePath)
    // gitignore pre-pass: nothing from target/ or *.log
    assert(chunks.filter(col("file").startsWith("target/")).count() == 0)
    // query retrieves the search implementation
    val res = ChatPipeline.query(spark, out.getAbsolutePath,
      "how does the rust similarity search implementation work", k = 3)
    assert(res.results.nonEmpty)
    assert(res.results.exists(_.file.endsWith(".rs")))
    assert(res.answer.nonEmpty)
    // profile captured build files + frameworks
    val profileJson = Files.readString(new java.io.File(out, "profile.json").toPath)
    assert(profileJson.contains("Tokio") && profileJson.contains("Serde"))
    assert(profileJson.contains("Cargo.toml"))
  }

  test("ref-content index end-to-end: node-aligned chunk text, mode stamped, repair keeps the mode") {
    val repo = makeRepo()
    val out = Files.createTempDirectory("graft_idx_ref").toFile
    val n = ChatPipeline.index(spark, repo.getAbsolutePath, out.getAbsolutePath,
      refContent = true)
    assert(n > 0)
    // the build stamped its content mode
    assert(ChatPipeline.readIndexMeta(out.getAbsolutePath).get.contentMode == "ref")
    // every stored chunk is byte-identical to the refWhitespace
    // projection the shared per-file contract produces (md5 compare,
    // the q201 ref_md5 discipline run against a REAL built index)
    def md5(s: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
    }
    def chunkHashes(): Map[String, Seq[String]] =
      AnnIndex.load(spark, out.getAbsolutePath)
        .select("file", "code").collect()
        .map(r => (r.getString(0), md5(r.getString(1))))
        .groupBy(_._1).map { case (f, rs) => f -> rs.map(_._2).sorted.toSeq }
    def expectedHashes(): Map[String, Seq[String]] =
      chunkHashes().keys.map { rel =>
        val text = Files.readString(new java.io.File(repo, rel).toPath)
        rel -> Chunker.fileChunkRows(rel, text, refContent = true)
          .map(t => md5(t._3)).sorted
      }.toMap
    assert(chunkHashes() == expectedHashes())
    // and the projection is visible: no chunk carries edge whitespace
    AnnIndex.load(spark, out.getAbsolutePath).select("code").collect()
      .foreach(r => assert(r.getString(0) == r.getString(0).trim))
    // a refresh wave re-chunks IN THE STAMPED MODE: modify a file and
    // repair — the re-indexed chunks must still be ref-projected
    Files.writeString(new java.io.File(repo, "src/main.rs").toPath,
      "fn main() {\n    println!(\"changed entry\");\n}\n\nfn extra() {\n    let x = 1;\n}\n")
    val stats = ChatPipeline.refreshIndex(spark, repo.getAbsolutePath, out.getAbsolutePath)
    assert(stats.reindexedFiles >= 1L)
    assert(ChatPipeline.readIndexMeta(out.getAbsolutePath).get.contentMode == "ref")
    assert(chunkHashes() == expectedHashes(),
      "repair wave drifted from the stamped ref content mode")
    // the ref-mode index still answers queries
    val res = ChatPipeline.query(spark, out.getAbsolutePath,
      "rust similarity search", k = 2)
    assert(res.results.nonEmpty)
    // a default build remains default-stamped (back-compat unchanged)
    val outD = Files.createTempDirectory("graft_idx_refd").toFile
    ChatPipeline.index(spark, repo.getAbsolutePath, outD.getAbsolutePath)
    assert(ChatPipeline.readIndexMeta(outD.getAbsolutePath).get.contentMode == "default")
  }

  test("chunkStats: per-language chunk and distinct-file counts, unknown for no language") {
    val chunks = Seq(
      CodeChunk("src/main.rs", "fn main() {}", Some("Rust"), Some("rs")),
      CodeChunk("src/main.rs", "fn two() {}", Some("Rust"), Some("rs")),
      CodeChunk("src/lib.rs", "pub fn lib() {}", Some("Rust"), Some("rs")),
      CodeChunk("tool.py", "def f(): pass", Some("Python"), Some("py")),
      CodeChunk("Makefile", "all:", None, None)).toDF()
    val stats = Chunker.chunkStats(chunks)
      .select("language", "n_chunks", "n_files").as[(String, Long, Long)].collect().toSeq
    assert(stats == Seq(("Python", 1L, 1L), ("Rust", 3L, 2L), ("unknown", 1L, 1L)))
  }

  test("approximate kNN agrees with exact on overlapping hits") {
    val repo = makeRepo()
    val out = Files.createTempDirectory("graft_idx2").toFile
    ChatPipeline.index(spark, repo.getAbsolutePath, out.getAbsolutePath)
    val chunks = AnnIndex.load(spark, out.getAbsolutePath)
    val emb = new HashingEmbedder()
    val q = emb.embed("cosine similarity search")
    val exact = AnnIndex.knnExact(chunks, q, 5)
      .select("chunk_id", "distance").as[(Long, Double)].collect().toMap
    val n = chunks.count()
    val forest = AnnIndex.sampleForest(emb.dim, n)
    val idx = spark.read.parquet(s"${out.getAbsolutePath}/forest")
    val approx = AnnIndex.knnApprox(spark, chunks, idx, forest, q, 5)
      .select("chunk_id", "distance").as[(Long, Double)].collect()
    assert(approx.nonEmpty)
    approx.foreach { case (id, d) =>
      exact.get(id).foreach(ed => assert(math.abs(ed - d) < 1e-12))
    }
  }

  test("rerank orders by lexical overlap descending") {
    val df = results(
      ("a.rs", "cosine similarity search implementation", "rs", "rust", 0.5),
      ("b.rs", "unrelated parser tokens", "rs", "rust", 0.1))
    val out = Retrieval.lexicalRerank(df, "cosine similarity search").collect()
    assert(out.head.getString(0) == "a.rs")
  }

  test("TF-IDF cross-reranker preserves the fixture ordering and is deterministic") {
    val df = results(
      ("a.rs", "cosine similarity search implementation", "rs", "rust", 0.5),
      ("b.rs", "unrelated parser tokens", "rs", "rust", 0.1))
    val out = Retrieval.crossRerank(df, "cosine similarity search").collect()
    assert(out.head.getString(0) == "a.rs")
    assert(out.head.getAs[Double]("rerank_score") >
      out.last.getAs[Double]("rerank_score"))
    // deterministic run to run (bit-identical scores)
    val again = Retrieval.crossRerank(df, "cosine similarity search").collect()
    assert(out.map(_.getAs[Double]("rerank_score")).toSeq ==
      again.map(_.getAs[Double]("rerank_score")).toSeq)
    // interaction-model property: the score is a pair function, not a
    // doc property — the same doc scores differently for a different
    // query
    val rr = new graft.chat.TfidfReranker()
    val docs = Seq("cosine similarity search implementation", "unrelated parser tokens")
    val s1 = rr.rerank("cosine similarity search", docs)
    val s2 = rr.rerank("parser token stream", docs)
    assert(s1.head > s1.last && s2.head < s2.last)
  }

  test("batch kNN equals per-query exact kNN, one job for all queries") {
    val repo = makeRepo()
    val out = Files.createTempDirectory("graft_idx3").toFile
    ChatPipeline.index(spark, repo.getAbsolutePath, out.getAbsolutePath)
    val chunks = AnnIndex.load(spark, out.getAbsolutePath)
    val emb = new HashingEmbedder()
    val queries = Seq(
      1L -> emb.embed("cosine similarity search"),
      2L -> emb.embed("tokenize text"),
      3L -> emb.embed("demo repo readme"))
    val batch = AnnIndex.knnBatch(spark, chunks, queries, k = 3)
      .select("query_id", "chunk_id", "distance", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    queries.foreach { case (qid, v) =>
      val exact = AnnIndex.knnExact(chunks, v, 3)
        .select("chunk_id", "distance", "rank").collect()
        .map(r => (qid, r.getLong(0), r.getDouble(1), r.getLong(2)))
      assert(batch.filter(_._1 == qid).toSeq == exact.toSeq)
    }
  }

  test("index layout is partitioned by language and prunes on filter") {
    val repo = makeRepo()
    val out = Files.createTempDirectory("graft_idx4").toFile
    ChatPipeline.index(spark, repo.getAbsolutePath, out.getAbsolutePath)
    // physical layout: language=... subdirectories
    val dirs = new java.io.File(out, "chunks").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.exists(_.startsWith("language=")))
    // a language filter reaches the scan as a partition filter
    val chunks = AnnIndex.load(spark, out.getAbsolutePath)
    val plan = chunks.filter(col("language") === "Rust")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("language"))
    // null-language chunks (README.md has Markdown; utils.py Python) round-trip
    assert(chunks.count() > 0)
  }

  test("REPL history file: HOME placement, cwd fallback, load/append round-trip") {
    // main.rs:580-596 placement contract
    val home = Files.createTempDirectory("graft_home").toString
    assert(ChatCli.historyPath(Map("HOME" -> home)).toString ==
      s"$home/${ChatCli.HistoryFileName}")
    assert(ChatCli.historyPath(Map.empty).toString == ChatCli.HistoryFileName)
    // round-trip: append lines, load them back in order across "sessions"
    val p = ChatCli.historyPath(Map("HOME" -> home))
    assert(ChatCli.loadHistory(p).isEmpty)
    ChatCli.appendHistory(p, "query how does retry work")
    ChatCli.appendHistory(p, "status")
    assert(ChatCli.loadHistory(p) == Seq("query how does retry work", "status"))
    ChatCli.appendHistory(p, "exit")
    assert(ChatCli.loadHistory(p).last == "exit")
  }

  test("elapsed print renders at two-decimal seconds like the reference") {
    assert(ChatCli.formatElapsed(1234567890L) == "1.23s")
    assert(ChatCli.formatElapsed(45000000L) == "0.05s")
    assert(ChatCli.formatElapsed(0L) == "0.00s")
  }

  test("CLI flags parse like the reference's clap surface (main.rs:42-150)") {
    // index: positionals + model flags in any order
    assert(ChatCli.parseFlags(List("repoA", "outB", "--model-id", "m.onnx")) ==
      Right((List("repoA", "outB"), ChatCli.CliFlags(modelId = Some("m.onnx")))))
    assert(ChatCli.parseFlags(List("--model-type", "jina", "repoA", "outB")) ==
      Right((List("repoA", "outB"), ChatCli.CliFlags(modelType = "jina"))))
    // REPL query: free-text parts + -k + rerank flags
    val q = ChatCli.parseFlags(List("how", "does", "retry", "work",
      "-k", "5", "--use-rerank", "--rerank-model", "r.onnx"))
    assert(q == Right((List("how", "does", "retry", "work"),
      ChatCli.CliFlags(k = Some(5), useRerank = true, rerankModel = Some("r.onnx")))))
    assert(ChatCli.parseFlags(List("q", "--answer-model", "gpt-4o")).map(_._2.answerModel) ==
      Right(Some("gpt-4o")))
    // clap-like failure modes: unknown flag, bad -k
    assert(ChatCli.parseFlags(List("--frobnicate")).isLeft)
    assert(ChatCli.parseFlags(List("-k", "zero")).isLeft)
    assert(ChatCli.parseFlags(List("-k", "0")).isLeft)
  }

  test("--hyde-model routes classify+HyDE to the hyde client, synthesis to the answer client (main.rs:456-476)") {
    // recording stubs: which client served which touchpoint
    class Probe(tag: String, log: collection.mutable.Buffer[String]) extends ChatClient {
      override def classify(q: String) = { log += s"$tag.classify"
        QueryClassification(None, "explanation", false, 0.5, None, None, None) }
      override def hyde(q: String, c: QueryClassification,
                        p: Option[RepoProfile]) = { log += s"$tag.hyde"; "hypo" }
      override def synthesize(q: String, c: QueryClassification,
                              p: Option[RepoProfile],
                              s: Seq[(String, String, Double)]) = {
        log += s"$tag.synthesize"; Iterator("ok") }
    }
    val log = collection.mutable.Buffer.empty[String]
    val split = new SplitChatClient(new Probe("hyde", log), new Probe("answer", log))
    val c = split.classify("q")
    split.hyde("q", c, None)
    split.synthesize("q", c, None, Seq.empty).toList
    assert(log.toList == List("hyde.classify", "hyde.hyde", "answer.synthesize"))
  }

  test("flag model routing: env override > --model-id file > offline default; same for rerank") {
    val dir = Files.createTempDirectory("graft_cli_models")
    // --model-id that is not a real file degrades to the offline default
    assert(ChatCli.embedderFor(ChatCli.CliFlags(modelId = Some("/no/such.onnx")),
      env = Map.empty).isInstanceOf[HashingEmbedder])
    // --model-type alone: offline default (the reference would download)
    assert(ChatCli.embedderFor(ChatCli.CliFlags(modelType = "qwen3"),
      env = Map.empty).isInstanceOf[HashingEmbedder])
    // a real .onnx path routes to the ONNX embedder (construction is
    // lazy; the file needs to exist, not parse, at routing time)
    val f = dir.resolve("m.onnx"); Files.write(f, Array[Byte](1, 2, 3))
    assert(ChatCli.embedderFor(ChatCli.CliFlags(modelId = Some(f.toString)),
      env = Map.empty).isInstanceOf[OnnxEmbedder])
    // env var stays the deployment override even when a flag is given
    assert(ChatCli.embedderFor(ChatCli.CliFlags(modelId = Some(f.toString)),
      env = Map("GRAFT_ONNX_MODEL" -> f.toString)).isInstanceOf[OnnxEmbedder])
    // rerank routing mirrors it
    assert(ChatCli.rerankerFor(ChatCli.CliFlags(), env = Map.empty)
      .isInstanceOf[TfidfReranker])
    assert(ChatCli.rerankerFor(ChatCli.CliFlags(rerankModel = Some(f.toString)),
      env = Map.empty).isInstanceOf[OnnxReranker])
    assert(ChatCli.rerankerFor(ChatCli.CliFlags(rerankModel = Some("/no/such.onnx")),
      env = Map.empty).isInstanceOf[TfidfReranker])
  }

  test("--answer-model reaches the HTTP client unless the env var overrides it") {
    val withFlag = OpenAiChatClient.fromEnv(
      Map("GRAFT_OPENAI_BASE_URL" -> "http://localhost:1"),
      modelFallback = Some("gpt-4o"))
    assert(withFlag.isInstanceOf[OpenAiChatClient])
    assert(withFlag.asInstanceOf[OpenAiChatClient].modelName == "gpt-4o")
    val envWins = OpenAiChatClient.fromEnv(
      Map("GRAFT_OPENAI_BASE_URL" -> "http://localhost:1",
        "GRAFT_OPENAI_MODEL" -> "env-model"),
      modelFallback = Some("gpt-4o"))
    assert(envWins.asInstanceOf[OpenAiChatClient].modelName == "env-model")
    // no base URL: flags cannot turn on the network path
    assert(OpenAiChatClient.fromEnv(Map.empty, modelFallback = Some("gpt-4o"))
      .isInstanceOf[MockChatClient])
  }

  test("build-time ANN skew diagnostic: a near-dup corpus stamps leaf_skew.json and warns (round-12 megaleaf)") {
    // identical chunk texts embed to IDENTICAL vectors, which land in
    // the same leaf at any forest depth -- the megaleaf no deeper tree
    // can split. 2,400 copies of one ~900-char unit >> the 20x
    // LeafTarget warn threshold.
    val repo = java.nio.file.Files.createTempDirectory(
      graft.streaming.StreamScratch.root, "skew-repo")
    java.nio.file.Files.createDirectories(repo.resolve("docs"))
    val para = ("All work and no dedup makes the forest a megaleaf. " * 17).trim
    assert(para.length > 500 && para.length <= 1000)
    (0 until 80).foreach { i =>
      java.nio.file.Files.writeString(repo.resolve(f"docs/f$i%03d.md"),
        (0 until 30).map(_ => para).mkString("\n\n"))
    }
    val idx = java.nio.file.Files.createTempDirectory(
      graft.streaming.StreamScratch.root, "skew-idx").toString
    val buf = new java.io.ByteArrayOutputStream()
    val n = Console.withOut(new java.io.PrintStream(buf)) {
      ChatPipeline.index(spark, repo.toString, idx)
    }
    assert(n >= 2000L, s"expected >= 2000 identical chunks, got $n")
    assert(buf.toString.contains("WARN: hottest ANN leaf"), buf.toString)
    val skew = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$idx/leaf_skew.json")))
    assert(skew.path("max_leaf").asLong() >= n,
      "every copy of the duplicated chunk text must share one leaf per tree")
    assert(skew.path("leaf_target").asLong() == graft.chat.AnnIndex.LeafTarget)
    assert(skew.path("forest_rows").asLong() == n * graft.chat.AnnIndex.NumTrees)

    // a small diverse corpus stays far under the threshold: no warn
    val repo2 = java.nio.file.Files.createTempDirectory(
      graft.streaming.StreamScratch.root, "skew-ok-repo")
    java.nio.file.Files.createDirectories(repo2.resolve("src"))
    (0 until 40).foreach { i =>
      java.nio.file.Files.writeString(repo2.resolve(f"src/m$i%02d.rs"),
        s"pub fn f$i(x: i64) -> i64 {\n    x + $i\n}\n")
    }
    val idx2 = java.nio.file.Files.createTempDirectory(
      graft.streaming.StreamScratch.root, "skew-ok-idx").toString
    val buf2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf2)) {
      ChatPipeline.index(spark, repo2.toString, idx2)
    }
    assert(!buf2.toString.contains("WARN: hottest ANN leaf"), buf2.toString)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$idx2/leaf_skew.json")),
      "the sidecar is stamped on every build, warn or not")
  }
}
