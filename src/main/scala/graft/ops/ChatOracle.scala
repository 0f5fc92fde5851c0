package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.chat.Retrieval
import graft.core.Tables
import graft.functions.TextKernel
import graft.ops.Materialize

/** DuckDB-oracle-checkable projections of the chat-engine operators
  * (SURVEY.md §2) onto the driver's `documents` table.
  *
  * The chat pipeline itself runs over repositories (covered by
  * ChatSpec); these queries exercise the SAME operator semantics —
  * chunk flatMap, the reference's folder/extension/exclude filter
  * predicates, profile aggregation quirks, and the hashing-embedder
  * similarity join — on oracle-comparable data.
  *
  * Path synthesis: file = 'repo/' || source || '/' || lang || '/doc_'
  * || doc_id || ('.md' for en/zh else '.txt'); extension metadata is
  * 'md' for en, NULL for zh (exercising the null-ext path fallback,
  * hyde.rs:892-909), 'txt' otherwise.
  */
object ChatOracle {

  val ChunkSize = 200

  private def withPath(d: DataFrame): DataFrame =
    d.withColumn("file",
        concat(lit("repo/"), col("source"), lit("/"), col("lang"),
          lit("/doc_"), col("doc_id"),
          when(col("lang").isin("en", "zh"), lit(".md")).otherwise(lit(".txt"))))
      .withColumn("extension",
        when(col("lang") === "en", lit("md"))
          .when(col("lang") === "zh", lit(null).cast("string"))
          .otherwise(lit("txt")))

  private val sqlPath =
    """SELECT doc_id, text, lang, source,
      |  'repo/' || source || '/' || lang || '/doc_' || doc_id ||
      |    (CASE WHEN lang IN ('en','zh') THEN '.md' ELSE '.txt' END) AS file,
      |  CASE WHEN lang = 'en' THEN 'md' WHEN lang = 'zh' THEN NULL ELSE 'txt' END AS extension
      |FROM documents""".stripMargin

  // -------------------------------------------------------------------
  // P3 chunk flatMap analog: fixed-size chunking (the SQL-expressible
  // projection of the chunker; the line-aware chunker is spec-tested).
  // -------------------------------------------------------------------

  def chunkFixed(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      // empty texts chunk to nothing on BOTH sides: without this guard
      // Spark's sequence(0, floor((0-1)/size)) = sequence(0,-1) counts
      // DOWN (default step -1) and would emit a phantom chunk_idx -1
      // row where DuckDB's range(0) is empty
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        posexplode(
          transform(
            sequence(lit(0), floor((length(col("text")) - 1) / ChunkSize).cast("int")),
            i => substring_index_chunk(col("text"), i))).as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("chunk"), length(col("chunk")).cast("long").as("chunk_len"))
      .orderBy("doc_id", "chunk_idx")

  private def substring_index_chunk(text: Column, i: Column): Column =
    substring(text, (i * ChunkSize + 1).cast("int"), lit(ChunkSize))

  def chunkFixedSql: String =
    s"""SELECT doc_id, cast(i as bigint) AS chunk_idx,
       |  substring(text, i*$ChunkSize + 1, $ChunkSize) AS chunk,
       |  cast(length(substring(text, i*$ChunkSize + 1, $ChunkSize)) as bigint) AS chunk_len
       |FROM documents, unnest(range(cast(floor((length(text)-1)/$ChunkSize) as bigint) + 1)) AS t(i)
       |WHERE length(text) > 0
       |ORDER BY doc_id, chunk_idx""".stripMargin

  // -------------------------------------------------------------------
  // F2 folder include-filter (substring semantics, hyde.rs:824-866).
  // -------------------------------------------------------------------

  val TargetFolders = Seq("src1", "src2")

  def folderFilter(spark: SparkSession, sfDir: String): DataFrame =
    Retrieval.folderFilter(withPath(Tables.documents(spark, sfDir)), TargetFolders)
      .select("doc_id", "file").orderBy("doc_id")

  def folderFilterSql: String = {
    val conds = TargetFolders.map { f =>
      s"(contains(file, '/$f/') OR starts_with(file, '$f/') OR (contains(file, '/$f') AND ends_with(file, '/$f')))"
    }.mkString(" OR ")
    s"""SELECT doc_id, file FROM ($sqlPath)
       |WHERE $conds
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // F4 exclude anti-filter — note the substring quirk: excluding 'src1'
  // also drops src10..src19 (contains, not segment match).
  // -------------------------------------------------------------------

  val ExcludePatterns = Seq("src1", "fr")

  def excludeFilter(spark: SparkSession, sfDir: String): DataFrame =
    Retrieval.excludeFilter(withPath(Tables.documents(spark, sfDir)), ExcludePatterns)
      .select("doc_id", "file").orderBy("doc_id")

  def excludeFilterSql: String = {
    val conds = ExcludePatterns.map { p =>
      s"(contains(lower(file), '$p') OR contains(lower(file), '/$p/') OR starts_with(lower(file), '$p/') OR ends_with(lower(file), '/$p'))"
    }.mkString(" OR ")
    s"""SELECT doc_id, file FROM ($sqlPath)
       |WHERE NOT ($conds)
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // F3 extension filter with null-metadata path fallback: target 'md'
  // keeps en via metadata and zh via the .md path suffix.
  // -------------------------------------------------------------------

  val TargetExtensions = Seq(".md")

  def extensionFilter(spark: SparkSession, sfDir: String): DataFrame =
    Retrieval.extensionFilter(withPath(Tables.documents(spark, sfDir)), TargetExtensions)
      .select("doc_id", "file", "extension").orderBy("doc_id")

  def extensionFilterSql: String = {
    val norm = TargetExtensions.map(_.dropWhile(_ == '.'))
    val meta = norm.map(t => s"regexp_replace(extension, '^\\.+', '') = '$t'").mkString(" OR ")
    val path = norm.map(t => s"ends_with(file, '.$t')").mkString(" OR ")
    s"""SELECT doc_id, file, extension FROM ($sqlPath)
       |WHERE CASE WHEN extension IS NOT NULL THEN ($meta) ELSE ($path) END
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // A3 primary-languages analog: top-5-by-loc THEN filter > 10
  // (repo.rs:135-138 order), loc = summed token count per lang.
  // -------------------------------------------------------------------

  def primaryLangs(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("lang"),
        size(TextAnalytics.tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy("lang").agg(sum("n_tok").as("loc"))
    // global rank over the per-language aggregate (|langs| rows),
    // WITHOUT a partitionless window (whose "No Partition Defined"
    // warning would drown out real ones): coalesce(1) makes the single
    // partition explicit, the local sort pins the order, and
    // monotonically_increasing_id (nondeterministic, so never pushed
    // below the sort) numbers rows in that order.
    d.coalesce(1)
      .sortWithinPartitions(col("loc").desc, col("lang").asc)
      .withColumn("rank", (monotonically_increasing_id() + 1).cast("long"))
      .filter(col("rank") <= 5)
      .filter(col("loc") > 10)
      .select("rank", "lang", "loc")
      .orderBy("rank")
  }

  def primaryLangsSql: String =
    """SELECT rank, lang, loc FROM (
      |  SELECT lang, loc,
      |    cast(row_number() OVER (ORDER BY loc DESC, lang ASC) as bigint) AS rank
      |  FROM (
      |    SELECT lang, cast(sum(len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != ''))) as bigint) AS loc
      |    FROM documents GROUP BY lang))
      |WHERE rank <= 5 AND loc > 10
      |ORDER BY rank""".stripMargin

  // -------------------------------------------------------------------
  // A7 human_list string-agg over the primary languages.
  // -------------------------------------------------------------------

  def humanList(spark: SparkSession, sfDir: String): DataFrame = {
    val langs = primaryLangs(spark, sfDir)
      .agg(collect_list(col("lang")).as("ls"))
    langs.select(
      size(col("ls")).cast("long").as("n_languages"),
      when(size(col("ls")) === 0, lit(""))
        .when(size(col("ls")) === 1, element_at(col("ls"), 1))
        .when(size(col("ls")) === 2,
          concat(element_at(col("ls"), 1), lit(" and "), element_at(col("ls"), 2)))
        .otherwise(concat(
          array_join(slice(col("ls"), lit(1), size(col("ls")) - 1), ", "),
          lit(", and "), element_at(col("ls"), -1)))
        .as("human_list"))
  }

  def humanListSql: String =
    s"""SELECT cast(len(ls) as bigint) AS n_languages,
       |  CASE WHEN len(ls) = 0 THEN ''
       |       WHEN len(ls) = 1 THEN ls[1]
       |       WHEN len(ls) = 2 THEN ls[1] || ' and ' || ls[2]
       |       ELSE array_to_string(ls[1:len(ls)-1], ', ') || ', and ' || ls[len(ls)]
       |  END AS human_list
       |FROM (SELECT list(lang ORDER BY rank) AS ls FROM (
       |  SELECT rank, lang FROM (
       |    SELECT lang, loc,
       |      cast(row_number() OVER (ORDER BY loc DESC, lang ASC) as bigint) AS rank
       |    FROM (
       |      SELECT lang, sum(cast(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '')) as bigint)) AS loc
       |      FROM documents GROUP BY lang))
       |  WHERE rank <= 5 AND loc > 10))""".stripMargin

  // -------------------------------------------------------------------
  // HashingEmbedder similarity join: sparse bag-of-hashed-tokens cosine
  // via an inverted-index equi-join on the hash bucket — the scalable
  // text-similarity shape (term-partitioned join, no dense vectors
  // shuffled). Mirrors graft.chat.HashingEmbedder bucket semantics
  // exactly: bucket = nib(md5[0])*16 + nib(md5[1]).
  // -------------------------------------------------------------------

  val EmbedQueries = 5
  val EmbedK = 5

  /** (doc_id, b, c, nrm): 256-bucket hash-embedding counts, computed
    * per document inside a typed flatMap — a doc's tokens live in one
    * row, so the bucket histogram is a local 256-slot array fill at
    * scan speed, not an explode of the token stream through a
    * (doc_id, bucket) shuffle. Bucket = first md5 byte, identical to
    * the oracle's two-hex-nibble arithmetic; tokenization matches
    * TextAnalytics.tokens over lower(text).
    *
    * nrm is each doc's squared
    * norm (Σ c² over the 256-slot array) ATTACHED to every bucket row.
    * Round 16 (guide §1.2 step 1): `bucketed` and a separate `docNorms`
    * scan were two identical tokenize+md5 corpus passes that every
    * cosine consumer (q33, q127's semantic arm, q167) then re-joined on
    * doc_id — a corpus-keyed exchange whose only payload was the 8-byte
    * norm. Carrying nrm on the bucket rows costs ≤ 8 bytes × 256
    * rows/doc through the first shuffle and deletes both the second
    * pass and the norm join: consumers take max(nrm) inside the dot
    * aggregation they already run. */
  private[ops] def bucketedWithNorm(spark: SparkSession, sfDir: String): DataFrame =
    bucketedWithNormOf(Tables.documents(spark, sfDir))

  /** [[bucketedWithNorm]] over a caller-filtered documents frame: a
    * doc_id predicate applied HERE (below the opaque mapPartitions)
    * pushes to the parquet scan, so a query-side consumer reads its
    * handful of docs instead of re-hashing the corpus to keep 5 rows. */
  private[ops] def bucketedWithNormOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("doc_id"), lower(col("text")).as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, txt) =>
          val counts = new Array[Long](256)
          TextKernel.words(txt).foreach { t =>
            val d = md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            counts(d(0) & 0xff) += 1L
          }
          var nrm = 0L; var b = 0
          while (b < 256) { nrm += counts(b) * counts(b); b += 1 }
          (0 until 256).iterator.collect {
            case b if counts(b) > 0L => (id, b.toLong, counts(b), nrm)
          }
        }
      }
      .toDF("doc_id", "b", "c", "nrm")
  }

  /** q140: per-source hash-embedding drift — the SEMANTIC companion of
    * q126's lexical KL: each source's 256-bucket token histogram (the
    * q33 hash-embedding, aggregated source-level) against the
    * complement of the corpus (corpus minus the source — the
    * self-inflation-free baseline), as a cosine. A low cosine marks a
    * source whose token MASS distribution diverges from everything
    * else — another language, a specialized domain, or generator rot —
    * through the same embedding the retrieval stack serves, so "drifted
    * here" means "retrieves differently" by construction.
    *
    * Everything before the final cosine is exact integer arithmetic
    * (bucket counts, source sums, complement differences, i64 dots),
    * so the report hash-checks; the cosine is correctly-rounded double
    * ops over exact ints, floored to permille (the q132 discipline).
    * i64 headroom: bucket counts ≤ corpus tokens ≈ 2×10¹³ at 100 TB;
    * a dot of 256 products of per-source (≤10¹¹) × complement (≤10¹³)
    * terms can exceed i64 at extreme concentration, so masses fold
    * through the same floor(s/n)-free route as counts but the DOT runs
    * on PERMILLE-normalized bucket shares (share = c·1000 div total,
    * ≤1000 per bucket) — shares are exact integers, the dot is ≤
    * 256·10⁶, and scale-independence is total.
    *
    * Scale shape: one scan with per-partition local 256-slot arrays
    * keyed by source (the q33 flatMap discipline — token occurrences
    * never shuffle), one keyed agg onto (source, bucket), and the
    * corpus fold + complement + cosine all run on the sources×256
    * frame. */
  def sourceEmbedDrift(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sb = Tables.documents(spark, sfDir)
      .select(col("source"), lower(col("text")).as("text"))
      .as[(String, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (src, txt) =>
          val counts = new Array[Long](256)
          TextKernel.words(txt).foreach { t =>
            val d = md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            counts(d(0) & 0xff) += 1L
          }
          (0 until 256).iterator.collect {
            case b if counts(b) > 0L => (src, b.toLong, counts(b))
          }
        }
      }
      .toDF("source", "b", "c")
      .groupBy("source", "b").agg(sum(col("c")).as("c"))
    val shared = Materialize.shared(spark, sb)
    val corpus = shared.groupBy("b").agg(sum(col("c")).as("cc"))
    val totals = shared.groupBy("source").agg(sum(col("c")).as("n_tokens"))
    val corpusTotal = corpus.agg(sum(col("cc")).as("tt"))
    // complement shares: (corpus − source) bucket mass, permille of the
    // complement total; source shares likewise — both exact integers
    val j = shared.join(broadcast(corpus), "b")
      .join(broadcast(totals), "source")
      .crossJoin(broadcast(corpusTotal))
      .withColumn("s_share", expr("c * 1000 div n_tokens"))
      .withColumn("r_share", expr("(cc - c) * 1000 div (tt - n_tokens)"))
    j.groupBy("source", "n_tokens")
      .agg(sum(col("s_share") * col("r_share")).as("dot"),
        sum(col("s_share") * col("s_share")).as("ns"),
        sum(col("r_share") * col("r_share")).as("nr"))
      .withColumn("cos_to_rest_permille",
        floor(lit(1000.0) * col("dot").cast("double") /
          (sqrt(col("ns").cast("double")) * sqrt(col("nr").cast("double")))).cast("long"))
      .select("source", "n_tokens", "cos_to_rest_permille")
      .orderBy("source")
  }

  def sourceEmbedDriftSql: String =
    s"""WITH toks AS (
       |  SELECT source, unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x != '')) AS tok
       |  FROM documents),
       |sb AS (
       |  SELECT source,
       |    (strpos('0123456789abcdef', substring(md5(tok), 1, 1)) - 1) * 16 + strpos('0123456789abcdef', substring(md5(tok), 2, 1)) - 1 AS b,
       |    cast(count(*) as bigint) AS c
       |  FROM toks GROUP BY 1, 2),
       |corpus AS (SELECT b, cast(sum(c) as bigint) AS cc FROM sb GROUP BY b),
       |totals AS (SELECT source, cast(sum(c) as bigint) AS n_tokens FROM sb GROUP BY source),
       |tt AS (SELECT cast(sum(cc) as bigint) AS tt FROM corpus),
       |j AS (
       |  SELECT sb.source, totals.n_tokens,
       |    c * 1000 // n_tokens AS s_share,
       |    (cc - c) * 1000 // (tt - n_tokens) AS r_share
       |  FROM sb JOIN corpus USING (b) JOIN totals ON sb.source = totals.source
       |  CROSS JOIN tt)
       |SELECT source, n_tokens,
       |  cast(floor(1000.0 * cast(sum(s_share * r_share) as double) /
       |    (sqrt(cast(sum(s_share * s_share) as double)) * sqrt(cast(sum(r_share * r_share) as double)))) as bigint)
       |    AS cos_to_rest_permille
       |FROM j
       |GROUP BY source, n_tokens
       |ORDER BY source""".stripMargin

  /** Per-doc drift verdicts flag below this cosine. */
  val DriftFlagPermille = 500L

  /** (doc_id, b, c, n) sparse histograms over an arbitrary
    * documents-shaped frame — the seam batch q142 and its streaming
    * twin share (one scan, per-doc local 256-slot array). */
  private[graft] def docBucketRows(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), lower(col("text")).as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, txt) =>
          val counts = new Array[Long](256)
          var n = 0L
          TextKernel.words(txt).foreach { t =>
            val d = md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            counts(d(0) & 0xff) += 1L
            n += 1L
          }
          (0 until 256).iterator.collect {
            case b if counts(b) > 0L => (id, b.toLong, counts(b), n)
          }
        }
      }
      .toDF("doc_id", "b", "c", "n")
  }

  /** Frozen drift reference: the non-incremental corpus's 256-bucket
    * permille shares plus the (scalar) squared norm, lineage-truncated
    * so every micro-batch joins materialized rows. */
  private[graft] def driftRef(spark: SparkSession, sfDir: String): DataFrame = {
    val ref = docBucketRows(
        Tables.documents(spark, sfDir)
          .filter(col("source") =!= Dedup.IncrementalSource)
          .select("doc_id", "text"))
      .groupBy("b").agg(sum(col("c")).as("cc"))
    val tot = ref.agg(sum(col("cc")).as("tt"))
    val shares = ref.crossJoin(broadcast(tot))
      .withColumn("r_share", expr("cc * 1000 div tt"))
      .select("b", "r_share")
    shares.crossJoin(broadcast(
        shares.agg(sum(col("r_share") * col("r_share")).as("nr"))))
      .localCheckpoint()
  }

  /** q142 core: per-doc cosine against the frozen reference shares.
    * The doc-side norm sums over ALL the doc's buckets (independent of
    * the reference join, so a bucket the reference lacks still counts
    * against the doc's norm); the dot rides the b-keyed join where a
    * missing reference bucket correctly contributes zero. */
  private[graft] def docDriftVerdicts(batch: DataFrame, ref: DataFrame): DataFrame = {
    val db = docBucketRows(
        batch.filter(col("source") === Dedup.IncrementalSource)
          .select("doc_id", "text"))
      .withColumn("s_share", expr("c * 1000 div n"))
    val ns = db.groupBy("doc_id")
      .agg(max(col("n")).as("n_tokens"),
        sum(col("s_share") * col("s_share")).as("ns"))
    val dots = db.join(broadcast(ref), Seq("b"))
      .groupBy("doc_id")
      .agg(sum(col("s_share") * col("r_share")).as("dot"), max(col("nr")).as("nr"))
    ns.join(dots, Seq("doc_id"), "left")
      .withColumn("cos_permille",
        coalesce(floor(lit(1000.0) * col("dot").cast("double") /
          (sqrt(col("ns").cast("double")) * sqrt(col("nr").cast("double")))).cast("long"),
          lit(0L)))
      .withColumn("flagged", col("cos_permille") < DriftFlagPermille)
      .select("doc_id", "n_tokens", "cos_permille", "flagged")
      .orderBy("doc_id")
  }

  /** q142 batch twin (the registered query is the streaming replay —
    * DedupStream.driftStream — which runs this exact core per
    * micro-batch against the same frozen reference). */
  def docDrift(spark: SparkSession, sfDir: String): DataFrame =
    docDriftVerdicts(
      Tables.documents(spark, sfDir).select("doc_id", "source", "text"),
      driftRef(spark, sfDir))

  def docDriftSql: String =
    s"""WITH itoks AS (
       |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x != '')) AS tok
       |  FROM documents WHERE source = '${Dedup.IncrementalSource}'),
       |rtoks AS (
       |  SELECT unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x != '')) AS tok
       |  FROM documents WHERE source != '${Dedup.IncrementalSource}'),
       |db AS (
       |  SELECT doc_id,
       |    (strpos('0123456789abcdef', substring(md5(tok), 1, 1)) - 1) * 16 + strpos('0123456789abcdef', substring(md5(tok), 2, 1)) - 1 AS b,
       |    cast(count(*) as bigint) AS c
       |  FROM itoks GROUP BY 1, 2),
       |dn AS (SELECT doc_id, cast(sum(c) as bigint) AS n FROM db GROUP BY doc_id),
       |rb AS (
       |  SELECT (strpos('0123456789abcdef', substring(md5(tok), 1, 1)) - 1) * 16 + strpos('0123456789abcdef', substring(md5(tok), 2, 1)) - 1 AS b,
       |    cast(count(*) as bigint) AS cc
       |  FROM rtoks GROUP BY 1),
       |rt AS (SELECT cast(sum(cc) as bigint) AS tt FROM rb),
       |rs AS (SELECT b, cc * 1000 // tt AS r_share FROM rb, rt),
       |nrv AS (SELECT cast(sum(r_share * r_share) as bigint) AS nr FROM rs),
       |sh AS (SELECT db.doc_id, db.b, db.c * 1000 // dn.n AS s_share
       |       FROM db JOIN dn USING (doc_id)),
       |nsv AS (SELECT doc_id, cast(sum(s_share * s_share) as bigint) AS ns FROM sh GROUP BY doc_id),
       |dots AS (
       |  SELECT sh.doc_id, cast(sum(s_share * r_share) as bigint) AS dot
       |  FROM sh JOIN rs USING (b) GROUP BY sh.doc_id)
       |SELECT dn.doc_id, dn.n AS n_tokens,
       |  coalesce(cast(floor(1000.0 * cast(dot as double) /
       |    (sqrt(cast(ns as double)) * sqrt(cast(nr as double)))) as bigint), 0) AS cos_permille,
       |  coalesce(cast(floor(1000.0 * cast(dot as double) /
       |    (sqrt(cast(ns as double)) * sqrt(cast(nr as double)))) as bigint), 0) < $DriftFlagPermille AS flagged
       |FROM dn
       |JOIN nsv USING (doc_id)
       |LEFT JOIN dots USING (doc_id)
       |CROSS JOIN nrv
       |ORDER BY dn.doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q167: the COMPOSED retrieve — the reference's full query-time flow
  // (hyde.rs:468-576 minus the LLM round-trips, which are fixed here:
  // the classification is a constant and the "hypothetical document"
  // is doc 0's text) run END-TO-END through the real Retrieval
  // pipeline: embed hypo -> kNN over-fetch k*2 (F1) -> extension
  // filter with null-ext path fallback (F3) -> exclude anti-filter
  // (F4) -> non-code doc-preference priority sort + truncate k (F7-F9)
  // -> final distance order (F10) -> rank. Every piece has its own
  // oracle row (q28-q33); this row pins the COMPOSITION cross-engine.
  // -------------------------------------------------------------------

  val RetrieveK = 3
  val RetrieveQueryDoc = 0L

  /** The fixed classification: a docs-intent query ("explain …") — the
    * non-code branch, so the doc-preference priority (en's 'md'
    * metadata ranks above zh's NULL extension) decides order ahead of
    * raw distance, and the .md target plus the 'fr' exclusion exercise
    * F3's null-metadata path fallback and F4's substring quirk INSIDE
    * the composition. */
  private def retrieveClassification =
    graft.chat.Schemas.QueryClassification(
      language = None, intent = "explanation", wants_code = false,
      confidence = 0.75, target_folders = None,
      target_extensions = Some(Seq(".md")),
      exclude_patterns = Some(Seq("fr")))

  def composedRetrieve(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = withPath(Tables.documents(spark, sfDir))
    // one histogram pass; norms ride the bucket rows (round 16 — see
    // bucketedWithNorm)
    val buckets = bucketedWithNorm(spark, sfDir)
    // candidates are the EXACT-DEDUPED corpus (min doc_id per text,
    // the engine's own ingest front door): byte-duplicate docs carry
    // identical histograms and therefore identical distances, and a
    // limit boundary falling inside such a tie would be resolved by
    // engine-internal order — the reference's stable Rust sort hides
    // this; deduping first removes the tie class outright
    val canon = Tables.documents(spark, sfDir)
      .groupBy(md5(col("text")).as("h")).agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    // embed the hypo doc = doc 0's histogram (broadcast: the query is
    // one row; the corpus never shuffles — the q33 discipline)
    // query histogram from a pre-filtered scan (see hashEmbedKnn): one
    // doc read, not a corpus re-hash filtered to one row
    val q = broadcast(bucketedWithNormOf(
        Tables.documents(spark, sfDir).filter(col("doc_id") === RetrieveQueryDoc))
      .select(col("b"), col("c").as("qc"), col("nrm").as("qnrm")))
    val dots = buckets.join(q, Seq("b"))
      .filter(col("doc_id") =!= RetrieveQueryDoc)
      .join(canon, "doc_id")
      .groupBy("doc_id").agg(sum(col("qc") * col("c")).as("dot"),
        max(col("nrm")).as("nrm"), max(col("qnrm")).as("qnrm"))
    val scored = dots
      .withColumn("distance", lit(1.0) - col("dot").cast("double") /
        (sqrt(col("qnrm").cast("double")) * sqrt(col("nrm").cast("double"))))
    // F1 over-fetch: top k*2 by (distance, doc_id)
    val win = scored.orderBy(col("distance").asc, col("doc_id").asc)
      .limit(2 * RetrieveK)
      .join(docs.select("doc_id", "file", "extension"), "doc_id")
    // F3/F4/F7-F9 through the REAL pipeline code
    val kept = Retrieval.applyFilters(
      win.select("doc_id", "file", "extension", "distance"),
      retrieveClassification, RetrieveK)
    // F10 + rank (doc_id tiebreak added for a deterministic oracle;
    // window distances are distinct in practice)
    val w = Window.orderBy(col("distance").asc, col("doc_id").asc)
    kept.withColumn("rank", (row_number().over(w) - 1).cast("long"))
      .select("rank", "doc_id", "file", "extension", "distance")
      .orderBy("rank")
  }

  def composedRetrieveSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x != '')) AS tok
       |  FROM documents),
       |hashed AS (SELECT doc_id, md5(tok) AS h FROM toks),
       |buckets AS (
       |  SELECT doc_id,
       |    (strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 16 + strpos('0123456789abcdef', substring(h, 2, 1)) - 1 AS b,
       |    count(*) AS c
       |  FROM hashed GROUP BY 1, 2),
       |norms AS (SELECT doc_id, sum(c*c) AS nrm FROM buckets GROUP BY doc_id),
       |canon AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |dots AS (
       |  SELECT d.doc_id, sum(q.c * d.c) AS dot
       |  FROM buckets q JOIN buckets d USING (b)
       |  WHERE q.doc_id = $RetrieveQueryDoc AND d.doc_id != $RetrieveQueryDoc
       |    AND d.doc_id IN (SELECT doc_id FROM canon)
       |  GROUP BY 1),
       |scored AS (
       |  SELECT dots.doc_id,
       |    1.0 - cast(dot as double) / (sqrt(cast(qn.nrm as double)) * sqrt(cast(dn.nrm as double))) AS distance
       |  FROM dots
       |  JOIN norms dn ON dn.doc_id = dots.doc_id
       |  CROSS JOIN (SELECT nrm FROM norms WHERE doc_id = $RetrieveQueryDoc) qn),
       |win AS (SELECT * FROM scored ORDER BY distance ASC, doc_id ASC LIMIT ${2 * RetrieveK}),
       |hits AS (SELECT win.doc_id, distance, file, extension
       |         FROM win JOIN ($sqlPath) p ON p.doc_id = win.doc_id),
       |filt AS (
       |  SELECT * FROM hits
       |  WHERE (CASE WHEN extension IS NOT NULL
       |           THEN regexp_replace(extension, '^\\.+', '') = 'md'
       |           ELSE ends_with(file, '.md') END)
       |    AND NOT (contains(lower(file), 'fr') OR contains(lower(file), '/fr/')
       |             OR starts_with(lower(file), 'fr/') OR ends_with(lower(file), '/fr'))),
       |sel AS (
       |  SELECT * FROM filt
       |  ORDER BY (CASE WHEN extension IS NOT NULL AND extension IN ('md','txt','rst')
       |            THEN 1 ELSE 0 END) DESC, distance ASC
       |  LIMIT $RetrieveK)
       |SELECT cast(row_number() OVER (ORDER BY distance ASC, doc_id ASC) - 1 as bigint) AS rank,
       |  doc_id, file, extension, distance
       |FROM sel ORDER BY rank""".stripMargin

  def hashEmbedKnn(spark: SparkSession, sfDir: String): DataFrame = {
    // not materialized: every consumer's lineage is a scan-speed
    // flatMap (a cache round-trip costs more than the recompute).
    // norms ride the bucket rows (bucketedWithNorm): the query side's
    // qnrm broadcasts with its buckets and the doc side's nrm folds as
    // max() inside the dot aggregation — the second tokenize+md5 pass
    // and both norm joins are gone (round 16)
    val buckets = bucketedWithNorm(spark, sfDir)
    // query side built from a PRE-filtered documents frame: the doc_id
    // predicate cannot push through the opaque flatMap, so filtering
    // the histogram output re-hashed the whole corpus to keep 5 docs
    val q = bucketedWithNormOf(
        Tables.documents(spark, sfDir).filter(col("doc_id") < EmbedQueries))
      .select(col("doc_id").as("query_id"), col("b"), col("c").as("qc"),
        col("nrm").as("qnrm"))
    val dots = broadcast(q).join(buckets, Seq("b"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("qc") * col("c")).as("dot"),
        max(col("qnrm")).as("qnrm"), max(col("nrm")).as("nrm"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("doc_id").asc)
    dots
      .withColumn("sim",
        col("dot").cast("double") / (sqrt(col("qnrm").cast("double")) * sqrt(col("nrm").cast("double"))))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= EmbedK)
      .select(col("query_id"), col("doc_id").as("neighbor_id"), col("rank"), col("sim"))
      .orderBy("query_id", "rank")
  }

  def hashEmbedKnnSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x != '')) AS tok
       |  FROM documents),
       |hashed AS (SELECT doc_id, md5(tok) AS h FROM toks),
       |buckets AS (
       |  SELECT doc_id,
       |    (strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 16 + strpos('0123456789abcdef', substring(h, 2, 1)) - 1 AS b,
       |    count(*) AS c
       |  FROM hashed GROUP BY 1, 2),
       |norms AS (SELECT doc_id, sum(c*c) AS nrm FROM buckets GROUP BY doc_id),
       |dots AS (
       |  SELECT q.doc_id AS query_id, d.doc_id AS doc_id, sum(q.c * d.c) AS dot
       |  FROM buckets q JOIN buckets d ON q.b = d.b
       |  WHERE q.doc_id < $EmbedQueries AND d.doc_id != q.doc_id
       |  GROUP BY 1, 2)
       |SELECT query_id, neighbor_id, rank, sim FROM (
       |  SELECT dots.query_id, dots.doc_id AS neighbor_id,
       |    cast(row_number() OVER (PARTITION BY dots.query_id
       |      ORDER BY cast(dot as double) / (sqrt(cast(qn.nrm as double)) * sqrt(cast(dn.nrm as double))) DESC,
       |               dots.doc_id ASC) as bigint) AS rank,
       |    cast(dot as double) / (sqrt(cast(qn.nrm as double)) * sqrt(cast(dn.nrm as double))) AS sim
       |  FROM dots
       |  JOIN norms qn ON qn.doc_id = dots.query_id
       |  JOIN norms dn ON dn.doc_id = dots.doc_id)
       |WHERE rank <= $EmbedK
       |ORDER BY query_id, rank""".stripMargin
}
