package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.chat.{AnnIndex, ChatPipeline, Chunker, Embed, HashingEmbedder, Profile}
import Main.multisetDigest

/** The index build and refresh path (`ChatPipeline.index` and
  * `ChatPipeline.refreshIndex`): its traced decomposition and the
  * checks on its output. */
object Indexing {

  /** (file, code, language, extension) multiset of an index's chunks. */
  def chunkDigest(spark: SparkSession, idx: Path): String =
    multisetDigest(AnnIndex.load(spark, idx.toString)
      .select("file", "code", "language", "extension").collect().iterator
      .map(r => Seq(0, 1, 2, 3).map(i => String.valueOf(r.get(i))).mkString("\u0001")))

  /** How many forest rows each chunk has, as {rows per chunk: chunks}.
    * Forest rows whose chunk is missing count under key "orphan". */
  def forestRowsPerChunk(spark: SparkSession, idx: Path): Map[String, Long] = {
    val ids = AnnIndex.load(spark, idx.toString).select(col("chunk_id"), lit(1).as("in_chunks"))
    val forest = spark.read.parquet(s"$idx/forest").groupBy("chunk_id").count()
    ids.join(forest, Seq("chunk_id"), "full_outer")
      .select(when(col("in_chunks").isNull, lit("orphan"))
        .otherwise(coalesce(col("count"), lit(0L)).cast("string")).as("k"))
      .groupBy("k").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Applies the edit wave written by run.py: `write/` holds the new
    * text of modified and added files, `delete.txt` the removed paths. */
  def applyWave(waveDir: Path, repo: Path): Unit = {
    Files.readAllLines(waveDir.resolve("delete.txt")).asScala
      .filter(_.nonEmpty).foreach(p => Files.delete(repo.resolve(p)))
    val w = waveDir.resolve("write")
    val s = Files.walk(w)
    try s.filter(Files.isRegularFile(_)).forEach { p =>
      val t = repo.resolve(w.relativize(p).toString)
      Files.createDirectories(t.getParent)
      Files.copy(p, t, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }

  /** The calls `ChatPipeline.index` makes into its modules, in its
    * order, one span each (traced runs only). Each lazy stage is run
    * inside its own span, so its time is charged to its own module. */
  def tracedBuild(c: Ctx, repo: Path, out: Path, req: String): Long = c.span("build", req) {
    val spark = c.spark
    val embedder = new HashingEmbedder()
    val chunks = c.span("chunker.chunkRepo", req) {
      val ds = Chunker.chunkRepo(spark, repo.toString).persist()
      Main.runAll(ds.toDF())
      ds
    }
    val rows = c.span("embed.embedChunks", req) {
      val df = Embed.embedChunks(spark, chunks, embedder).toDF().persist()
      Main.runAll(df)
      df
    }
    c.span("annindex.save", req) { AnnIndex.save(rows, out.toString) }
    rows.unpersist(); chunks.unpersist()
    val chunksDf = AnnIndex.load(spark, out.toString)
    val n = c.span("annindex.load", req) { chunksDf.count() }
    c.span("annindex.forest", req) {
      val forest = AnnIndex.sampleForest(embedder.dim, n)
      AnnIndex.savePlanes(spark, forest, out.toString)
      AnnIndex.saveForestIndex(AnnIndex.buildForestIndex(chunksDf, forest), out.toString)
    }
    c.span("annindex.leafSkew", req) { AnnIndex.leafSkew(spark, out.toString) }
    c.span("profile", req) {
      val files = ChatPipeline.filesFrame(spark, repo.toString)
      ChatPipeline.writeProfileJson(Profile.profile(files, repo.getFileName.toString),
        s"$out/profile.json")
    }
    c.span("manifest", req) { ChatPipeline.repoManifest(repo.toString) }
    n
  }

  def leafSkew(idx: Path): Map[String, Double] = {
    val n = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(idx.resolve("leaf_skew.json")))
    Seq("max_leaf", "p99_leaf", "forest_rows").map(k => k -> n.path(k).asDouble).toMap
  }

  /** Traced runs only, after the timed loop: the build decomposition,
    * checked against `ChatPipeline.index` of the same repo, then the
    * edit wave and `ChatPipeline.refreshIndex`, checked against a fresh
    * build of the edited repo. */
  def traceBuildAndRefresh(c: Ctx, repo: Path): Unit = {
    val spark = c.spark
    val edited = c.work.resolve("repo_edited")
    Main.copyTree(repo, edited)
    val traced = c.work.resolve("idx_traced")
    val idx = c.work.resolve("idx_refreshed")
    val fresh = c.work.resolve("idx_fresh")
    c.res.add("traced_build_s", Main.seconds(tracedBuild(c, edited, traced, "build"))._1)
    c.res.add("untraced_build_s", Main.seconds(c.span("chatpipeline.index", "build") {
      ChatPipeline.index(spark, edited.toString, idx.toString)
    })._1)
    c.res.observe("traced_digest", chunkDigest(spark, traced))
    c.res.observe("untraced_digest", chunkDigest(spark, idx))
    applyWave(c.input.resolve("wave"), edited)
    val st = c.span("chatpipeline.refreshIndex", "refresh") {
      ChatPipeline.refreshIndex(spark, edited.toString, idx.toString)
    }
    c.res.set("refresh.purged_chunks", st.purgedChunks.toDouble)
    c.res.set("refresh.reindexed_chunks", st.addedChunks.toDouble)
    c.res.observe("refreshed_forest_rows_per_chunk", forestRowsPerChunk(spark, idx))
    c.res.observe("refreshed_digest", chunkDigest(spark, idx))
    ChatPipeline.index(spark, edited.toString, fresh.toString)
    c.res.observe("fresh_digest", chunkDigest(spark, fresh))
  }
}
