package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Raised when a workload's set-up fails: the run must not go on to
  * time anything, since the missing set-up work would land in a timed
  * line. */
final class SetupFailed(cause: Throwable) extends RuntimeException(cause)

/** What one harness run hands back to `run.py`: raw samples, scalar
  * values, check observations, failures, Spark counters and spans. */
final class Result {
  val series = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val values = mutable.LinkedHashMap.empty[String, Double]
  val observed = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[Map[String, String]]
  var attempted = 0L

  def add(name: String, v: Double): Unit = synchronized {
    series.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }
  def set(name: String, v: Double): Unit = synchronized { values(name) = v }
  def observe(name: String, v: Any): Unit = synchronized { observed(name) = v }
  def fail(name: String, e: Throwable): Unit = synchronized {
    System.err.println(s"perfbench: $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
    failures += Map("name" -> name, "class" -> e.getClass.getName,
      "message" -> String.valueOf(e.getMessage))
  }
}

/** Common plumbing for the workload drivers. */
final case class Ctx(spark: SparkSession, res: Result, tracer: Tracer, heap: HeapSampler,
                     input: Path, work: Path, seconds: Double, setupReps: Int,
                     params: Map[String, String]) {
  private var gc0 = 0L

  /** Marks the start and the end of the timed phase: peak heap and GC
    * time are taken over it. The timed phase starts from a collected
    * heap, so garbage left by the set-up does not count in its peak; it
    * ends with a collection too, so a phase in which no collection ran
    * still reports its live heap. */
  def startTimed(): Unit = { System.gc(); gc0 = HeapSampler.gcMs(); heap.start() }
  def endTimed(): Unit = {
    res.set("jvm.gc_ms", (HeapSampler.gcMs() - gc0).toDouble)
    heap.collectAndStop()
    res.set("peak_heap_mb", heap.peakBytes / 1048576.0)
    res.set("gc_collections", heap.collections.toDouble)
  }

  def sc = spark.sparkContext
  def span[T](name: String, req: String)(body: => T): T = tracer.span(sc, name, req)(body)
  def param(k: String): String =
    params.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
}

object Main {

  def seconds[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val v = body
    ((System.nanoTime() - t0) / 1e9, v)
  }

  /** Runs one set-up repetition; any failure aborts the run. */
  def setup[T](body: => T): T =
    try body catch { case e: Throwable => throw new SetupFailed(e) }

  /** The timed action for a DataFrame: compute every row and column
    * it returns, and keep nothing. */
  def runAll(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }

  def treeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
  }

  /** Order-independent digest of a multiset of strings: count and the
    * wrapping sum of each element's 64-bit hash. */
  def multisetDigest(items: Iterator[String]): String = {
    var n, sum = 0L
    items.foreach { s =>
      val d = java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      sum += java.nio.ByteBuffer.wrap(d).getLong
      n += 1
    }
    f"$n:$sum%016x"
  }

  def session(workload: String, cpus: Int, work: Path): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    // chat_query: the serving tier's session, as the engine's serving
    // harness configures it (prepared-plan extensions on, static
    // plans); corpus_batch: the batch sweep's settings.
    if (workload == "chat_query")
      b.withExtensions(new graft.plans.GraftExtensions).config("spark.sql.adaptive.enabled", "false")
    else b.config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    b.getOrCreate()
  }

  private def parseArgs(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val workload = a("workload")
    val work = Paths.get(a("work")).toAbsolutePath
    val out = Paths.get(a("out"))
    val trace = a("trace") == "1"
    val cpus = a("cpus").toInt
    val res = new Result
    val tracer = new Tracer(trace)
    var exit = 0
    val t0 = System.nanoTime()
    val spark = session(workload, cpus, work)
    spark.sparkContext.setLogLevel("ERROR")
    res.set("session_s", (System.nanoTime() - t0) / 1e9)
    val counters = new SparkCounters
    if (trace) spark.sparkContext.addSparkListener(counters)
    val ctx = Ctx(spark, res, tracer, new HeapSampler, Paths.get(a("input")).toAbsolutePath,
      work, a("seconds").toDouble, a("setup-reps").toInt, a)
    try workload match {
      case "chat_query" => ChatQuery.run(ctx)
      case "corpus_batch" => CorpusBatch.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case e: SetupFailed => res.fail("setup", e.getCause); exit = 3
      case e: Throwable => res.fail("harness", e); exit = 4
    } finally {
      if (trace) counters.settle()
      val conf = spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.") || k == "spark.master" }
      Files.writeString(out, Json.encode(Map(
        "workload" -> workload,
        "attempted" -> res.attempted,
        "series" -> res.series.map { case (k, v) => k -> v.toSeq }.toMap,
        "values" -> res.values.toMap,
        "observed" -> res.observed.toMap,
        "failures" -> res.failures.toSeq,
        "spark_conf" -> conf,
        "spark_by_span" -> (if (trace) counters.bySpan.map { case (k, v) => k -> v.toMap }.toMap
                            else Map.empty),
        "spark_by_req" -> (if (trace) counters.byReq.map { case (k, v) => k -> v.toMap }.toMap
                           else Map.empty),
        "spans" -> tracer.all.map(s => Seq(s.id, s.parent, s.name, s.req, s.startNs, s.endNs)))))
      spark.stop()
    }
    sys.exit(exit)
  }
}

/** Minimal JSON encoder for the result handed to run.py. */
object Json {
  def encode(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => encode(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => encode(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + encode(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(encode).mkString("[", ",", "]")
    case xs: Array[_] => encode(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
