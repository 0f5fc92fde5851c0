package graft

/** Plan-audit main: prints the formatted physical plan of selected
  * queries (all by default) so pushdown, join strategy, and codegen
  * spans can be reviewed. Usage: runMain graft.Explain [sfDir] [q...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val wanted = args.drop(1).toSet
    // the bench's session, so the printed plans are the ones it times
    val spark = Harness.session(Harness.Batch)
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq
      .sortBy(_._1.stripPrefix("q").takeWhile(_.isDigit).toInt)
      .filter { case (n, _) => wanted.isEmpty || wanted.contains(n) }
      .foreach { case (name, fn) =>
        println(s"===== $name =====")
        // default: withoutEagerness — plan inspection must not trigger
        // the full compute job that Materialize.shared's eager count
        // would run. SPARK_GRAFT_EXPLAIN_EAGER=1 keeps the eager
        // materializations so the printed plan is the RUNTIME shape
        // (InMemoryTableScan under cached consumers) — the form the
        // optimization round's before/after plan files use, at the
        // cost of running each query's shared-cache builds.
        val eagerMode = sys.env.get("SPARK_GRAFT_EXPLAIN_EAGER").contains("1")
        def plan(): String = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        try println(
          if (eagerMode) plan()
          else graft.ops.Materialize.withoutEagerness(plan()))
        catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
        finally graft.ops.Materialize.release(spark)
      }
    spark.stop()
  }
}
