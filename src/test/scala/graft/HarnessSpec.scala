package graft

import org.apache.spark.sql.functions._

/** The mains' shared harness: its timed action computes every returned
  * column, and a failing prepare step is loud and named. */
class HarnessSpec extends SparkSpec {

  test("the timed action computes every returned column; count() would prune a raising one") {
    val df = spark.range(4).select(col("id"),
      when(col("id") >= 0, raise_error(lit("planted"))).as("bad"))
    assert(df.count() == 4L)
    val timer = new Harness.Timer(spark)
    try {
      val failed = timer.time("bad")(df)
      assert(!failed.ok)
      assert(failed.error.get.getMessage.contains("planted"))
      val passed = timer.time("good")(spark.range(4).select((col("id") * 2).as("x")))
      assert(passed.ok && passed.sec >= 0.0 && passed.gcMs >= 0L)
      timer.settle(quietMs = 100)
      val c = timer.counters("good")
      assert(c.jobs >= 1L && c.stages >= 1L && c.tasks >= 1L && c.taskMs >= 0L)
      assert(timer.counters("never-timed") == Harness.Counters(0, 0, 0, 0))
    } finally timer.close()
  }

  test("prepare propagates a failing step with its name and stops there") {
    var ran = List.empty[String]
    val steps = Seq(
      Harness.Prepare("first", (_, _) => ran ::= "first"),
      Harness.Prepare("planted", (_, _) => throw new RuntimeException("no artifact")),
      Harness.Prepare("after", (_, _) => ran ::= "after"))
    val e = intercept[IllegalStateException](Harness.prepare(spark, sf0001, steps))
    assert(e.getMessage.contains("planted") && e.getMessage.contains("no artifact"))
    assert(ran == List("first"))
    // the bench's own list: every step named once
    val names = Harness.prepares(snapshots = 2).map(_.name)
    assert(names.size == 11 && names.distinct.size == 11)
  }
}
