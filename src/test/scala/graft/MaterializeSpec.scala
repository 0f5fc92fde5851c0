package graft

import graft.ops.Materialize
import org.apache.spark.storage.StorageLevel

/** `Materialize`'s plan-inspection switch is scoped to one session. */
class MaterializeSpec extends SparkSpec {

  test("withoutEagerness on one session leaves shared on another session persisting") {
    val other = spark.newSession()
    val df = spark.range(0, 1000).selectExpr("id % 7 AS k", "id AS v")
    val lazyDf = other.range(0, 1000).selectExpr("id % 11 AS k")
    val (kept, passed) = Materialize.withoutEagerness(other) {
      assert(!Materialize.eagerEnabled(other) && Materialize.eagerEnabled(spark))
      (Materialize.shared(spark, df), Materialize.shared(other, lazyDf))
    }
    try {
      assert(kept.storageLevel == StorageLevel.MEMORY_AND_DISK)
      assert(passed.storageLevel == StorageLevel.NONE)
      assert(Materialize.eagerEnabled(other))
    } finally Materialize.release(spark)
  }
}
