package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one pair-emission primitive of the quadratic-by-construction
  * family (q15, q72, q128, q170): every i<j pair of a sorted set,
  * counted over the rows that hold it.
  *
  * Input: a frame whose array column `set` is sorted ascending,
  * distinct and non-null (`CappedLongSet` output, `sort_array` over a
  * `collect_set`, or q15's sorted posting runs). Output:
  * `(keep…, a, b, n)` — one row per pair a < b within each `keep` group,
  * `n` = the number of input rows whose set holds that pair. Neither
  * `set` nor a `keep` column may be named `i`, `a`, `b` or `n`.
  *
  * Emission uses generators — `posexplode`, then
  * `explode(slice(s, i+2, size(s)))` — so the pair stream stays inside
  * whole-stage codegen and feeds the partial aggregate directly. The
  * typed forms it replaced (a `flatMap` over the set, or a nested i<j
  * loop in a posting-scan iterator) paid a `SerializeFromObject`
  * boundary and a tuple allocation per pair: at q170's f=64 amplified
  * decade the generator form read 12.45 s against the flatMap's
  * 13.56 s, on the identical edge set.
  *
  * The suffix slice per (set, i) copies only the elements after i, so
  * the total volume is Σ C(|s|,2) elements — O(pairs), the same volume
  * any enumeration emits; the callers' caps bound every per-row array.
  *
  * The width of the emission stage stays with the callers: the work is
  * fan-out-amplified (Σ|s|² per input row) while the input bytes are
  * only set-sized, so a byte-proportional width can under-parallelize
  * it. q72 and q128 therefore repartition to the session shuffle width
  * before calling this; q15's runs already arrive hash-partitioned at a
  * width that scales with the corpus, and q170's cell sets hold their
  * decades without one (SCALING.md). */
object PairCounts {
  def apply(sets: DataFrame, set: String, keep: String*): DataFrame = {
    val k = keep.map(col)
    val s = col(set)
    sets
      .select(k :+ s :+ posexplode(s).as(Seq("i", "a")): _*)
      .select(k :+ col("a") :+ explode(slice(s, col("i") + lit(2), size(s))).as("b"): _*)
      .groupBy(k :+ col("a") :+ col("b"): _*)
      .agg(count(lit(1)).as("n"))
  }
}
