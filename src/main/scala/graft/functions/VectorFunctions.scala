package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level vector math over `array<float|double>` columns.
  *
  * Everything here composes built-in higher-order functions
  * (`zip_with`/`aggregate`/`transform`) so the expressions stay inside
  * whole-stage codegen — no UDF boundary, no serialization, and Catalyst
  * can still push filters around them. Accumulation is left-to-right in
  * doubles, which makes results bit-reproducible across partitionings
  * (the per-row computation never crosses a row boundary).
  *
  * Mirrors the distance semantics of the reference ANN search
  * (reference: src/ann.rs:262-268 — lower distance = more relevant;
  * README.md:56 claims cosine).
  */
object VectorFunctions {

  /** Elementwise cast to double — do this once up front so all math below
    * is double-precision regardless of the stored element type. */
  def asDouble(a: Column): Column = transform(a, x => x.cast("double"))

  /** Dot product with double accumulation, left-to-right. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in [-1, 1]; null-safe only insofar as inputs are. */
  def cosineSimilarity(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Cosine distance (1 - similarity): lower = more similar, matching the
    * reference's "lower = more relevant" ordering (src/hyde.rs:668). */
  def cosineDistance(a: Column, b: Column): Column =
    lit(1.0) - cosineSimilarity(a, b)
}
