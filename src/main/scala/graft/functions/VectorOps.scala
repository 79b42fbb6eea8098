package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math as pure `Column` algebra (higher-order array functions).
  *
  * The folds are sequential left-to-right in double precision, which makes
  * results bit-identical to any engine that folds the same way (verified
  * against DuckDB's list_inner_product / list_cosine_similarity on
  * DOUBLE[]) — the property the oracle hashing relies on.
  *
  * Hot paths should prefer the native Catalyst expression
  * [[CosineSimilarity]] (single fused loop, codegen); these column forms
  * are the portable/composable variant and the reference for its spec.
  */
object VectorOps {

  /** Cast any numeric array to array<double> (floats widen exactly). */
  def asDouble(v: Column): Column = v.cast("array<double>")

  /** Sequential-fold dot product of two array<double> columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Cosine similarity: dot / (||a|| * ||b||), all sequential folds. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
}
