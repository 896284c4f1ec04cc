package graft.similarity

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The higher-order-function formulations of the vector kernels — what
  * the SQL oracles replicate — kept as the executable spec VectorExprSpec
  * compares [[Similarity.dot]] and [[Similarity.cosine]] to (bit-identical:
  * same fold order per accumulator). Not a hot path: higher-order
  * functions stay outside whole-stage codegen and re-allocate the zipped
  * array per evaluation.
  */
object SimilarityHof {

  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def cosineHof(a: Column, b: Column): Column =
    dotHof(a, b) / (sqrt(dotHof(a, a)) * sqrt(dotHof(b, b)))
}
