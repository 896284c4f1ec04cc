package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.similarity.{Similarity, SimilarityHof}

/** The native DotProduct/CosineSimilarity kernels must be bit-identical to
  * their higher-order-function formulations (which the SQL oracles mirror) —
  * same sequential fold order, same null semantics — and must stay inside
  * whole-stage codegen.
  */
class VectorExprSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .withExtensions(new graft.api.GraftExtensions()(_))
    .getOrCreate()

  private def pairs(rows: Seq[(Seq[Double], Seq[Double])]) = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("a", ArrayType(DoubleType)),
      StructField("b", ArrayType(DoubleType))))
    spark.createDataFrame(rows.map(r => Row(r._1, r._2)).asJava, schema)
  }

  test("dot and cosine are bit-identical to the HOF formulation") {
    val rng = new scala.util.Random(42)
    val rows = (0 until 200).map { _ =>
      val n = 1 + rng.nextInt(65)
      (Seq.fill(n)(rng.nextDouble() * 2 - 1), Seq.fill(n)(rng.nextDouble() * 2 - 1))
    }
    val df = pairs(rows).select(
      Similarity.dot(col("a"), col("b")).as("d"),
      SimilarityHof.dotHof(col("a"), col("b")).as("dh"),
      Similarity.cosine(col("a"), col("b")).as("c"),
      SimilarityHof.cosineHof(col("a"), col("b")).as("ch"))
    df.collect().foreach { r =>
      // bit-level equality, not tolerance: same fold order must mean same bits
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0))
        === java.lang.Double.doubleToLongBits(r.getDouble(1)))
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2))
        === java.lang.Double.doubleToLongBits(r.getDouble(3)))
    }
  }

  test("null input, length mismatch, and zero vectors evaluate to null") {
    val df = pairs(Seq(
      (null, Seq(1.0, 2.0)),
      (Seq(1.0, 2.0), null),
      (Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0)),
      (Seq(0.0, 0.0), Seq(1.0, 2.0))))
      .select(
        Similarity.dot(col("a"), col("b")).as("d"),
        Similarity.cosine(col("a"), col("b")).as("c"))
    val rows = df.collect()
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1))
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1))
    assert(rows(2).isNullAt(0) && rows(2).isNullAt(1))
    // zero vector: dot is defined (0.0), cosine divides by zero → null
    assert(rows(3).getDouble(0) === 0.0)
    assert(rows(3).isNullAt(1))
  }

  test("float embeddings cast transparently") {
    import spark.implicits._
    val df = Seq((Seq(1.0f, 2.0f), Seq(3.0f, 4.0f))).toDF("a", "b")
      .select(Similarity.dot(col("a"), col("b")).as("d"))
    assert(df.head().getDouble(0) === 11.0)
  }

  test("the kernels participate in whole-stage codegen") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // a range source (not a local relation, which the optimizer folds away)
      // so the projection materializes as a real codegen stage
      val df = spark.range(8).select(
        transform(sequence(lit(0L), col("id") + 1), i => i.cast("double")).as("a"),
        transform(sequence(lit(0L), col("id") + 1), i => (i * 2).cast("double")).as("b"))
      val q = df.select(Similarity.cosine(col("a"), col("b")).as("c"),
        Similarity.dot(col("a"), col("b")).as("d"))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("*("), "projection should be codegen'd:\n" + p)
      assert(q.collect().length === 8)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

}
