package graft

import org.apache.spark.sql.functions._
import graft.functions.CosineSimilarity

/** Native cosine expression: numeric parity with the HOF formulation,
  * codegen vs interpreted agreement, null on length mismatch. */
class CosineSimilaritySpec extends SparkSuite {

  test("matches the zip_with/aggregate HOF composition bit-for-bit") {
    val df = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .limit(50)
    val a = df.select(col("vec_id").as("i"), col("e").as("ea"))
    val b = df.select((col("vec_id") - 1).as("i"), col("e").as("eb"))
    val both = a.join(b, "i")
      .withColumn("native", expr("graft_cosine(ea, eb)"))
      .withColumn("hof", expr(
        """aggregate(zip_with(ea, eb, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)
          | / (sqrt(aggregate(transform(ea, x -> x * x), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))
          |  * sqrt(aggregate(transform(eb, x -> x * x), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)))""".stripMargin))
    val rows = both.select("native", "hof").collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
  }

  test("self-similarity is 1.0; mismatched lengths yield null; floats cast") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(1.0, 2.0, 3.0)),
      (Array(1.0, 0.0), Array(0.0, 1.0))).toDF("a", "b")
      .withColumn("cs", expr("graft_cosine(a, b)"))
    val out = df.select("cs").collect()
    assert(math.abs(out(0).getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(out(1).getDouble(0)) < 1e-12)
    val mismatch = Seq((Array(1.0, 2.0), Array(1.0, 2.0, 3.0))).toDF("a", "b")
      .withColumn("cs", expr("graft_cosine(a, b)")).select("cs").head
    assert(mismatch.isNullAt(0))
    // float arrays implicitly cast to double
    val floats = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f))).toDF("a", "b")
      .withColumn("cs", expr("graft_cosine(a, b)")).select("cs").head
    assert(math.abs(floats.getDouble(0) - 1.0) < 1e-6)
  }

  test("zero-norm vectors yield null, not NaN, in both eval paths") {
    import spark.implicits._
    // codegen path: zero vector and empty arrays against a real vector
    val df = Seq(
      (Array(0.0, 0.0, 0.0), Array(1.0, 2.0, 3.0)),
      (Array[Double](), Array[Double]())).toDF("a", "b")
      .withColumn("cs", expr("graft_cosine(a, b)"))
    df.select("cs").collect().foreach(r =>
      assert(r.isNullAt(0), "zero-norm cosine must be null, not NaN"))
    // a NaN would silently fail >= thresholds; null rows must simply drop
    assert(df.filter(col("cs") >= 0.95).count() === 0L)
    // interpreted path
    val nullLit = org.apache.spark.sql.catalyst.expressions.Literal(null)
    val e = CosineSimilarity(nullLit, nullLit)
    val interp = e.nullSafeEval(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(0.0, 0.0)),
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(1.0, 2.0)))
    assert(interp == null)
  }

  test("a NULL array element yields NULL, never a fabricated 0.0 — both " +
    "evaluation paths (the zip_with/aggregate HOF parity contract)") {
    val viaSql = spark.sql(
      "SELECT graft_cosine(array(1.0d, cast(null as double)), " +
        "array(1.0d, 1.0d)) AS cs").head()
    assert(viaSql.isNullAt(0),
      "codegen path read a null slot as 0.0 instead of yielding NULL")
    val nullLit = org.apache.spark.sql.catalyst.expressions.Literal(null)
    val e = CosineSimilarity(nullLit, nullLit)
    val interp = e.nullSafeEval(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        Array[Any](1.0, null)),
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        Array[Any](1.0, 1.0)))
    assert(interp == null,
      "interpreted path read a null slot as 0.0 instead of yielding NULL")
  }

  test("interpreted eval agrees with codegen path") {
    import spark.implicits._
    val df = Seq((Array(0.3, -0.7, 0.2), Array(0.1, 0.9, -0.5))).toDF("a", "b")
    val viaCodegen = df.withColumn("cs", expr("graft_cosine(a, b)"))
      .select("cs").head.getDouble(0)
    val nullLit = org.apache.spark.sql.catalyst.expressions.Literal(null)
    val e = CosineSimilarity(nullLit, nullLit)
    val interpreted = e.nullSafeEval(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(0.3, -0.7, 0.2)),
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(0.1, 0.9, -0.5)))
      .asInstanceOf[Double]
    assert(viaCodegen === interpreted)
  }
}
