package graft

import org.apache.spark.sql.functions._
import graft.functions.SignRpKeys

/** Codegen'd sign-random-projection band keys: path agreement,
  * determinism, and the LSH contract (near-identical vectors collide on
  * every band; weights stay in [-1, 1]). */
class SignRpKeysSpec extends SparkSuite {

  test("interpreted eval agrees with the codegen path") {
    import spark.implicits._
    val vec = Array(0.3, -0.7, 0.2, 0.9, -0.1)
    val viaCodegen = Seq(Tuple1(vec)).toDF("e")
      .select(expr("graft_sign_rp_keys(e, 8, 16)").as("k"))
      .head.getSeq[Long](0)
    val nullLit = org.apache.spark.sql.catalyst.expressions.Literal(null)
    val interp = SignRpKeys(nullLit, 8, 16)
      .nullSafeEval(org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(vec))
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray().toSeq
    assert(viaCodegen === interp)
    assert(viaCodegen.length === 8)
    // 16-bit band keys
    viaCodegen.foreach(k => assert(k >= 0 && k < (1L << 16)))
  }

  test("plane weights are deterministic, quantized, and bounded") {
    val ws = for (p <- 0 until 128; j <- 0 until 64) yield SignRpKeys.weight(p, j)
    assert(ws.forall(w => w >= -1.0 && w <= 1.0 - 1e-9))
    assert(ws.distinct.size > 500) // not degenerate
    assert(SignRpKeys.weight(3, 7) === SignRpKeys.weight(3, 7))
    // roughly centered (uniform in [-1, 1])
    assert(math.abs(ws.sum / ws.size) < 0.05)
  }

  test("near-identical vectors collide on every band; scale-invariance of signs") {
    import spark.implicits._
    val base = Array.tabulate(64)(j => math.sin(j * 1.7) * (1 + j % 5))
    val near = base.map(_ * 1.0003) // pure positive scaling + tiny drift
    val df = Seq((1, base), (2, near), (3, base.map(-_))).toDF("id", "e")
      .select(col("id"), expr("graft_sign_rp_keys(e, 8, 16)").as("k"))
    val rows = df.collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    assert(rows(1) === rows(2), "positively-scaled copy must share all band keys")
    assert(rows(1) != rows(3), "negated vector must flip sign bits")
  }

  test("degenerate geometry is refused loudly; a null element yields " +
    "NULL keys instead of bucketing on fabricated zeros") {
    // rowsPerBand = 0 would emit identical all-zero keys for EVERY
    // vector — the band join degenerates to N×N with no error
    intercept[IllegalArgumentException] {
      SignRpKeys(org.apache.spark.sql.catalyst.expressions.Literal(null),
        bands = 8, rowsPerBand = 0)
    }
    intercept[IllegalArgumentException] {
      SignRpKeys(org.apache.spark.sql.catalyst.expressions.Literal(null),
        bands = 8, rowsPerBand = 65)
    }
    val viaSql = spark.sql(
      "SELECT graft_sign_rp_keys(array(1.0d, cast(null as double)), 8, 16) AS k")
      .head()
    assert(viaSql.isNullAt(0),
      "a vector with a null element must yield NULL keys (its bucket " +
        "would otherwise depend on a fabricated 0.0)")
  }
}
