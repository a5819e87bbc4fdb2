package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.MinHashSig

/** The fused one-pass signature expression must be VALUE-IDENTICAL to the
  * explode + groupBy SQL formulation it replaced (same shingling, same
  * xxhash64 chaining, same null/short-doc semantics) — otherwise swapping
  * it into MinHashLSH would silently change dd4/cp1 candidate sets. */
class MinHashSigSpec extends SparkSuite {

  private val NumPerms = 16

  /** The ORIGINAL formulation, kept verbatim as the executable contract. */
  private def legacySigs(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hashed = docs
      .select(col(idCol).as("__id"),
        split(lower(trim(regexp_replace(col(textCol), "\\s+", " "))), " ").as("toks"))
      .select(col("__id"), explode(expr(
        """array_distinct(transform(sequence(1, greatest(size(toks) - 2, 1)),
          |  i -> xxhash64(concat_ws(' ', toks[i-1], toks[i], toks[i+1]))))""".stripMargin))
        .as("h"))
    val aggs = (0 until NumPerms).map(p => min(xxhash64(col("h"), lit(p))).as(s"m$p"))
    hashed.groupBy("__id").agg(aggs.head, aggs.tail: _*)
      .select(col("__id"),
        array((0 until NumPerms).map(p => col(s"m$p")): _*).as("sig"))
  }

  private def fusedSigs(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    docs
      .select(col(idCol).as("__id"),
        split(lower(trim(regexp_replace(col(textCol), "\\s+", " "))), " ").as("toks"))
      .select(col("__id"), expr(s"graft_minhash_sig(toks, $NumPerms)").as("sig"))
  }

  private def assertIdentical(docs: DataFrame, idCol: String, textCol: String): Unit = {
    val legacy = legacySigs(docs, idCol, textCol).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val fused = fusedSigs(docs, idCol, textCol).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fused.keySet === legacy.keySet, "row coverage diverged")
    legacy.foreach { case (id, sig) =>
      assert(fused(id) === sig, s"signature diverged for id=$id")
    }
  }

  test("fused signature is value-identical to the legacy SQL formulation on real documents") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    assertIdentical(docs, "doc_id", "text")
  }

  test("edge cases: short docs, empty text, whitespace runs, unicode, null text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "one"),
      (2L, "two words"),
      (3L, "exactly three tokens"),
      (4L, "  leading and\ttrailing   whitespace runs collapse  "),
      (5L, ""),
      (6L, "MiXeD Case ÀCCÉNTS Straße tokens here"),
      (7L, null.asInstanceOf[String]),
      (8L, "a a a a a a repeated shingles dedup is a no-op for min")
    ).toDF("doc_id", "text")
    assertIdentical(docs, "doc_id", "text")
    // null text is NOT dropped: the legacy form emitted the single
    // empty-string shingle for it (sequence(1,1) + concat_ws null-skip),
    // so both sides must carry id 7 with that same signature
    val legacyIds = legacySigs(docs, "doc_id", "text").collect().map(_.getLong(0)).toSet
    assert(legacyIds.contains(7L), "contract drift: legacy stopped emitting null-text docs")
  }

  test("interpreted eval path matches codegen (compute called directly)") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val toks = ArrayData.toArrayData(
      Array("three", "word", "shingle", "doc").map(UTF8String.fromString))
    val direct = MinHashSig.compute(toks, NumPerms)
    assert(direct.numElements() === NumPerms)
    import spark.implicits._
    val viaPlan = fusedSigs(Seq((1L, "three word shingle doc")).toDF("doc_id", "text"),
      "doc_id", "text").collect()(0).getSeq[Long](1)
    assert((0 until NumPerms).map(direct.getLong) === viaPlan)
  }

  test("duplicate doc ids merge into one signature (element-wise min, legacy semantics)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (1L, "zeta eta theta iota kappa lambda"), // same id, different text
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "solo document with unique id")
    ).toDF("doc_id", "text")
    // the legacy groupBy formulation already merges duplicate ids: its
    // min() runs across ALL the id's shingles — the executable contract
    val legacy = legacySigs(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val prod = graft.operators.MinHashLSH.signatures(docs, "doc_id", "text", NumPerms)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(prod.keySet === Set(1L, 2L, 3L), "one signature row per distinct id")
    legacy.foreach { case (id, sig) =>
      assert(prod(id) === sig, s"merged signature diverged for id=$id")
    }
    // and candidate generation sees ONE row for id 1: no duplicated pairs
    val pairs = graft.operators.MinHashLSH.candidatePairs(docs, "doc_id", "text",
      numPerms = NumPerms, bands = 4).collect()
    val keys = pairs.map(r => (r.getLong(0), r.getLong(1)))
    assert(keys.length === keys.distinct.length, "duplicate candidate pairs emitted")
  }

  test("numPerms accepts foldable INT expressions; non-int still refused") {
    import spark.implicits._
    val d = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    d.createOrReplaceTempView("mhs_fold")
    val lit16 = spark.sql(
      "SELECT graft_minhash_sig(toks, 16) s FROM mhs_fold").head.getSeq[Long](0)
    val cast16 = spark.sql(
      "SELECT graft_minhash_sig(toks, CAST(16 AS INT)) s FROM mhs_fold")
      .head.getSeq[Long](0)
    val arith16 = spark.sql(
      "SELECT graft_minhash_sig(toks, 8 * 2) s FROM mhs_fold")
      .head.getSeq[Long](0)
    assert(cast16 === lit16 && arith16 === lit16)
    val e = intercept[Exception] {
      spark.sql("SELECT graft_minhash_sig(toks, 16L) FROM mhs_fold").collect()
    }
    assert(e.getMessage.contains("foldable INT"))
  }

  test("geometryFor solves the Jaccard S-curve: smallest band count at the target") {
    import graft.operators.MinHashLSH.geometryFor
    // closed form: recall(J, r, b) = 1 - (1 - J^r)^b
    def recall(j: Double, r: Int, b: Int) =
      1.0 - math.pow(1.0 - math.pow(j, r), b)
    for ((t, tr, r) <- Seq((0.9, 0.95, 4), (0.7, 0.95, 3), (0.6, 0.9, 2))) {
      val g = geometryFor(t, tr, r)
      val (perms, bands) = (g.numPerms, g.bands)
      assert(perms === bands * r)
      assert(recall(t, r, bands) >= tr, s"($t,$tr,$r) under target")
      assert(bands == 1 || recall(t, r, bands - 1) < tr,
        s"($t,$tr,$r) not minimal")
    }
    intercept[IllegalArgumentException](geometryFor(1.0, 0.9))
    intercept[IllegalArgumentException](geometryFor(0.9, 0.0))
  }

  test("signature computation plan has no shuffle (the fusion's point)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = fusedSigs(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"fused signature plan should be shuffle-free, got:\n$plan")
  }
}
