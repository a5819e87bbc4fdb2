package graft

import java.util.Base64
import org.apache.spark.sql.functions._
import graft.functions.BloomContains
import graft.operators.BloomDedup

/** BloomDedup invariants: exactness (row-identical to the plain
  * anti-join), the no-false-negative guarantee the routing relies on,
  * and that the prefilter actually prunes the join input (the whole
  * point at scale). */
class BloomDedupSpec extends SparkSuite {

  private def docs = spark.read.parquet(s"$sf/documents.parquet")

  test("newRows is row-identical to the plain anti-join") {
    val history = docs.filter(col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") >= 400)
    val got = BloomDedup.newRows(batch, history, "text", expectedItems = 400L)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val want = batch.join(history.select("text").distinct(), Seq("text"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("no false negatives: every history row probes maybe-seen") {
    val history = docs.filter(col("doc_id") < 400)
    val rehearsal = BloomDedup.newRows(history, history, "text",
      expectedItems = 400L)
    assert(rehearsal.isEmpty,
      "a history row passed the bloom as definitely-new: false negative")
  }

  test("the bloom prunes most genuinely-new rows away from the join") {
    val history = docs.filter(col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") >= 400)
    val bloom = history.select(xxhash64(col("text")).as("_fp"))
      .stat.bloomFilter("_fp", 400L, 0.03)
    val b64 = Base64.getEncoder.encodeToString(BloomContains.serialize(bloom))
    val routed = batch
      .withColumn("_maybe", expr(s"graft_bloom_contains(xxhash64(text), '$b64')"))
    val nBatch = batch.count()
    val nJoinPath = routed.filter(col("_maybe")).count()
    val nTrueDups = batch.join(history.select("text").distinct(),
      Seq("text"), "left_semi").count()
    // join input = true dups + false-positive sliver; at fpp=0.03 the
    // sliver should stay far below the batch (allow 5x slack on fpp)
    assert(nJoinPath - nTrueDups <= math.max(3L, (0.15 * nBatch).toLong),
      s"bloom false-positive rate too high: $nJoinPath routed, " +
        s"$nTrueDups true dups, batch $nBatch")
    assert(nJoinPath < nBatch,
      "bloom routed the entire batch to the join path — prefilter inert")
  }
}
