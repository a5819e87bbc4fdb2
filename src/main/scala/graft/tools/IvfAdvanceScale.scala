package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.IvfIndex
import graft.store.SnapshotStore

/** Scaling measurement for incremental index advance: full IVF-PQ
  * build over an N-vector corpus vs advancing the same index by an
  * N/100 batch, three ways —
  *
  *   - `build`: train + code + write everything (the retrain baseline);
  *   - `advance`: snapshot-keyed advance (content-diff delta detection
  *     — the corpus-sized residual — then batch-sized encode+write);
  *   - `advance_batch`: caller-asserted delta (count check only; the
  *     truly batch-sized path).
  *
  * The claim: advance ≪ build, advance_batch ≪ advance, and the
  * chained index serves the full corpus (count re-verified).
  *
  * Measured (local[32], n=200k, nb=2k): build 12.3 s, advance 7.6 s,
  * advance_batch 2.4 s. The structural reading matters more than the
  * local ratios (fixed job overhead floors every number here): build
  * rewrites the whole corpus, advance's residual corpus cost is two
  * narrow content-diff scans, advance_batch touches ONLY the batch —
  * the only mode whose cost is flat in corpus size.
  *
  *   sbt "runMain graft.tools.IvfAdvanceScale 200000"
  */
object IvfAdvanceScale {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(200000L)
    val spark = graft.GraftSession.local("graft-ivf-advance-scale")

    def corpus(from: Long, until: Long): DataFrame =
      spark.range(from, until).select(col("id").as("vec_id"),
        expr("""transform(sequence(0, 63), j ->
                 CAST(xxhash64(vec_id, j) % 1000 AS DOUBLE) / 1000.0)""")
          .as("emb"))

    def time(f: => String): (String, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val nb = math.max(n / 100, 1L)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_ivf_advance_scale").toString

    // full build at N
    val rootA = s"$tmp/storeA"
    SnapshotStore.commit(spark, rootA)(d => corpus(0, n).write.parquet(d))
    val (g1, tBuild) = time(
      IvfIndex.ensureForSnapshot(spark, rootA, embCol = "emb"))

    // snapshot-keyed advance by nb rows (content-diff detection)
    SnapshotStore.commit(spark, rootA)(d => corpus(0, n + nb).write.parquet(d))
    val (g2, tAdvance) = time(
      IvfIndex.advanceForSnapshot(spark, rootA, embCol = "emb"))
    require(g2 != g1 && IvfIndex.cells(spark, g2).count() == n + nb,
      "advance must chain and serve the full corpus")

    // caller-asserted advance by another nb rows
    SnapshotStore.commit(spark, rootA)(d =>
      corpus(0, n + 2 * nb).write.parquet(d))
    val (g3, tBatch) = time(
      IvfIndex.advanceWithBatch(spark, rootA,
        corpus(n + nb, n + 2 * nb), embCol = "emb"))
    require(g3 != g2 && IvfIndex.cells(spark, g3).count() == n + 2 * nb,
      "advanceWithBatch must chain and serve the full corpus")

    println(f"IVFADVANCESCALE n=$n nb=$nb build=$tBuild%.1fs " +
      f"advance=$tAdvance%.1fs advance_batch=$tBatch%.1fs " +
      f"speedup=${tBuild / tAdvance}%.1fx batch_speedup=${tBuild / tBatch}%.1fx")
    spark.stop()
  }
}
