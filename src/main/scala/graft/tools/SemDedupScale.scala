package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.SemDedup

/** Scaling measurement for SemDeDup semantic dedup: synthetic corpus at
  * 1× and `factor`× with the centroid count growing WITH the corpus
  * (K = N/100 — the paper's scale contract, which holds expected cell
  * size constant), planted near-identical copies on every 20th vector.
  *
  * Two claims under test:
  *
  *   1. The within-cell pair stage is LINEAR: Σ(cell²) ≈ N × cellSize,
  *      pinned when K ∝ N. A fixed K would grow cells with the corpus
  *      and the pair stage quadratically — the failure mode a
  *      superlinear pair count would expose.
  *   2. Assignment cost tracks the FLOP count, not a row count: the
  *      fused NearestCentroid kernel makes assign N × K × dim FMAs at
  *      matrix rate (with K ∝ N that flops bill is inherently
  *      quadratic — the SemDeDup paper pays the same N×K on GPUs).
  *      Measured at mult=10 (N=220k, K=2000): 7.2 s end-to-end, where
  *      the rejected crossJoin+min_by spelling paid ~100 ns of
  *      join/agg machinery PER EXPANDED ROW — 553 s, 77× slower.
  *
  * Both points also re-verify the dedup contract: every planted
  * same-cell pair keeps exactly one member.
  *
  * A second argument sets the two-level probe width (0 = exact scan):
  * `nprobe=4` cuts per-row assignment work from K to ~5√K dot products
  * — the N^1.5 scale path when K ∝ N — and the one-survivor contract
  * must still hold verbatim (near-identical embeddings probe
  * near-identical group lists, so planted pairs still co-assign).
  *
  * Measured (local[32], this tool): at mult=100 (N=2.2M, K=20k) the
  * exact scan is 281 s and nprobe=4 is 24.4 s — 11.5× — with the
  * same-cell rate 99.8% vs 99.9% exact and the one-survivor contract
  * exact in both (99826/99826 probed, 99889/99889 exact). Probe-mode
  * wall grows 6.7× across the 100× corpus (3.6 s → 24.4 s).
  *
  *   sbt "runMain graft.tools.SemDedupScale 10"     // exact
  *   sbt "runMain graft.tools.SemDedupScale 100 4"  // nprobe=4
  */
object SemDedupScale {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val nprobe = args.drop(1).headOption.map(_.toInt).getOrElse(0)
    val spark = graft.GraftSession.local("graft-sem-dedup-scale")

    val baseN = 20000L
    val CopyOffset = 1L << 40

    // deterministic pseudo-random vectors: dim 64, component (i, j)
    // through xxhash64 — a linear-congruential mix here makes every
    // vector a phase of one sawtooth (all pairwise cosines ≈ 0.9999,
    // measured) and the prune degenerates; real hashing keeps the
    // corpus near-orthogonal like actual embeddings
    def corpus(n: Long): DataFrame = {
      val base = spark.range(0, n).select(col("id").as("vec_id"),
        expr("""transform(sequence(0, 63), j ->
                 CAST(xxhash64(vec_id, j) % 1000 AS DOUBLE) / 1000.0)""")
          .as("emb"))
      val copies = base.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + CopyOffset).as("vec_id"), expr(
          "transform(emb, (x, j) -> x * (1.0 + ((((vec_id + 1) * (j + 7)) % 13 - 6) * 0.0002)))")
          .as("emb"))
      base.unionByName(copies).repartition(32)
    }

    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    Seq(1, factor).foreach { mult =>
      val n = baseN * mult
      val k = (n / 100).toInt
      val c = corpus(n).localCheckpoint(true)
      val cents = c.filter(col("vec_id") % 100 === 0)
        .filter(col("vec_id") < CopyOffset)
        .select(col("vec_id").as("cid"), col("emb").as("cvec"))
      val (out, t) = time {
        val assigned =
          SemDedup.assignBroadcast(c, "vec_id", "emb", cents, nprobe)
        val pruned = SemDedup.prune(assigned, "vec_id", "emb", 0.97)
          .localCheckpoint(true)
        pruned
      }
      val orig = out.filter(col("vec_id") < CopyOffset)
        .select(col("vec_id").as("oid"), col("cluster").as("ocl"),
          col("is_kept").as("okept"))
      val copy = out.filter(col("vec_id") >= CopyOffset)
        .select((col("vec_id") - CopyOffset).as("oid"),
          col("cluster").as("ccl"), col("is_kept").as("ckept"))
      val joined = orig.join(copy, "oid")
      val pairs = joined.count()
      val sameCell = joined.filter(col("ocl") === col("ccl"))
      val nSame = sameCell.count()
      val oneKept = sameCell
        .filter(col("okept") =!= col("ckept")).count()
      require(oneKept == nSame,
        s"mult=$mult: $oneKept/$nSame same-cell pairs kept exactly one")
      println(f"SEMDEDUPSCALE mult=$mult n=$n k=$k nprobe=$nprobe wall=$t%.2fs " +
        f"pairs=$pairs sameCell=$nSame (${100.0 * nSame / pairs}%.1f%%) " +
        s"oneKept=$oneKept")
      c.unpersist()
    }
    spark.stop()
  }
}
