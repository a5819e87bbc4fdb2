package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.CanonicalSelect

/** Corpus-scale posture of the canonical-selection PAIR stage (r14
  * verdict #4): the exact gram equi-join's candidate volume is
  * Σ_g df_g·(df_g−1)/2 — quadratic in any hot gram's document frequency
  * — while banded MinHash candidates are governed by per-pair band
  * collisions (true dups + a geometry-bounded chance rate). This tool
  * builds corpora with 10% planted near-dups AND a boilerplate header
  * shared by 30% of docs (the crawl-header/license-line reality that
  * detonates the gram join), then per size reports:
  *
  *  - `gram_pairs`: the exact pair-stage volume Σ df·(df−1)/2 over
  *    3-grams, computed from the df histogram (never materialized —
  *    at the sizes where it matters it CANNOT be);
  *  - `gram_pairs_capped`: the same with the df ≤ 64 cap
  *    ([[CanonicalSelect.gramJaccardPairs]]'s guard);
  *  - `mh_cands`: materialized banded-MinHash candidate count
  *    ([[CanonicalSelect.minhashPairs]] pre-threshold volume);
  *  - `select_s`: wall seconds for the FULL corpus-scale path
  *    (minhashPairs → ConnectedComponents → per-cluster argmax).
  *
  *   sbt "runMain graft.tools.CanonSelScale 20000 80000 320000"
  */
object CanonSelScale {
  def main(args: Array[String]): Unit = {
    val sizes =
      if (args.nonEmpty) args.toSeq.map(_.toLong)
      else Seq(20000L, 80000L, 320000L)
    val spark = graft.GraftSession.local("graft-canon-sel-scale")

    // synthetic corpus: ~40-token docs of hash-drawn words; every 10th
    // doc is a near-copy of a pseudo-random earlier doc (one word
    // substituted per 8 — Jaccard ~0.8); 30% of docs share a verbatim
    // boilerplate header (the hot-gram source)
    def corpus(n: Long): DataFrame = {
      val words = "transform(sequence(0, 39), w -> concat('w', " +
        "pmod(xxhash64(seed, w), 50000L)))"
      spark.range(0, n).select(col("id").as("doc_id"),
        when(col("id") % 10 === 0, pmod(col("id") * lit(6364136223846793005L),
            lit(1000000007L)) % greatest(col("id"), lit(1L)))
          .otherwise(col("id")).as("seed"))
        .select(col("doc_id"),
          concat(
            when(col("doc_id") % 10 < 3,
              lit("all rights reserved terms of service apply to this page "))
              .otherwise(lit("")),
            concat_ws(" ", expr(words)),
            // the substitution that keeps planted copies NEAR-dups
            when(col("doc_id") % 10 === 0,
              concat(lit(" x"), pmod(col("doc_id"), lit(97)))).otherwise(lit("")))
            .as("text"))
    }

    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    locally { // JIT warmup
      val w = corpus(2000).localCheckpoint(true)
      CanonicalSelect.minhashPairs(w).count()
    }
    sizes.foreach { n =>
      val docs = corpus(n).localCheckpoint(true)
      // df histogram over distinct 3-grams per doc — the exact join's
      // volume, computed without forming a single pair
      val df3 = docs.select(col("doc_id"), explode(array_distinct(expr(
          "transform(sequence(1, greatest(length(text) - 2, 1)), " +
            "i -> substring(text, i, 3))"))).as("g"))
        .groupBy("g").agg(count(lit(1)).as("df"))
        .localCheckpoint(true)
      val gramPairs = df3
        .agg(sum(col("df") * (col("df") - 1) / 2)).head().getDouble(0)
      val gramPairsCapped = df3.filter(col("df") <= 64)
        .agg(coalesce(sum(col("df") * (col("df") - 1) / 2), lit(0.0)))
        .head().getDouble(0)
      val (mhCands, _) = time(
        graft.operators.MinHashLSH.candidatePairs(docs).count())
      val (_, tSel) = time {
        val pairs = CanonicalSelect.minhashPairs(docs)
        val q = docs.select(col("doc_id"),
          (length(col("text")) % 100).cast("double").as("q_score"))
        CanonicalSelect.run(docs.select("doc_id"), pairs, q).count()
      }
      println(f"CANONSEL n=$n%-7d gram_pairs=$gramPairs%.3g " +
        f"gram_pairs_capped=$gramPairsCapped%.3g mh_cands=$mhCands " +
        f"select_s=$tSel%.2f")
    }
    spark.stop()
  }
}
