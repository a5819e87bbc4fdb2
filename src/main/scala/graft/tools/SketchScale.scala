package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Two-point scaling measurement for the sketch operators (Misra–Gries
  * heavy hitters, deterministic quantile summary): generate a synthetic
  * long-tail corpus at 1× and `factor`×, time the sketch paths, and
  * re-verify the error contracts at both sizes. Near-linear runtime plus
  * bound-validity at the large point is the empirical backing for the
  * "summaries bounded per partition, raw rows never shuffle" claims —
  * a vocabulary-sized shuffle would blow up superlinearly with the
  * distinct count (here 100× rows carry ~100× distinct tail tokens).
  *
  *   sbt "runMain graft.tools.SketchScale 10"
  */
object SketchScale {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val spark = graft.GraftSession.local("graft-sketch-scale")
    import spark.implicits._

    // Skewed stream: 2/3 of rows carry a GEOMETRIC head — head_j has
    // probability 2^-(j+1) of the head mass (head_0 ≈ n/3, head_1 ≈ n/6,
    // …, head_10 ≈ n/1536), spanning well-above-bound through
    // below-bound frequencies — and 1/3 are unique tail singletons, so
    // the vocabulary grows linearly with scale as a real token stream's
    // does. (An earlier multiplicative-hash head was accidentally
    // uniform: 2654435761 ≡ 1 mod 40.)
    def corpus(size: Int): DataFrame = {
      val h = pmod(col("id") * 1103515245L + 12345L, lit(1024))
      val headIdx = (lit(10) - floor(log2(h + 1))).cast("int")
      spark.range(0, size.toLong)
        .select((when(pmod(col("id"), lit(3)) =!= 0,
          concat(lit("head_"), headIdx))
          .otherwise(concat(lit("tail_"), col("id")))).as("token"),
          (pmod(col("id") * 69069L + 1L, lit(1000000)).cast("double"))
            .as("v"))
        .repartition(32)
    }

    def time[T](what: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"SKETCHSCALE $what%-28s ${s}%7.2f s")
      (r, s)
    }

    val base = 300000
    Seq(1, factor).foreach { f =>
      val n = base * f
      val df = corpus(n).localCheckpoint(true) // exclude gen cost
      val k = 64
      val (hh, _) = time(s"heavy_hitters_${f}x") {
        graft.operators.HeavyHitters.approxCounts(df, "token", k)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      // contract re-check at scale: est ≤ exact, est ≥ exact − N/(k+1)
      val exact = df.filter(col("token").startsWith("head_"))
        .groupBy("token").agg(count(lit(1)).as("c")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val bound = n.toDouble / (k + 1)
      val ok = exact.forall { case (t, ex) =>
        val e = hh.getOrElse(t, 0L); e <= ex && e >= ex - bound
      }
      println(s"SKETCHSCALE heavy_hitters_${f}x bounds_ok=$ok " +
        s"(${exact.size} head tokens, vocab≈${n / 3})")

      val qs = Seq(0.1, 0.5, 0.9)
      val (qv, _) = time(s"quantile_sketch_${f}x") {
        graft.operators.QuantileSketch.quantiles(df, "v", 0.01, qs)
          .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
      }
      val eps = 0.01
      val qok = qs.forall { q =>
        val v = qv(q)
        val lo = df.filter(col("v") < v).count()
        val hi = df.filter(col("v") <= v).count()
        lo <= q * n + eps * n && hi >= q * n - eps * n
      }
      println(s"SKETCHSCALE quantile_sketch_${f}x rank_interval_ok=$qok")
      df.unpersist()
    }
    spark.stop()
  }
}
