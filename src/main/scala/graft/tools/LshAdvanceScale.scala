package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{LshBandIndex, MinHashLSH}

/** Scaling measurement for the LSH band index's append-only advance:
  * the claim behind a daily 100 TB ingest is that advancing the index
  * by a FIXED batch costs the same whether the indexed history holds
  * 10k or 500k documents — signatures are computed for the batch only,
  * the delta generation's write is batch-sized, and the only
  * history-touching step is the id-overlap semi-join against the
  * index's narrow `__id` column (no text, no signatures). The probe
  * that follows ([[MinHashLSH.incrementalPairs]]) reads band columns of
  * the chain, so its cost tracks the candidate collisions, not the
  * corpus row count.
  *
  * Output: one line per history size H — full-build seconds at H,
  * advance seconds for the fixed batch, probe seconds for a second
  * fixed batch against the advanced chain. `advance` flat in H is the
  * batch-sized-maintenance claim; `build` growing ~linearly in H is the
  * baseline it replaces.
  *
  *   sbt "runMain graft.tools.LshAdvanceScale 10000 100000 500000"
  */
object LshAdvanceScale {
  def main(args: Array[String]): Unit = {
    val sizes =
      if (args.nonEmpty) args.toSeq.map(_.toLong)
      else Seq(10000L, 100000L, 500000L)
    val spark = graft.GraftSession.local("graft-lsh-advance-scale")

    // synthetic docs with overlapping vocabulary so band collisions are
    // realistic (shared shingles across id neighborhoods)
    def docs(from: Long, until: Long): DataFrame =
      spark.range(from, until).select(col("id").as("doc_id"),
        expr("""concat_ws(' ', transform(sequence(0, 29),
                 j -> concat('w', CAST((id DIV 3) * 5 + j AS STRING))))""")
          .as("text"))

    def time[T](f: => T): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    val batch = 2000L
    // untimed warmup: JIT + codegen for the signature/band expressions,
    // so the first measured size isn't charged session startup
    locally {
      val k0 = s"lsh_adv_warm_${System.nanoTime()}"
      LshBandIndex.ensure(spark, docs(0, 2000), k0)
      LshBandIndex.advanceWithBatch(spark, k0, docs(2000, 3000))
    }
    sizes.foreach { h =>
      val key = s"lsh_adv_scale_${h}_${System.nanoTime()}"
      val hist = docs(0, h).localCheckpoint(true)
      val b1 = docs(h, h + batch).localCheckpoint(true)
      val b2 = docs(h + batch, h + 2 * batch).localCheckpoint(true)
      val tBuild = time(LshBandIndex.ensure(spark, hist, key))
      val tAdv = time(LshBandIndex.advanceWithBatch(spark, key, b1))
      val gen = LshBandIndex.currentGenPath(spark, key).get
      val tProbe = time {
        MinHashLSH.incrementalPairs(MinHashLSH.bandRows(b2),
          LshBandIndex.narrowBandsOf(spark, gen),
          LshBandIndex.sigsOf(spark, gen)).count()
      }
      println(f"LSHADV h=$h%-7d build=$tBuild%.2f advance=$tAdv%.2f " +
        f"probe=$tProbe%.2f (batch=$batch)")
    }

    // ── MHRECALL: the borderline-Jaccard frontier (the EMBRECALL leg
    // for the MinHash family). Plants are token-substituted copies of
    // history docs (per-position substitution rate (k+1)/30, k = id%4 —
    // landing word-3-shingle Jaccard across ~[0.3, 0.95]); TRUE Jaccard
    // is computed exactly per planted pair, recall measured per J bin
    // and pinned against the closed form 1 − (1 − Jʳ)ᵇ
    // ([[MinHashLSH.geometryFor]]). Band collision is per-PAIR, so the
    // measurement needs only targets ∪ plants, not the full corpus. ──
    val nPlants = 4000L
    val bR0 = 1L << 41
    val hR = math.min(sizes.max, 50000L)
    val batchR = spark.range(bR0, bR0 + nPlants).select(
      col("id").as("doc_id"),
      expr(s"""concat_ws(' ', transform(sequence(0, 29), j ->
        CASE WHEN pmod(xxhash64(id, j), 30) < CAST(id % 4 AS INT) + 1
             THEN concat('u', id, '_', j)
             ELSE concat('w', CAST(((pmod(id * 7919, ${hR}L)) DIV 3) * 5
               + j AS STRING)) END))""").as("text"))
      .localCheckpoint(true)
    val targets = spark.range(bR0, bR0 + nPlants)
      .select(pmod(col("id") * 7919, lit(hR)).as("doc_id")).distinct()
    val histTargets = docs(0, hR)
      .join(targets, Seq("doc_id"), "left_semi").localCheckpoint(true)
    def shingleSet(df: DataFrame, idAs: String): DataFrame = df
      .select(col("doc_id").as(idAs),
        split(lower(trim(regexp_replace(col("text"), "\\s+", " "))), " ")
          .as("toks"))
      .select(col(idAs), explode(array_distinct(expr(
        "transform(sequence(1, greatest(size(toks) - 2, 1)), " +
          "i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))"))).as("sh"))
    val sa = shingleSet(histTargets, "src")
      .groupBy("src").agg(count(lit(1)).as("na"))
    val sb = shingleSet(batchR, "dst")
      .groupBy("dst").agg(count(lit(1)).as("nb"))
    val common = shingleSet(histTargets, "src")
      .join(shingleSet(batchR, "dst"), "sh")
      .groupBy("src", "dst").agg(count(lit(1)).as("nc"))
    val truth = spark.range(bR0, bR0 + nPlants)
      .select(pmod(col("id") * 7919, lit(hR)).as("src"), col("id").as("dst"))
      .join(common, Seq("src", "dst"), "left")
      .join(sa, "src").join(sb, "dst")
      .select(col("src"), col("dst"),
        (coalesce(col("nc"), lit(0L)) /
          (col("na") + col("nb") - coalesce(col("nc"), lit(0L)))).as("j"))
      .localCheckpoint(true)
    val union = histTargets.unionByName(batchR).localCheckpoint(true)
    val bins = Seq((0.5, 0.6), (0.6, 0.7), (0.7, 0.8), (0.8, 0.9),
      (0.9, 1.01))
    Seq((16, 4), (24, 6), (24, 8), (32, 8)).foreach { case (perms, bands) =>
      val hits = MinHashLSH.candidatePairs(union, numPerms = perms,
          bands = bands)
        .select(col("src"), col("dst")).withColumn("hit", lit(1))
      val aggCols = bins.flatMap { case (lo, hi) =>
        val in = col("j") >= lo && col("j") < hi
        Seq(sum(when(in, 1).otherwise(0)).as(s"n_$lo"),
          sum(when(in && col("hit").isNotNull, 1).otherwise(0))
            .as(s"r_$lo"))
      }
      val row = truth.join(hits, Seq("src", "dst"), "left")
        .groupBy().agg(aggCols.head, aggCols.tail: _*).head()
      val r = perms / bands
      val cells = bins.zipWithIndex.map { case ((lo, hi), i) =>
        val n = row.getLong(2 * i); val rec = row.getLong(2 * i + 1)
        val meas = if (n == 0) Double.NaN else rec.toDouble / n
        // analytic LOWER bound at the bin floor (recall monotone in J)
        val ana = 1.0 - math.pow(1.0 - math.pow(lo, r), bands)
        f"[$lo%.1f,$hi%.1f):$rec/$n=$meas%.3f(ana≥$ana%.3f)"
      }
      println(s"MHRECALL perms=$perms bands=$bands r=$r " +
        cells.mkString(" "))
    }
    spark.stop()
  }
}
