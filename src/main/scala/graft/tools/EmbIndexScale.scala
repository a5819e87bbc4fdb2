package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{CosineLsh, CosineLshIndex}

/** Scaling + geometry-frontier measurement for the INCREMENTAL embedding
  * near-dup path (dd16 / [[graft.operators.CosineLshIndex]]). Three legs:
  *
  *  1. `EMBIDX` — the LshAdvanceScale shape for vectors: build a history
  *     index at several sizes, advance it with a fixed batch, probe a
  *     second fixed batch. Claims under test: `advance` is O(batch) and
  *     `probe` is flat in history (narrow 24 B key rows scan; vectors
  *     fetched for candidate ids only). Runs at the shipped DEFAULT
  *     geometry, so the default's candidate growth is what's measured.
  *  2. `EMBRECALL` — the geometry FRONTIER: plants BORDERLINE pairs
  *     (cosine 0.94-0.99, ε-jittered — not the ~0.9999 near-exact plants
  *     every width recalls trivially), probes them at each candidate
  *     geometry, and reports measured vs analytic recall per cosine bin.
  *     Recall of sign-RP LSH is a per-PAIR property (band collision
  *     depends only on the pair's plane agreements), so one moderate
  *     history size measures the frontier for every corpus size.
  *  3. `EMBGEO` — chance-candidate growth at the largest history across
  *     the same geometries: the linear-in-corpus term is ~bands·2^-bits
  *     per cross pair, so this leg prices what EMBRECALL's recall buys.
  *
  *   sbt "runMain graft.tools.EmbIndexScale 10000 100000 500000"
  */
object EmbIndexScale {
  /** Geometries swept by the recall/candidate legs: the r14 default
    * (8×16), width-only variants at 8 bands, and the analytic picks
    * that hold recall at threshold 0.95 (see
    * [[CosineLshIndex.geometryFor]]). */
  private val Geometries: Seq[(Int, Int)] =
    Seq((8, 16), (8, 24), (8, 32), (16, 24), (29, 24), (38, 24))

  def main(args: Array[String]): Unit = {
    val sizes =
      if (args.nonEmpty) args.toSeq.map(_.toLong)
      else Seq(10000L, 100000L, 500000L)
    val spark = graft.GraftSession.local("graft-emb-index-scale")

    // deterministic 64-dim corpus of hash-UNIQUE vectors (pairwise
    // cosine ~0 — near-dup LSH presumes near-dups are RARE; a clustered
    // corpus turns 1/k of the table into mutual candidates, which is
    // true-pair growth, not probe cost). Seeded per (id, dim) so a
    // planted batch vector can point at any history seed.
    def embExpr(seed: String): String =
      s"transform(sequence(0, 63), i -> " +
        s"sin(CAST(pmod(xxhash64($seed, i), 100000L) AS DOUBLE) * 0.001D))"
    def vecs(from: Long, until: Long): DataFrame =
      spark.range(from, until).select(col("id").as("vec_id"),
        expr(embExpr("id")).as("emb"))
    // batch with PLANTED near-dups: every 5th id is a per-dim-jittered
    // copy of a pseudo-random history vector (cosine ≈ 0.9999 — NOT a
    // uniform scale, which leaves cosine at exactly 1.0 and every sign
    // bit unchanged, trivializing recall at any geometry); the rest
    // are fresh unique vectors
    def batchWithPlants(from: Long, until: Long, h: Long): DataFrame =
      spark.range(from, until).select(col("id").as("vec_id"),
        expr(s"CASE WHEN id % 5 = 0 THEN transform(" +
          embExpr(s"pmod(id * 7919, ${h}L)") +
          ", (x, j) -> x * (1.0D + 0.0008D * CAST((id + j) % 5 - 2 AS DOUBLE))) " +
          s"ELSE ${embExpr("id")} END").as("emb"))

    def time[T](f: => T): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    val batch = 2000L
    locally { // untimed JIT/codegen warmup — including the PROBE path
      // (r15: the EMBIDX probe column carried ~4 s of first-call
      // planning/codegen per fresh index key before any corpus work)
      val k0 = s"emb_warm_${System.nanoTime()}"
      CosineLshIndex.ensure(spark, vecs(0, 2000), k0)
      CosineLshIndex.advanceWithBatch(spark, k0, vecs(2000, 3000))
      val g0 = CosineLshIndex.currentGenPath(spark, k0).get
      CosineLshIndex.incrementalPairs(vecs(3000, 3500), "vec_id", "emb",
        CosineLshIndex.narrowKeysOf(spark, g0),
        CosineLshIndex.vecsOf(spark, g0)).count()
    }

    // ── leg 1: EMBIDX scaling at the shipped default geometry ──────────
    sizes.foreach { h =>
      val key = s"emb_scale_${h}_${System.nanoTime()}"
      val hist = vecs(0, h).localCheckpoint(true)
      val b1 = vecs(h, h + batch).localCheckpoint(true)
      val b2 = batchWithPlants(h + batch, h + 2 * batch, h)
        .localCheckpoint(true)
      val tBuild = time(CosineLshIndex.ensure(spark, hist, key))
      val tAdv = time(CosineLshIndex.advanceWithBatch(spark, key, b1))
      val gen = CosineLshIndex.currentGenPath(spark, key).get
      var nPairs = 0L; var nDup = 0L
      val tProbe = time {
        val p = CosineLshIndex.incrementalPairs(b2, "vec_id", "emb",
          CosineLshIndex.narrowKeysOf(spark, gen),
          CosineLshIndex.vecsOf(spark, gen)).localCheckpoint(true)
        nPairs = p.count()
        nDup = p.filter(col("cs") >= 0.95).count()
      }
      println(f"EMBIDX geom=${CosineLshIndex.DefaultBands}x" +
        f"${CosineLshIndex.DefaultRowsPerBand} h=$h%-7d build=$tBuild%.2f " +
        f"advance=$tAdv%.2f probe=$tProbe%.2f candidates=$nPairs " +
        f"neardups=$nDup (batch=$batch planted=${batch / 5})")
    }

    // ── leg 2: EMBRECALL — the borderline frontier ─────────────────────
    // Plants at CONTROLLED cosine: v' = v + ε·u with u pseudo-random in
    // [-1, 1] per (id, dim) and ε cycling a ladder that lands measured
    // cosines across [0.94, 0.995]. Ground truth is the planted mapping
    // itself (batch id i targets history id (i·7919) mod h), so recall
    // needs no all-pairs oracle: exact cosine per planted pair, binned,
    // and a probe hit means the pair survived the band equi-join.
    val hR = math.min(sizes.max, 100000L)
    val nPlants = 4000L
    val bR0 = 1L << 41 // disjoint from every history/batch id above
    val histR = vecs(0, hR).localCheckpoint(true)
    val epsLadder = "array(0.20D, 0.26D, 0.30D, 0.34D, 0.38D, 0.42D, 0.46D, 0.52D)"
    val uExpr = // uniform in [-1, 1], deterministic per (id, dim)
      "(CAST(pmod(xxhash64(vec_id, j + 4096), 2001L) AS DOUBLE) - 1000.0D) / 1000.0D"
    val batchR = spark.range(bR0, bR0 + nPlants)
      .select(col("id").as("vec_id"),
        expr(s"element_at($epsLadder, CAST(id % 8 AS INT) + 1)").as("eps"),
        expr(embExpr(s"pmod(id * 7919, ${hR}L)")).as("base"))
      .select(col("vec_id"),
        expr(s"transform(base, (x, j) -> x + eps * ($uExpr))").as("emb"))
      .localCheckpoint(true)
    val truth = batchR.select(col("vec_id").as("dst"),
        pmod(col("vec_id") * 7919, lit(hR)).as("src"), col("emb").as("eb"))
      .join(histR.select(col("vec_id").as("src"), col("emb").as("ea")),
        Seq("src"))
      .select(col("src"), col("dst"),
        expr("graft_cosine(ea, eb)").as("cs"))
      .filter(col("cs") >= 0.94)
      .localCheckpoint(true)
    val bins = Seq((0.94, 0.95), (0.95, 0.96), (0.96, 0.97), (0.97, 0.98),
      (0.98, 0.99), (0.99, 1.01))
    // analytic recall at the bin FLOOR — a lower bound for every pair
    // in the bin (recall is monotone in cosine), so measured < analytic
    // flags a real implementation gap, never bin-midpoint slop
    def analyticRecall(cosLo: Double, bands: Int, rpb: Int): Double = {
      val p = 1.0 - math.acos(math.min(cosLo, 1.0)) / math.Pi
      1.0 - math.pow(1.0 - math.pow(p, rpb), bands)
    }
    Geometries.foreach { case (bands, rpb) =>
      val key = s"emb_recall_${bands}_${rpb}_${System.nanoTime()}"
      CosineLshIndex.ensure(spark, histR, key, bands = bands,
        rowsPerBand = rpb)
      val gen = CosineLshIndex.currentGenPath(spark, key,
        bands = bands, rowsPerBand = rpb).get
      val hits = CosineLshIndex.incrementalPairs(batchR, "vec_id", "emb",
          CosineLshIndex.narrowKeysOf(spark, gen, bands, rpb),
          CosineLshIndex.vecsOf(spark, gen, bands, rpb),
          bands = bands, rowsPerBand = rpb)
        .select(col("src"), col("dst")).withColumn("hit", lit(1))
      val aggCols = bins.flatMap { case (lo, hi) =>
        val in = col("cs") >= lo && col("cs") < hi
        Seq(sum(when(in, 1).otherwise(0)).as(s"n_$lo"),
          sum(when(in && col("hit").isNotNull, 1).otherwise(0))
            .as(s"r_$lo"))
      }
      val perBin = truth.join(hits, Seq("src", "dst"), "left")
        .groupBy().agg(aggCols.head, aggCols.tail: _*).head()
      val cells = bins.zipWithIndex.map { case ((lo, hi), i) =>
        val n = perBin.getLong(2 * i); val r = perBin.getLong(2 * i + 1)
        val meas = if (n == 0) Double.NaN else r.toDouble / n
        val ana = analyticRecall(lo, bands, rpb)
        f"[$lo%.2f,$hi%.2f):$r/$n=$meas%.3f(ana≥$ana%.3f)"
      }
      println(s"EMBRECALL bands=$bands rowsPerBand=$rpb h=$hR " +
        cells.mkString(" "))
    }

    // ── leg 3: EMBGEO — chance-candidate growth at the largest size ────
    // The candidate set's linear-in-corpus term is chance band
    // collisions (~bands·2^-bits per pair) — widening bands cuts it 2×
    // per bit; EMBRECALL above prices what that width costs in
    // borderline recall (near-exact ~0.9999 plants keep colliding at
    // every width: per-plane disagreement ~1e-2, so even 32-bit bands
    // agree with p≈0.72 and 8 bands all-miss with p≈3e-5). This is the
    // dd16 dial: precision from band WIDTH, recall from band COUNT,
    // correctness from neither (exact cosine settles candidates).
    val hG = sizes.max
    val histG = vecs(0, hG).localCheckpoint(true)
    val bG = batchWithPlants(hG, hG + batch, hG).localCheckpoint(true)
    Geometries.foreach { case (bands, rpb) =>
      val key = s"emb_geo_${bands}_${rpb}_${System.nanoTime()}"
      val tBuild = time(CosineLshIndex.ensure(spark, histG, key,
        bands = bands, rowsPerBand = rpb))
      val gen = CosineLshIndex.currentGenPath(spark, key,
        bands = bands, rowsPerBand = rpb).get
      var nPairs = 0L; var nDup = 0L
      val tProbe = time {
        val p = CosineLshIndex.incrementalPairs(bG, "vec_id", "emb",
          CosineLshIndex.narrowKeysOf(spark, gen, bands, rpb),
          CosineLshIndex.vecsOf(spark, gen, bands, rpb),
          bands = bands, rowsPerBand = rpb).localCheckpoint(true)
        nPairs = p.count()
        nDup = p.filter(col("cs") >= 0.95).count()
      }
      println(f"EMBGEO bands=$bands rowsPerBand=$rpb h=$hG build=$tBuild%.2f " +
        f"probe=$tProbe%.2f candidates=$nPairs neardups=$nDup " +
        f"(planted=${batch / 5})")
    }
    spark.stop()
  }
}
