package graft

import org.apache.spark.sql.functions._
import graft.queries.DedupExtQueries

/** dd6/dd7 run LSH-bucketed candidate generation; these specs pin the
  * property the driver oracle also checks — recall 1 vs an exhaustive
  * all-pairs scan — and that the physical plan really is an equi-join
  * (no BroadcastNestedLoopJoin / CartesianProduct over the corpus).
  */
class DedupLshSpec extends SparkSuite {

  test("bucketed dd6 equals the all-pairs formulation") {
    val corpus = DedupExtQueries.plantedCorpus(spark, sf)
    val a = corpus.select(col("vec_id").as("keep_id"), col("emb").as("ea"))
    val b = corpus.select(col("vec_id").as("dup_id"), col("emb").as("eb"))
    val allPairs = a.join(b, col("keep_id") < col("dup_id"))
      .withColumn("cs", expr("graft_cosine(ea, eb)"))
      .filter(col("cs") >= 0.95)
      .select("keep_id", "dup_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucketed = DedupExtQueries.queries("dd6_embedding_neardup")(spark, sf)
      .select("keep_id", "dup_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(allPairs.nonEmpty, "planted corpus must yield near-dup pairs")
    assert(bucketed == allPairs,
      s"missed=${(allPairs -- bucketed).take(5)} extra=${(bucketed -- allPairs).take(5)}")
  }

  test("candidate generation contains no nested-loop join over the corpus") {
    val plan = DedupExtQueries.queries("dd6_embedding_neardup")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.linesIterator.take(5).mkString("\n"))
    assert(!plan.contains("CartesianProduct"), plan.linesIterator.take(5).mkString("\n"))
  }

  test("candidate generation keeps recall 1 on planted near-dups across random corpora") {
    import spark.implicits._
    // 5 independently-seeded corpora: 80 pseudo-random vectors (dim 32)
    // each with 16 planted near-copies (±0.05% perturbation). Every
    // planted pair must appear among the LSH candidates — the bands=8
    // margin makes a miss at cos≈0.9999995 a ~1e-13 event per pair.
    (1 to 5).foreach { seed =>
      val base = (0 until 80).map { i =>
        (i.toLong, Array.tabulate(32)(j =>
          math.sin(seed * 7919 + i * 131 + j * 17) +
            0.3 * math.cos(seed * 31 + i * 13 * j)))
      }
      val copies = base.filter(_._1 % 5 == 0).map { case (id, v) =>
        (id + 1000L, v.zipWithIndex.map { case (x, j) =>
          x * (1.0 + ((id + j) % 11 - 5) * 1e-4 / 2)
        })
      }
      val corpus = (base ++ copies).toDF("id", "emb")
      val cand = graft.operators.CosineLsh
        .candidatePairs(corpus, "id", "emb", dim = 32)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val planted = base.filter(_._1 % 5 == 0).map(p => (p._1, p._1 + 1000L)).toSet
      val missed = planted -- cand
      assert(missed.isEmpty, s"seed $seed missed planted pairs: $missed")
    }
  }

  test("incremental LSH pairs equal full candidate pairs restricted to the batch") {
    import graft.operators.MinHashLSH
    val docs = graft.Tables.documents(spark, sf)
    val history = docs.filter(col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") >= 400)
    // band collision is a per-pair property, so probing the batch against
    // (history ∪ batch) bands must yield EXACTLY the full corpus pairs
    // that touch the batch — same ids, same est_jaccard
    val inc = MinHashLSH
      .incrementalPairs(MinHashLSH.bandRows(batch), MinHashLSH.bandRows(history))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = MinHashLSH.candidatePairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expected = full.filter(p => p._1 >= 400 || p._2 >= 400)
    assert(expected.nonEmpty, "restricted full-pairs scope must be non-vacuous")
    assert(inc == expected,
      s"missed=${(expected -- inc).take(5)} extra=${(inc -- expected).take(5)}")
    // and no history-only pair leaks into the incremental output
    assert(inc.forall(p => p._1 >= 400 || p._2 >= 400))
  }

  test("split-layout probe (narrow bands + candidate-only sig fetch) " +
    "equals the wide-history probe row for row") {
    import graft.operators.{LshBandIndex, MinHashLSH}
    val docs = graft.Tables.documents(spark, sf)
    val history = docs.filter(col("doc_id") < 400)
    val batchBands = MinHashLSH.bandRows(docs.filter(col("doc_id") >= 400))
    val wide = MinHashLSH
      .incrementalPairs(batchBands, MinHashLSH.bandRows(history))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val gen = LshBandIndex.ensure(spark, history, key = sf + "#hist400")
    val split = MinHashLSH.incrementalPairs(batchBands,
        LshBandIndex.narrowBandsOf(spark, gen),
        LshBandIndex.sigsOf(spark, gen))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(wide.nonEmpty, "identity scope must be non-vacuous")
    assert(split == wide,
      s"missed=${(wide -- split).take(5)} extra=${(split -- wide).take(5)}")
  }

  test("index generations persist the split layout: sigs one row per " +
    "doc, bands narrow (no sig column in the probe stream)") {
    import graft.operators.{LshBandIndex, MinHashLSH}
    val docs = graft.Tables.documents(spark, sf).filter(col("doc_id") < 400)
    val gen = LshBandIndex.ensure(spark, docs, key = sf + "#hist400")
    val sigs = spark.read.parquet(s"$gen/sigs")
    val bands = spark.read.parquet(s"$gen/bands")
    assert(sigs.columns.toSet == Set("__id", "sig"))
    assert(bands.columns.toSet == Set("__id", "band_id", "band_hash"),
      "band rows must not carry the signature — that is the probe-bytes diet")
    assert(sigs.count() == sigs.select("__id").distinct().count(),
      "sigs must hold exactly one row per document")
    // bands re-derived from the written sigs must equal the live banding
    val derived = MinHashLSH.narrowBandsFromSigs(sigs)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val live = MinHashLSH.bandRows(docs)
      .select("__id", "band_id", "band_hash")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(derived == live)
  }

  test("incremental probe plan has no nested-loop join and reuses the persisted index") {
    val out = DedupExtQueries.queries("dd13_incremental_neardup")(spark, sf)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.linesIterator.take(5).mkString("\n"))
    assert(!plan.contains("CartesianProduct"), plan.linesIterator.take(5).mkString("\n"))
    // the history side must come from the persisted band index (a parquet
    // scan under the LshBandIndex root), not a recompute over history text
    assert(plan.contains("graft_lsh_index"),
      "history bands should be read from the persisted index:\n" +
        plan.linesIterator.take(20).mkString("\n"))
  }

  test("portable family estimator concentrates on true Jaccard " +
    "(guards against order-preserving permutation families)") {
    import spark.implicits._
    import graft.operators.MinHashLSH
    // planted pairs at two true-Jaccard levels over word-3-shingles:
    // every-4th-word mutation destroys 3/4 of a 200-word doc's shingles
    // (J ≈ 0.138); 8 spaced mutations leave J ≈ 0.851. A min-wise
    // family's 16-position agreement must track these means. The
    // rejected no-modulus linear family (h1 + i·h2) failed exactly
    // this: its per-perm argmin walks the lower convex hull of the
    // (h2, h1) points, so a few shingles dominate every position and
    // agreement collapses to all-or-nothing (J≈0.14 pairs drew 16/16).
    def longText(seed: Int) =
      (0 until 200).map(j => s"w${seed}_$j").mkString(" ")
    val rows = (0 until 40).flatMap { s =>
      val base = longText(2000 + s)
      val lo = base.split(" ").zipWithIndex.map { case (w, p) =>
        if (p % 4 == 0) s"z${s}_$p" else w }.mkString(" ")
      val hi = base.split(" ").zipWithIndex.map { case (w, p) =>
        if (p >= 10 && (p - 10) % 25 == 0) s"y${s}_$p" else w }.mkString(" ")
      Seq((s * 10L, base), (s * 10L + 1, lo), (s * 10L + 2, hi))
    }
    val sigs = MinHashLSH.portableBandRows(rows.toDF("doc_id", "text"))
      .select(col("__id"), col("sig")).distinct()
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def est(a: Long, b: Long): Double =
      sigs(a).zip(sigs(b)).count(p => p._1 == p._2) / 16.0
    val lowEsts = (0 until 40).map(s => est(s * 10L, s * 10L + 1))
    val highEsts = (0 until 40).map(s => est(s * 10L, s * 10L + 2))
    val lowMean = lowEsts.sum / 40; val highMean = highEsts.sum / 40
    assert(lowMean > 0.05 && lowMean < 0.25,
      s"low-J (0.138) mean estimate off: $lowMean")
    assert(highMean > 0.65 && highMean < 0.95,
      s"high-J (0.851) mean estimate off: $highMean")
    // no low-J pair may cross the 13/16 dedup cut — under the broken
    // family ~J of them sat at exactly 16/16 and became "duplicates"
    assert(lowEsts.max < 0.8, s"low-J pair crossed the dedup cut: " +
      s"max=${lowEsts.max}")
  }

  test("dd7 clusters collapse each planted duplicate into its original") {
    val out = DedupExtQueries.queries("dd7_neardup_clusters")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val planted = out.keys.filter(_ >= DedupExtQueries.CopyIdOffset)
    assert(planted.nonEmpty)
    planted.foreach { cid =>
      assert(out(cid) == cid - DedupExtQueries.CopyIdOffset,
        s"copy $cid clustered to ${out(cid)}")
    }
  }
}
