package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ONE-SCALE-UP bench leg (r12 verdict #9): every scaling argument in
  * BASELINE.md rests on sf0.1 plus targeted scale tools — this runs the
  * flagship READ queries end-to-end at sf1 (a deterministic 10× copy of
  * sf0.1: ~6M lineitem, ~600k documents) and records the sf0.1 → sf1
  * first-run ratio per query, catching superlinear residues the
  * microbenches miss. Ratios ≲ 10× mean the plan scaled no worse than
  * the data; a ~100× outlier is a quadratic stage.
  *
  * The 10× copy keeps join keys consistent (customer/orders/lineitem
  * offset together; events users offset; documents get the ScaleProof
  * per-copy suffix so exact-dup groups don't collapse across copies)
  * and keeps the DIMENSION tables 1× (part/supplier/nation/region) —
  * dims grow slower than facts in every warehouse, and the broadcast
  * strategy under test should keep holding.
  *
  *   sbt "runMain graft.tools.Sf1Bench /root/testdata/sf0.1 /tmp/graft_sf1"
  *
  * WRITE LEG (r13 verdict #2 — every 100 TB write-path claim rested on
  * ≤1.3M-row soaks): `--writes` as the 3rd arg runs the write-gate
  * shapes instead — SCD2 regioned merge (O(current+churn)), optimize
  * Z-order rewrite, the incremental-curation publish composite, the
  * silver stats-skipping world, and the streaming curate sink. Their
  * worlds build COLD on both sides of the ratio: the fixture-world
  * cache is pointed at a throwaway root for the run, and the process
  * should be launched with fresh GRAFT_LSH_INDEX_DIR /
  * GRAFT_TEXT_INDEX_DIR so no prior JVM's persisted index serves the
  * sf0.1 side a discount the sf1 side doesn't get. A JIT warmup pass
  * runs each gate at sf0.001 first (worlds for that sf land in the
  * same throwaway root), so the sf0.1 leg isn't charged codegen.
  *
  *   GRAFT_LSH_INDEX_DIR=$(mktemp -d) sbt "runMain graft.tools.Sf1Bench \
  *     /root/testdata/sf0.1 /tmp/graft_sf1 --writes"
  */
object Sf1Bench {
  private val Off = 10000000L

  private val DefaultQueries = Seq(
    "q1_agg", "p8_outlier_4sigma", "j1_broadcast_dim", "j2_stats_backjoin",
    "w1_dedup_latest", "o1_topk", "a6_distinct_count", "g4_pivot",
    "aj1_asof_join", "rj1_range_join", "sw1_session_window", "sw2_funnel",
    "dd1_dedup_exact", "dd4_minhash_lsh", "dd6_embedding_neardup",
    "dd7_neardup_clusters", "tx10_tfidf", "gr1_pagerank", "v2_ann_topk",
    "cp1_corpus_curate")

  private val WriteQueries = Seq(
    "s4_first_load", "s6_scd2_merge", "s6b_scd2_regioned",
    "s7b_optimize_zorder", "s11_dynamic_overwrite",
    "s19_incremental_curate_publish", "s24_silver_stats_skipping",
    "st11_stream_curate")

  /** INDEX-PROBE leg (r14 verdict #5): the persisted-index probe family's
    * flatness claims rest on synthetic-corpus tools (CurateIncrScale /
    * EmbIndexScale at 2M rows); this leg measures the same probe shapes
    * on the driver's own testdata at 10×. Two parts: (a) the
    * corpus-scaling GATES (dd16 / s27 / cp6 — their input tables grow
    * with sf) run cold then warm on both sides, warm = the probe over a
    * memoized world/index; (b) constructed probe SHAPES for the
    * gate-capped families (dd13/s17's corpus is oracle-bounded at
    * doc_id < 1000, so the gate itself cannot scale): a full-corpus
    * LshBandIndex / TextIndex is ensured per sf and a FIXED batch probes
    * it, so the ratio isolates probe growth at 10× history. */
  private val IndexGateQueries = Seq("dd16_incremental_embed_neardup",
    "s27_emb_index_advance", "cp6_incremental_curate")

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_sf1")
    val writesMode = args.lift(2).contains("--writes")
    val indexMode = args.lift(2).contains("--index")
    val queries =
      if (writesMode) WriteQueries
      else if (indexMode) IndexGateQueries
      else if (args.length > 2) args.drop(2).toSeq
      else DefaultQueries
    if (writesMode)
      // cold worlds on BOTH sides of the ratio: no world published by a
      // prior JVM (or the read leg) may serve either sf a discount
      graft.fixtures.WorldCache.cacheRootOverride = Some(
        java.nio.file.Files.createTempDirectory("graft_sf1_worlds").toFile)
    val spark = graft.GraftSession.local("graft-sf1-bench")

    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def table(name: String): DataFrame =
      spark.read.parquet(s"$base/$name.parquet")
    def write(name: String, df: DataFrame): Unit = {
      val t = new org.apache.hadoop.fs.Path(s"$out/$name.parquet")
      if (!fs.exists(t)) df.write.parquet(t.toString)
    }
    def tenX(name: String)(copy: (DataFrame, Int) => DataFrame): Unit =
      write(name, (0 until 10).map(k => copy(table(name), k))
        .reduce(_.unionByName(_)))

    // facts 10x with consistent keys; dims copied 1x
    Seq("region", "nation", "supplier", "part").foreach(n =>
      write(n, table(n)))
    tenX("customer")((d, k) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(k * Off)))
    tenX("orders")((d, k) => d
      .withColumn("o_orderkey", col("o_orderkey") + lit(k * Off))
      .withColumn("o_custkey", col("o_custkey") + lit(k * Off)))
    tenX("lineitem")((d, k) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(k * Off)))
    tenX("events")((d, k) => d
      .withColumn("event_id", col("event_id") + lit(k * Off))
      .withColumn("user_id", col("user_id") + lit(k * Off)))
    tenX("embeddings")((d, k) =>
      d.withColumn("vec_id", col("vec_id") + lit(k * Off)))
    tenX("documents")((d, k) => d.select(
      (col("doc_id") + lit(k * Off)).as("doc_id"),
      (if (k == 0) col("text")
       else concat(col("text"), lit(s" copytoken$k"))).as("text"),
      col("lang"), col("source"),
      (col("n_chars") +
        lit(if (k == 0) 0L else s" copytoken$k".length.toLong))
        .as("n_chars")))

    def time(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      try graft.SparkEntry.queries(name)(spark, dir).count()
      catch { case e: Throwable =>
        System.err.println(s"[sf1bench] $name failed at $dir: $e")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }
    if (indexMode) {
      // JIT warmup at the smallest sf (gates memoize per sfDir, so this
      // only pays codegen, not the measured worlds)
      queries.foreach(q => time(q, "/root/testdata/sf0.001"))
      // (a) corpus-scaling gates: cold = world/index build + probe,
      // warm = probe over the memoized world — the flatness claim
      queries.foreach { q =>
        val c1 = time(q, base); val w1 = time(q, base)
        val c10 = time(q, out); val w10 = time(q, out)
        val r = if (w1 > 0 && w10 > 0) w10 / w1 else -1.0
        println(f"SF1INDEX $q%-30s sf0.1 warm=$w1%6.2f (cold=$c1%6.2f)  " +
          f"sf1 warm=$w10%6.2f (cold=$c10%6.2f)  warm_ratio=$r%5.2f")
      }
      // (b) constructed probe shapes over the FULL per-sf corpus with a
      // FIXED batch (500 docs / 200 vectors re-keyed to disjoint ids)
      def lshShape(dir: String): (Double, Double) = {
        import graft.operators.{LshBandIndex, MinHashLSH}
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        val gen = LshBandIndex.ensure(spark, docs, key = s"$dir#sf1idx")
        val batch = docs.filter(col("doc_id") % 10 === 0 &&
            col("doc_id") < 5000)
          .select((col("doc_id") + lit(1000000000L)).as("doc_id"), col("text"))
        def probe(): Double = {
          val t0 = System.nanoTime()
          MinHashLSH.incrementalPairs(MinHashLSH.bandRows(batch),
            LshBandIndex.narrowBandsOf(spark, gen),
            LshBandIndex.sigsOf(spark, gen)).count()
          (System.nanoTime() - t0) / 1e9
        }
        val cold = probe(); val warm = probe()
        (cold, warm)
      }
      def textShape(dir: String): (Double, Double) = {
        import graft.operators.TextIndex
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        val gen = TextIndex.ensure(spark, docs, key = s"bm25:$dir#sf1idx")
        def probe(): Double = {
          val t0 = System.nanoTime()
          TextIndex.bm25(spark, gen, Seq("spark", "vector", "merge"),
            k = 10).count()
          (System.nanoTime() - t0) / 1e9
        }
        val cold = probe(); val warm = probe()
        (cold, warm)
      }
      Seq(("lsh_probe_fixed_batch", lshShape _),
          ("bm25_probe_3_terms", textShape _)).foreach { case (name, f) =>
        f("/root/testdata/sf0.001") // JIT warmup
        val (c1, w1) = f(base)
        val (c10, w10) = f(out)
        val r = if (w1 > 0 && w10 > 0) w10 / w1 else -1.0
        println(f"SF1INDEX $name%-30s sf0.1 warm=$w1%6.2f (cold=$c1%6.2f)  " +
          f"sf1 warm=$w10%6.2f (cold=$c10%6.2f)  warm_ratio=$r%5.2f")
      }
    } else if (writesMode) {
      // JIT/codegen warmup at the smallest sf: the write paths compile
      // the same generated classes whatever the sf, so the sf0.1 leg
      // isn't charged session startup. World caches for sf0.001 land
      // in the same throwaway root — harmless, keyed by sfDir.
      queries.foreach(q => time(q, "/root/testdata/sf0.001"))
      queries.foreach { q =>
        // write gates can't use the warm-rerun control the read leg
        // has (a world-cached second run measures the cached world,
        // not the write) — both sides are single COLD first runs in a
        // JIT-warm JVM
        val t1 = time(q, base)
        val t10 = time(q, out)
        val ratio = if (t1 > 0 && t10 > 0) t10 / t1 else -1.0
        println(f"SF1WRITE $q%-30s sf0.1=$t1%7.2f s " +
          f"sf1=$t10%7.2f s  ratio=$ratio%5.1f")
      }
    } else queries.foreach { q =>
      // cold-start control: the first sf0.1 run pays session JIT and
      // codegen that the sf1 run then reuses — time sf0.1 again WARM
      // and ratio against the better of the two, or a 10x leg can
      // read FASTER than 1x purely from warm-up order
      val t1cold = time(q, base)
      val t10 = time(q, out)
      val t1warm = time(q, base)
      val t1 = Seq(t1cold, t1warm).filter(_ > 0) match {
        case Nil => -1.0; case ts => ts.min
      }
      val ratio = if (t1 > 0 && t10 > 0) t10 / t1 else -1.0
      println(f"SF1BENCH $q%-24s sf0.1=$t1%7.2f s (cold=$t1cold%.2f) " +
        f"sf1=$t10%7.2f s  ratio=$ratio%5.1f")
    }
    spark.stop()
  }
}
