package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling + recall measurement for the ANN suite: replicate the
  * embeddings table `factor`× (fresh vec_ids; each copy's vectors get a
  * small deterministic per-copy perturbation so copies are near but not
  * identical neighbors), then for each scale run the EXACT brute-force
  * ranking (v2, the ground truth) and the two approximate paths —
  * v4 multi-probe sign-RP LSH and v5 IVF — recording recall@5 against
  * brute force AND the runtime ratio vs 1×. Near-linear ratios with
  * recall held ≥ 0.95 are the empirical backing for "one scan +
  * fixed-width equi-join" being the 100 TB shape; a quadratic stage
  * would blow up as factor², and a recall collapse would mean the
  * banding/probing parameters don't survive densification.
  *
  *   sbt "runMain graft.tools.AnnScale /root/testdata/sf0.1 /tmp/graft_ann 10 100"
  */
object AnnScale {
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_ann")
    val factors = if (args.length > 2) args.drop(2).map(_.toInt).toSeq else Seq(10, 100)
    val spark = graft.GraftSession.local("graft-ann-scale")

    def scaledDir(factor: Int): String = {
      val dir = s"$out/x$factor"
      val target = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
      val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(target)) {
        val e = spark.read.parquet(s"$base/embeddings.parquet")
        val copies = (0 until factor).map { k =>
          // copy 0 is the original (query ids live there); later copies
          // shift ids and nudge every component deterministically
          if (k == 0) e
          else e.select(
            (col("vec_id") + lit(k * 10000000L)).as("vec_id"),
            col("label"),
            expr(s"transform(embedding, x -> CAST(x * (1.0 + $k * 1e-3) " +
              s"+ $k * 1e-4 AS FLOAT))").as("embedding"))
        }
        copies.reduce(_.unionByName(_))
          .repartition(graft.GraftSession.cpus)
          .write.mode(SaveMode.Overwrite).parquet(target.toString)
      }
      dir
    }

    // the REGISTERED v4/v5/v7 queries are recall gates since r12 —
    // scale-measure the raw shortlists they wrap instead
    val shortlists = Map[String,
        (org.apache.spark.sql.SparkSession, String) =>
          org.apache.spark.sql.DataFrame](
      "v2_ann_topk" -> graft.SparkEntry.queries("v2_ann_topk"),
      "v4_ann_lsh" -> ((s, d) =>
        graft.queries.VectorQueries.annLshTopK(s, d)),
      "v5_ann_ivf" -> ((s, d) =>
        graft.queries.VectorQueries.annIvfTopK(s, d)),
      "v7_ann_ivfpq" -> ((s, d) =>
        graft.queries.VectorQueries.annIvfPqTopK(s, d)))
    def topk(name: String, dir: String): (Double, Map[Long, Set[Long]]) = {
      val fn = shortlists(name)
      val times = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }
      val rows = fn(spark, dir).collect()
        .map(r => r.getAs[Long]("qid") -> r.getAs[Long]("nid"))
      (times.sorted.apply(1),
        rows.groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet })
    }
    def recall(ann: Map[Long, Set[Long]], bf: Map[Long, Set[Long]]): Double = {
      val hits = bf.map { case (q, truth) =>
        (ann.getOrElse(q, Set.empty) intersect truth).size }.sum
      hits.toDouble / bf.values.map(_.size).sum
    }

    // 1x anchor (warm the session on it first, untimed)
    graft.SparkEntry.queries("v2_ann_topk")(spark, base).count()
    val (bf1t, bf1) = topk("v2_ann_topk", base)
    val (v4t1, v41) = topk("v4_ann_lsh", base)
    val (v5t1, v51) = topk("v5_ann_ivf", base)
    val (v7t1, v71) = topk("v7_ann_ivfpq", base)
    println(f"ANNSCALE 1x bf=$bf1t%.2f s v4=$v4t1%.2f s (recall@5=${recall(v41, bf1)}%.3f) " +
      f"v5=$v5t1%.2f s (recall@5=${recall(v51, bf1)}%.3f) " +
      f"v7=$v7t1%.2f s (recall@5=${recall(v71, bf1)}%.3f)")

    factors.foreach { f =>
      val dir = scaledDir(f)
      val (bft, bf) = topk("v2_ann_topk", dir)
      val (v4t, v4) = topk("v4_ann_lsh", dir)
      val (v5t, v5) = topk("v5_ann_ivf", dir)
      val (v7t, v7) = topk("v7_ann_ivfpq", dir)
      println(f"ANNSCALE ${f}x bf=$bft%.2f s " +
        f"v4=$v4t%.2f s ratio=${v4t / v4t1}%.1f recall@5=${recall(v4, bf)}%.3f " +
        f"v5=$v5t%.2f s ratio=${v5t / v5t1}%.1f recall@5=${recall(v5, bf)}%.3f " +
        f"v7=$v7t%.2f s ratio=${v7t / v7t1}%.1f recall@5=${recall(v7, bf)}%.3f")
    }
    spark.stop()
  }
}
