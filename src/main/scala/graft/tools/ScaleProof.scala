package graft.tools

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Two-point scaling measurement for the dedup/curation suite: build a
  * `factor`× copy of the documents table (deterministic id offset + a
  * per-copy suffix token, so exact-dup groups don't collapse across
  * copies and the near-dup structure repeats per copy), then time the
  * same queries at 1× and factor× in one session. Near-linear ratios
  * are the empirical check behind the "banded/bucketed, never
  * all-pairs" design claims — a quadratic stage would show a ~factor²
  * blowup instead.
  *
  *   sbt "runMain graft.tools.ScaleProof /root/testdata/sf0.1 \
  *     /tmp/graft_scale10 10 dd1_dedup_exact dd4_minhash_lsh ..."
  */
object ScaleProof {
  def main(args: Array[String]): Unit = {
    val base = args(0)
    val out = args(1)
    val factor = args(2).toInt
    val queries =
      if (args.length > 3) args.drop(3).toSeq
      else Seq("dd1_dedup_exact", "dd4_minhash_lsh", "dd9_substring_dup",
        "cp2_curate_exact")
    val spark = graft.GraftSession.local("graft-scale-proof")

    val target = new org.apache.hadoop.fs.Path(s"$out/documents.parquet")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(target)) {
      val docs = spark.read.parquet(s"$base/documents.parquet")
      val copies = (0 until factor).map { k =>
        docs.select(
          (col("doc_id") + lit(k * 10000000L)).as("doc_id"),
          (if (k == 0) col("text")
           else concat(col("text"), lit(s" copytoken$k"))).as("text"),
          col("lang"), col("source"),
          (col("n_chars") + lit(if (k == 0) 0 else s" copytoken$k".length))
            .as("n_chars"))
      }
      copies.reduce(_.unionByName(_))
        .repartition(graft.GraftSession.cpus)
        .write.mode(SaveMode.Overwrite).parquet(target.toString)
    }

    def time(name: String, dir: String): Seq[Double] = {
      val fn = graft.SparkEntry.queries(name)
      (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }
    }
    queries.foreach { name =>
      val t1 = time(name, base)
      val tF = time(name, out)
      val m1 = t1.sorted.apply(1)
      val mF = tF.sorted.apply(1)
      println(f"SCALE $name%-24s 1x_median=$m1%.2f ${factor}x_median=$mF%.2f " +
        f"ratio=${mF / m1}%.1f (1x runs ${t1.map(t => f"$t%.2f").mkString(",")} | " +
        f"${factor}x runs ${tF.map(t => f"$t%.2f").mkString(",")})")
    }
    spark.stop()
  }
}
