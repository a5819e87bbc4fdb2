package graft.tools

import org.apache.spark.sql.functions._
import graft.store.{FileStats, SnapshotStore}

/** Scaling measurement for the bloom-targeted delete
  * (store.FileStats.deleteKeys): publish a partitioned table at growing
  * partition counts (fixed rows/partition — the real-layout invariant),
  * delete the SAME 3 keys, and compare against the naive full rewrite
  * (read all − keys, write all).
  *
  * The claim under test: partitions REWRITTEN tracks the REQUEST (≈ the
  * partitions actually holding a target, + the bloom's fpp sliver), not
  * the table — so delete wall time stays flat while the naive rewrite
  * grows linearly. That gap is the entire point of right-to-be-forgotten
  * tooling at 100 TB: a daily deletion request list must not cost a
  * table rewrite.
  *
  *   sbt "runMain graft.tools.DeleteScale 8"
  */
object DeleteScale {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(8)
    val spark = graft.GraftSession.local("graft-delete-scale")

    val rowsPerPart = 50000L

    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    println("parts | rows | rewritten | delete_s | naive_rewrite_s")
    Seq(8, 8 * factor, 8 * factor * factor).foreach { parts =>
      val rows = rowsPerPart * parts
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_delscale_$parts").toString + "/t"
      // ~1 file per partition dir (the real compacted layout): without
      // this, every input task writes its own sliver into every pb dir
      // and the per-(file, key) bloom fpp multiplies by the file count
      val df = spark.range(rows).select(col("id").as("k"),
        (col("id") % parts).cast("int").as("pb"),
        (col("id") * 7 % 1000).cast("double").as("v"))
        .repartition(parts, col("pb"))
      FileStats.publishPartitioned(spark, root, df, "pb",
        statCols = Seq("k"), bloomCols = Seq("k"))
      // 3 keys in (at most) 3 distinct partitions, same ids every scale
      val keys = Seq(11L, 4003L, 90001L % rows)
      val ((_, rewritten, total), dt) = time {
        FileStats.deleteKeys(spark, root, "k", keys, "pb",
          statCols = Seq("k"), bloomCols = Seq("k"))
      }
      // naive path: full read-minus-keys rewrite into a fresh snapshot
      val (_, nt) = time {
        SnapshotStore.commit(spark, root) { dir =>
          SnapshotStore.read(spark, root)
            .filter(!col("k").isin(keys: _*))
            .write.partitionBy("pb").parquet(dir)
        }
      }
      println(f"$total%5d | $rows%8d | $rewritten%9d | $dt%8.2f | $nt%9.2f")
    }
    spark.stop()
  }
}
