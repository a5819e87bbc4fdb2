package graft.tools

import org.apache.spark.sql.functions._
import graft.store.FileStats

/** Scaling measurement for file-level data skipping (store.FileStats):
  * publish a synthetic snapshot at 1× and `factor`× with file count
  * growing with the data (fixed target rows/file — the real-cluster
  * layout invariant), then compare a fixed-selectivity range read and a
  * single-key equality probe against full-scan filters.
  *
  * The claim under test: the files-READ count tracks the PREDICATE
  * (constant for a fixed-width range, ~1 + fpp·files for a single key),
  * not the table — so pruned-read work stays flat while full-scan work
  * grows linearly, which is the whole value of the sidecar at 100 TB.
  *
  *   sbt "runMain graft.tools.SkipScale 10"
  */
object SkipScale {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val spark = graft.GraftSession.local("graft-skip-scale")

    val baseRows = 400000L
    val rowsPerFile = 50000L

    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    Seq(1, factor).foreach { mult =>
      val n = baseRows * mult
      val files = math.max(8L, n / rowsPerFile).toInt
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_skipscale_$mult").toString + "/t"
      // k: dense sorted key; u: uncorrelated high-cardinality key
      // (bijective Knuth scramble), one row per u value
      val df = spark.range(0, n).select(
        col("id").as("k"),
        pmod(col("id") * 2654435761L, lit(n)).as("u"),
        (col("id") % 97).cast("double").as("v"))
      val (_, tPub) = time {
        FileStats.publishSorted(spark, root, df, "k", files,
          statCols = Seq("k"), bloomCols = Seq("u"))
      }
      // fixed-width range: 25k keys regardless of table size
      val lo = n / 2; val hi = n / 2 + 24999
      val (selR, allR) = FileStats.pruneFiles(spark, root, "k", lo, hi)
      val (cntR, tRange) = time {
        FileStats.readRange(spark, root, "k", lo, hi).count()
      }
      val (cntFullR, tFullRange) = time {
        graft.store.SnapshotStore.read(spark, root)
          .filter(col("k").between(lo, hi)).count()
      }
      // single-key probe on the unclustered column
      val probe = (31L * 2654435761L) % n
      val (selE, allE) = FileStats.pruneFilesEq(spark, root, "u", probe)
      val (cntE, tEq) = time {
        FileStats.readEq(spark, root, "u", probe).count()
      }
      val (cntFullE, tFullEq) = time {
        graft.store.SnapshotStore.read(spark, root)
          .filter(col("u") === probe).count()
      }
      require(cntR == cntFullR && cntE == cntFullE && cntE == 1L,
        s"pruned/full mismatch: range $cntR/$cntFullR eq $cntE/$cntFullE")
      println(f"SKIPSCALE mult=$mult rows=$n files=$files publish=$tPub%.2fs " +
        f"range[files=${selR.length}/${allR.length} t=$tRange%.2fs full=$tFullRange%.2fs] " +
        f"eq[files=${selE.length}/${allE.length} t=$tEq%.2fs full=$tFullEq%.2fs]")
    }
    spark.stop()
  }
}
