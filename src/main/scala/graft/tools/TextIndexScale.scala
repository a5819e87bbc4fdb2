package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextIndex

/** Scale evidence for the persisted inverted index: a FIXED-size ingest
  * batch must advance the index in flat time while a from-scratch build
  * grows with the corpus — and a BM25 probe against the chained index
  * must stay flat too (it reads ≤|Q| term-bucket dirs, not the corpus).
  *
  *   SPARK_GRAFT_CPUS=8 sbt "runMain graft.tools.TextIndexScale [sizes...]"
  *
  * Prints one TEXTIDX line per history size; record in BASELINE.md.
  */
object TextIndexScale {
  def main(args: Array[String]): Unit = {
    val sizes =
      if (args.nonEmpty) args.toSeq.map(_.toLong)
      else Seq(10000L, 100000L, 500000L)
    val spark = graft.GraftSession.local("graft-text-index-scale")

    // synthetic docs over a shared zipf-ish vocabulary (40-token docs,
    // ~5k distinct terms) with the probe terms planted sparsely
    def docs(from: Long, until: Long): DataFrame =
      spark.range(from, until).select(col("id").as("doc_id"),
        expr("""concat_ws(' ',
                 transform(sequence(0, 39),
                   j -> concat('w', CAST(pmod(hash(id, j), 5000) AS STRING))),
                 CASE WHEN id % 37 = 0 THEN 'spark' ELSE '' END,
                 CASE WHEN id % 53 = 0 THEN 'vector' ELSE '' END)""")
          .as("text"))

    def time[T](f: => T): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    val batch = 2000L
    val terms = Seq("spark", "vector")
    // untimed warmup: JIT + codegen for tokenize/agg/write paths
    locally {
      val k0 = s"text_scale_warm_${System.nanoTime()}"
      TextIndex.ensure(spark, docs(0, 2000), k0)
      TextIndex.advanceWithBatch(spark, k0, docs(2000, 3000))
      TextIndex.bm25(spark,
        TextIndex.currentGenPath(spark, k0).get, terms).count()
    }
    sizes.foreach { h =>
      val key = s"text_scale_${h}_${System.nanoTime()}"
      val hist = docs(0, h).localCheckpoint(true)
      val b1 = docs(h, h + batch).localCheckpoint(true)
      val tBuild = time(TextIndex.ensure(spark, hist, key))
      val tAdv = time(TextIndex.advanceWithBatch(spark, key, b1))
      val gen = TextIndex.currentGenPath(spark, key).get
      val tProbe = time(TextIndex.bm25(spark, gen, terms).count())
      println(f"TEXTIDX h=$h%-7d build=$tBuild%.2f advance=$tAdv%.2f " +
        f"probe=$tProbe%.2f (batch=$batch, |Q|=${terms.size})")
    }
    spark.stop()
  }
}
