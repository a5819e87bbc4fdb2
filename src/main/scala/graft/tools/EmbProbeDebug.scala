package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{CosineLsh, CosineLshIndex}

/** Phase-attribution profiler for the CosineLshIndex probe: times the
  * narrow band join, the candidate distinct, and the vector fetch
  * separately against an existing on-disk generation, and prints the
  * formatted plan of each phase — the r15 instrument behind the probe
  * join-strategy fix (BASELINE.md r15).
  *
  *   sbt "runMain graft.tools.EmbProbeDebug /tmp/graft_coslsh_index/<root>"
  */
object EmbProbeDebug {
  def main(args: Array[String]): Unit = {
    val root = args(0)
    val spark = graft.GraftSession.local("graft-emb-probe-debug")
    spark.conf.set("spark.sql.files.maxPartitionBytes",
      sys.env.getOrElse("SPARK_GRAFT_MAXPART", "16m"))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gen = graft.store.GenLog.currentGen(fs, root).get.toString
    val bands = 29; val rpb = 24
    val hKeys = CosineLshIndex.narrowKeysOf(spark, gen, bands, rpb)
    val hVecs = CosineLshIndex.vecsOf(spark, gen, bands, rpb)
    println(s"keys rows=${hKeys.count()} vecs rows=${hVecs.count()}")

    def embExpr(seed: String): String =
      s"transform(sequence(0, 63), i -> " +
        s"sin(CAST(pmod(xxhash64($seed, i), 100000L) AS DOUBLE) * 0.001D))"
    val h = 2000000L
    val batch = spark.range(h + 2000, h + 4000).select(col("id").as("vec_id"),
      expr(embExpr("id")).as("emb")).localCheckpoint(true)

    def time[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"PHASE $tag%-24s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val b = batch.select(col("vec_id").cast("long").as("__id"), col("emb"))
    val bKeys = time("bucketize-batch") {
      CosineLsh.bucketize(b, "__id", "emb", dim = 0, bands = bands,
          rowsPerBand = rpb)
        .select(col("id").as("dst"), col("band"), col("key"))
        .localCheckpoint(true)
    }
    val histCand = time("phase1-band-join") {
      hKeys.select(col("__id").as("src"), col("band"), col("key"))
        .join(bKeys, Seq("band", "key"))
        .filter(col("src") =!= col("dst"))
        .select("src", "dst").distinct().localCheckpoint(true)
    }
    println(s"candidates=${histCand.count()}")
    val bVecs = b.select(col("__id").as("dst"), col("emb").as("eb"))
    val fetched = time("phase2-vec-fetch") {
      histCand
        .join(hVecs.select(col("__id").as("src"), col("emb").as("ea")),
          Seq("src"))
        .join(bVecs, Seq("dst"))
        .select(least(col("src"), col("dst")).as("src"),
          greatest(col("src"), col("dst")).as("dst"),
          expr("graft_cosine(ea, eb)").as("cs"))
        .localCheckpoint(true)
    }
    println(s"fetched=${fetched.count()}")
    val bb = time("batch-batch") {
      CosineLsh.candidatePairs(b, "__id", "emb", dim = 0,
          bands = bands, rowsPerBand = rpb).localCheckpoint(true)
    }
    println(s"bb=${bb.count()}")
    // warm head-to-head: the OLD phase-2 composition (plain join into
    // the full vecs frame — Spark planned SMJ, shuffling all history
    // vectors) vs the shipped incrementalPairs (broadcast-semi fetch)
    println(s"scan partitions: keys=${hKeys.rdd.getNumPartitions} " +
      s"vecs=${hVecs.rdd.getNumPartitions}")
    for (round <- 1 to 2) {
      time(s"phase1-warm r$round") {
        hKeys.select(col("__id").as("src"), col("band"), col("key"))
          .join(broadcast(bKeys), Seq("band", "key"))
          .filter(col("src") =!= col("dst"))
          .select("src", "dst").distinct().localCheckpoint(true).count()
      }
      time(s"keys-bare-scan r$round") {
        hKeys.select(sum(col("band"))).head()
      }
      time(s"keys-3col-scan r$round") {
        hKeys.select(sum(col("band") + col("key") + col("__id"))).head()
      }
      time(s"join-nodistinct r$round") {
        hKeys.select(col("__id").as("src"), col("band"), col("key"))
          .join(broadcast(bKeys), Seq("band", "key"))
          .filter(col("src") =!= col("dst")).count()
      }
      if (round == 1) {
        val synth = spark.range(0, 58000000).select(col("id").as("src"),
          (col("id") % 29).cast("int").as("band"),
          pmod(expr("xxhash64(id)"), lit(1L << 24)).as("key"))
        time("join-synthetic-58M") {
          synth.join(broadcast(bKeys), Seq("band", "key"))
            .filter(col("src") =!= col("dst")).count()
        }
        time("join-noBroadcastHint") {
          hKeys.select(col("__id").as("src"), col("band"), col("key"))
            .join(bKeys, Seq("band", "key"))
            .filter(col("src") =!= col("dst")).count()
        }
        val df = hKeys.select(col("__id").as("src"), col("band"), col("key"))
          .join(broadcast(bKeys), Seq("band", "key"))
          .filter(col("src") =!= col("dst"))
        df.count()
        println("EXECUTED: " + df.queryExecution.executedPlan.toString.take(2500))
      }
      val tOld = time(s"old-vec-fetch r$round") {
        histCand
          .join(hVecs.select(col("__id").as("src"), col("emb").as("ea")),
            Seq("src"))
          .join(bVecs, Seq("dst"))
          .select(expr("graft_cosine(ea, eb)").as("cs"))
          .localCheckpoint(true).count()
      }
      val tNew = time(s"full-probe r$round") {
        CosineLshIndex.incrementalPairs(batch, "vec_id", "emb",
          hKeys, hVecs, bands, rpb).localCheckpoint(true).count()
      }
      val _ = (tOld, tNew)
    }
    spark.stop()
  }
}
