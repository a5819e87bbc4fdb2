package graft.tools

import org.apache.spark.sql.functions._

/** Many-micro-batch soak of the STREAMING incremental curation path
  * (`StreamingOps.curateStream` → `IncrementalCurate.publishDelta` +
  * O(batch) index advance): N fixed-size batches arrive as a file
  * source (driver-clean, one file per trigger), and the per-batch wall
  * must stay FLAT while the curated store grows N batch_id partitions —
  * the streaming form of CurateIncrScale's claim. Prints per-batch
  * durations from the engine's own progress events, then the store/index
  * integrity summary (rows, versions, manifest entries, index ≡ store).
  *
  *   sbt "runMain graft.tools.CurateStreamSoak 20 2000"
  */
object CurateStreamSoak {
  def main(args: Array[String]): Unit = {
    val batches = args.lift(0).map(_.toInt).getOrElse(20)
    val batchSize = args.lift(1).map(_.toLong).getOrElse(2000L)
    val spark = graft.GraftSession.local("graft-curate-stream-soak")

    // the CurateIncrScale corpus shape: overlapping vocabulary + the
    // quality-gate columns; ids ascend across batches (ingest contract)
    def docs(from: Long, until: Long) =
      spark.range(from, until).select(col("id").as("doc_id"),
        expr("""concat_ws(' ', transform(sequence(0, 29),
                 j -> concat('w', CAST((id DIV 3) * 5 + j AS STRING))))""")
          .as("text"),
        lit("en").as("lang"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .withColumn("source", lit("synth"))

    val base = java.nio.file.Files
      .createTempDirectory("graft_cstream_soak").toString
    val srcDir = s"$base/src"
    val curatedRoot = s"$base/curated"
    val fs = new org.apache.hadoop.fs.Path(srcDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val t0 = System.currentTimeMillis()
    (0 until batches).foreach { i =>
      val before = Option(fs.globStatus(
        new org.apache.hadoop.fs.Path(s"$srcDir/part-*")))
        .getOrElse(Array.empty).map(_.getPath).toSet
      docs(i * batchSize, (i + 1) * batchSize).coalesce(1)
        .write.mode("append").parquet(srcDir)
      (Option(fs.globStatus(new org.apache.hadoop.fs.Path(s"$srcDir/part-*")))
        .getOrElse(Array.empty).map(_.getPath).toSet -- before)
        .foreach(p => fs.setTimes(p, t0 - (batches - i) * 60000L, -1))
    }

    val src = spark.readStream
      .schema(spark.read.parquet(srcDir).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
    val q = graft.streaming.StreamingOps.curateStream(src, curatedRoot)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    q.recentProgress.filter(_.numInputRows > 0).foreach { p =>
      // triggerExecution alone — the durationMs map's other entries are
      // its own components, so summing the map double-counts
      println(f"CSTREAM batch=${p.batchId}%3d rows=${p.numInputRows}%6d " +
        f"wall_ms=${p.durationMs.getOrDefault("triggerExecution", -1L)}%6d")
    }

    import graft.store.SnapshotStore
    val stored = SnapshotStore.read(spark, curatedRoot)
    val nRows = stored.count()
    val versions = SnapshotStore.versions(spark, curatedRoot).size
    val entries = SnapshotStore
      .currentEntries(spark, curatedRoot, 1).map(_.size).getOrElse(0)
    val gen = graft.operators.LshBandIndex.currentGenPath(
      spark, s"store:$curatedRoot", portable = true).get
    val indexed = graft.operators.LshBandIndex.sigsOf(spark, gen)
      .select("__id").distinct().count()
    val storedIds = stored.select(countDistinct(col("doc_id")))
      .head().getLong(0)
    println(s"CSTREAM summary rows=$nRows versions=$versions " +
      s"manifest_entries=$entries index_ids=$indexed store_ids=$storedIds " +
      s"index_matches_store=${indexed == storedIds}")
    spark.stop()
  }
}
