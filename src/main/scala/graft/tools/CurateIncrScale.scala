package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.corpus.IncrementalCurate
import graft.operators.LshBandIndex
import graft.store.SnapshotStore

/** Scaling measurement for the INCREMENTAL CURATION composite (cp6):
  * the daily-ingest claim is that curating a FIXED batch against the
  * indexed history costs the same whether that history holds 10k or
  * 500k documents — the batch pays its own quality gate, signatures and
  * CC; history participates only as the curated table's narrow
  * `content_hash` column (exact-dedup anti-join) and the band index's
  * equi-join side (candidate collisions, not corpus rows).
  *
  * Output: one line per history size H — day-1 full history curation +
  * publish + index build seconds at H (the from-scratch baseline the
  * incremental path replaces, expected ~linear in H), then
  * `curate_batch` seconds for a fixed 2k-doc batch against that world
  * (expected FLAT in H), and `publish_advance` seconds for the fenced
  * delta commit + count-verified index advance (both O(batch): the
  * publish writes ONE `batch_id=<version>` partition and carries
  * history forward by manifest reference — IncrementalCurate
  * .publishDelta — so this column must stay FLAT in H too).
  *
  *   sbt "runMain graft.tools.CurateIncrScale 10000 100000 500000"
  */
object CurateIncrScale {
  def main(args: Array[String]): Unit = {
    val sizes =
      if (args.nonEmpty) args.toSeq.map(_.toLong)
      else Seq(10000L, 100000L, 500000L)
    val spark = graft.GraftSession.local("graft-curate-incr-scale")

    // synthetic docs with overlapping vocabulary (the LshAdvanceScale
    // corpus shape) plus the columns the quality gate reads
    def docs(from: Long, until: Long): DataFrame =
      spark.range(from, until).select(col("id").as("doc_id"),
        expr("""concat_ws(' ', transform(sequence(0, 29),
                 j -> concat('w', CAST((id DIV 3) * 5 + j AS STRING))))""")
          .as("text"),
        lit("en").as("lang"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .withColumn("source", lit("synth"))

    def time[T](f: => T): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    val batch = 2000L
    def world(h: Long): (String, String) = {
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_cis_$h").toString + "/t"
      val curated = IncrementalCurate.curateHistory(spark, docs(0, h))
      IncrementalCurate.publishDelta(spark, root, curated, None)
      val gen = LshBandIndex.ensureForSnapshot(spark, root, portable = true)
      (root, gen)
    }
    // untimed warmup: JIT + codegen for gate/signature/CC expressions
    locally {
      val (r0, g0) = world(2000)
      IncrementalCurate.curateBatch(spark, docs(2000, 3000), r0, g0).count()
    }
    // drain writeback between the fsync-heavy day-1 build and the timed
    // incremental steps (the Bench lesson: hundreds of MB of the build's
    // dirty pages otherwise flush INSIDE curate_batch's wall time)
    def dirtyKb(): Long = try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try src.getLines().collect {
        case l if l.startsWith("Dirty:") || l.startsWith("Writeback:") =>
          l.trim.split("\\s+")(1).toLong
      }.sum
      finally src.close()
    } catch { case _: Throwable => -1L }
    def drain(): Unit = {
      try new ProcessBuilder("sync").start().waitFor()
      catch { case _: Throwable => () }
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (dirtyKb() > 65536L && System.nanoTime() < deadline)
        Thread.sleep(1000)
    }
    sizes.foreach { h =>
      var root = ""; var gen = ""
      val tDay1 = time { val w = world(h); root = w._1; gen = w._2 }
      drain()
      val b = docs(h, h + batch).localCheckpoint(true)
      var accepted: DataFrame = null
      val tCurate = time {
        accepted = IncrementalCurate
          .curateBatch(spark, b, root, gen).localCheckpoint(true)
      }
      val nAcc = accepted.count()
      // a SECOND identical curation run separates cold-IO (page cache
      // misses on the just-written store/index) from compute: curation
      // is pure — same inputs, same decisions, no state advanced
      val tCurate2 = time {
        IncrementalCurate.curateBatch(spark, b, root, gen)
          .localCheckpoint(true)
      }
      val tPublish = time {
        val snap = SnapshotStore.currentName(spark, root).get
        IncrementalCurate.publishDelta(spark, root, accepted, Some(snap))
        LshBandIndex.advanceForSnapshotWithBatch(spark, root, accepted,
          portable = true)
      }
      // skipping evidence for the two history probes (r12 verdict #1):
      // a FRESH batch must read ZERO history files through the doc_id
      // range gate and only the bloom-fpp residue through the digest
      // blooms; a fully REPLAYED batch reads the touched partitions —
      // a sliver, never the corpus. Bytes quoted from the selected
      // files' physical sizes.
      def probe(c: String, b: DataFrame): (Int, Int) =
        graft.store.FileStats.antiJoinFreshMetrics(spark, root, c, b, c)
          match { case (_, sel, tot) => (sel, tot) }
      val freshB = docs(h + batch, h + 2 * batch)
      val (idSel, idTot) = probe("doc_id", freshB)
      val (fpSel, _) = probe("content_hash",
        freshB.withColumn("content_hash", md5(col("text"))))
      val (rdSel, rdTot) = probe("doc_id", b)
      println(f"CURATEINCR h=$h%-7d day1_full=$tDay1%.2f " +
        f"curate_batch=$tCurate%.2f warm=$tCurate2%.2f " +
        f"publish_advance=$tPublish%.2f " +
        f"(batch=$batch accepted=$nAcc) hist_files_fresh=" +
        f"id:$idSel/$idTot fp:$fpSel replayed=id:$rdSel/$rdTot")
    }
    spark.stop()
  }
}
