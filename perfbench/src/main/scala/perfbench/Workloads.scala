package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.corpus.CorpusPipeline
import graft.gold.GoldEtl
import graft.scd.{RegionedLayout, Scd2}
import graft.silver.SilverEtl
import graft.store.{PointerCommit, SnapshotStore}

/** One benchmark workload: inputs made from the seed, program work done
  * once before timing, and the iteration the loop repeats. An iteration
  * checks its own outputs; each check that fails counts one failed
  * operation. */
trait Workload {
  def name: String
  /** Writes the inputs under the work directory (benchmark time, not
    * counted in setup_s). */
  def generate(): Unit
  def iteration(m: Meter): IterResult
  /** A one-line account of the inputs, printed with the results. */
  def describe: String
}

object Workload {
  val Names: Seq[String] = Seq("etl_backfill", "curate")

  def apply(name: String, spark: SparkSession, work: Path, seed: Long): Workload =
    name match {
      case "etl_backfill" => new EtlBackfill(spark, work, seed)
      case "curate" => new Curate(spark, work, seed)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (one of ${Names.mkString(", ")})")
    }
}

/** Output checks shared by the workloads. */
object Checks {
  /** Order-independent digest of a table's rows: row count plus the sums
    * of both 32-bit halves of each row's xxhash64 (over its JSON form, so
    * every column type hashes). Equal tables give equal digests whatever
    * their file layout or row order. */
  def digest(df: DataFrame): String = {
    val h = xxhash64(to_json(struct(df.columns.sorted.map(c => col(s"`$c`")): _*)))
    val r = df.select(h.as("h")).agg(count(lit(1)),
      coalesce(sum(col("h").bitwiseAND(0xffffffffL)), lit(0L)),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L))).head()
    s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}"
  }

  /** 1 if any named value differs from its expectation, else 0; reports
    * each mismatch on stderr. */
  def failed(what: String, expected: Seq[(String, Any)],
             actual: Seq[(String, Any)]): Int = {
    val bad = expected.zip(actual).filter { case ((_, e), (_, a)) => e != a }
    bad.foreach { case ((n, e), (_, a)) =>
      System.err.println(s"[perfbench] check failed: $what $n expected $e, got $a")
    }
    if (bad.isEmpty) 0 else 1
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.delete)
    }

  /** Regular files under `root` with their sizes, keyed by path. */
  def listing(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> Files.size(p)).toMap
}

/** The silver → SCD2 → gold lake the ETL workload writes: regioned silver
  * layout, every table published through the pointer commit. */
final class Lake(spark: SparkSession, val root: Path) {
  val silver: String = root.resolve("silver").toString
  val gold: String = root.resolve("gold").toString
  def config(date: String): SilverEtl.RunConfig =
    SilverEtl.RunConfig(silver, root.resolve("quarantine").toString,
      root.resolve("metadata").toString, runId = s"run_$date", startDate = date)

  /** A fixed processing instant for `date`, so every stamp the pipeline
    * writes repeats exactly from run to run. */
  def clock(date: String): Column = to_timestamp(lit(s"$date 06:00:00"))

  /** (live rows, closed rows) of the silver table. */
  def silverCounts(): (Long, Long) = {
    val byFlag = Scd2.readRegioned(spark, silver, PointerCommit)
      .groupBy(col("is_current")).count().collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    (byFlag.getOrElse(true, 0L), byFlag.getOrElse(false, 0L))
  }

  def violations(): Long =
    Scd2.violations(Scd2.readRegioned(spark, silver, PointerCommit))

  def digests(): String =
    Checks.digest(Scd2.readRegioned(spark, silver, PointerCommit)) + "|" +
      Checks.digest(PointerCommit.read(spark, gold))

  /** One day through the pipeline, as a scheduled daily run makes it. */
  def runDay(m: Meter, bronze: String, date: String): SilverEtl.EtlStats = {
    val df = m.call("silver.readBronze")(SilverEtl.readBronze(spark, bronze, date))
    val stats = m.call("silver.run")(SilverEtl.run(spark, df, config(date),
      clock = clock(date), commit = PointerCommit, layout = RegionedLayout))
    m.call("gold.run")(GoldEtl.run(spark, silver, gold, clock = clock(date),
      commit = PointerCommit, layout = RegionedLayout))
    stats
  }

  /** Per-layer storage figures of the files an iteration left in the lake,
    * which it started empty. */
  def storage(inputBytes: Long): Map[String, Double] = {
    val files = Checks.listing(root)
    val data = files.filter(_._1.endsWith(".parquet"))
    def under(p: String) = files.filter(_._1.startsWith(p)).values.sum.toDouble
    Map("store.files_written" -> data.size.toDouble,
      "store.mean_file_kb" ->
        (if (data.isEmpty) 0.0 else data.values.sum / 1024.0 / data.size),
      "silver.write_amp" -> under(silver + "/") / inputBytes,
      "gold.write_amp" -> (under(gold + "/") + under(GoldEtl.statsPath(gold) + "/")) /
        inputBytes)
  }
}

/** One large bronze day of history into an empty lake. */
final class EtlBackfill(spark: SparkSession, work: Path, seed: Long) extends Workload {
  val name = "etl_backfill"
  val Date = "2025-01-31"
  val Records = 4000
  private val bronze = work.resolve("bronze")
  private val lake = new Lake(spark, work.resolve("lake"))
  private var planted: BronzeGen.Planted = _
  private var live = 0
  private var inputBytes = 0L
  private var reference: Option[String] = None

  def describe: String =
    s"$Records keys over 12 months, spiders ${BronzeGen.SpiderShare.mkString(" ")} " +
      s"per 51; planted $planted; ${inputBytes / 1024} KiB bronze"

  def generate(): Unit = {
    val (day, keys) = BronzeGen.history(seed, Date, Records,
      invalid = Records / 100, duplicates = Records / 50, outliers = Records / 500)
    inputBytes = day.write(bronze)
    planted = day.planted
    live = keys.size
  }

  def iteration(m: Meter): IterResult = {
    Checks.deleteTree(lake.root)
    val stats = m.timed("day")(lake.runDay(m, bronze.toString, Date))
    val layer =
      if (m.recorder.isDefined) lake.storage(inputBytes) else Map.empty[String, Double]
    val (cur, closed) = lake.silverCounts()
    val digest = lake.digests()
    if (reference.isEmpty) reference = Some(digest)
    val failed = Checks.failed("etl_backfill",
      Seq("read" -> planted.read.toLong, "invalid" -> planted.invalid.toLong,
        "duplicates" -> planted.duplicates.toLong, "current" -> live.toLong,
        "closed" -> 0L, "violations" -> 0L, "digest" -> reference.get),
      Seq("read" -> stats.recordsRead, "invalid" -> stats.recordsInvalid,
        "duplicates" -> stats.duplicatesRemoved, "current" -> cur,
        "closed" -> closed, "violations" -> lake.violations(), "digest" -> digest))
    m.result(planted.read, 1, failed, layer)
  }
}

/** The document corpus through CorpusPipeline.curate, published as a
  * snapshot. */
final class Curate(spark: SparkSession, work: Path, seed: Long) extends Workload {
  val name = "curate"
  val Base = 6000
  private val input = work.resolve("corpus").toString
  private val out = work.resolve("curated")
  private var planted: CorpusGen.Planted = _
  private var reference: Option[String] = None

  def describe: String = s"$Base ordinary documents of 120 words; planted $planted"

  def generate(): Unit = {
    val (docs, p) = CorpusGen.corpus(seed, Base, words = 120,
      rejects = Base / 20, exactDups = Base / 20, clusters = Base / 40,
      clusterSize = 3)
    planted = p
    import spark.implicits._
    docs.map(d => (d.docId, d.text, d.lang, d.source, d.nChars))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(4).write.mode("overwrite").parquet(input)
  }

  def iteration(m: Meter): IterResult = {
    Checks.deleteTree(out)
    val stats = m.timed("curate") {
      val (curated, st) = m.call("corpus.curate")(CorpusPipeline.curate(spark,
        spark.read.parquet(input), langs = CorpusGen.Langs,
        minJaccard = CorpusGen.MinJaccard))
      m.call("store.commit")(SnapshotStore.commit(spark, out.toString)(dir =>
        curated.write.parquet(dir)))
      st
    }
    val digest = Checks.digest(SnapshotStore.read(spark, out.toString))
    if (reference.isEmpty) reference = Some(digest)
    val p = planted
    val failed = Checks.failed("curate",
      Seq("input" -> p.input, "afterQuality" -> p.afterQuality,
        "afterExact" -> p.afterExact, "afterNear" -> p.afterNear,
        "train" -> p.train, "eval" -> p.eval, "digest" -> reference.get),
      Seq("input" -> stats.input, "afterQuality" -> stats.afterQuality,
        "afterExact" -> stats.afterExact, "afterNear" -> stats.afterNear,
        "train" -> stats.train, "eval" -> stats.eval, "digest" -> digest))
    m.result(p.input, 1, failed, Map.empty)
  }
}
