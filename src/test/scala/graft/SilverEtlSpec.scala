package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.silver.SilverEtl
import graft.scd.Scd2

/** Golden run of the 10-stage silver pipeline over the synthetic bronze
  * fixtures (FIXTURES.md §B), asserting the reference's observable
  * contract: per-step counts, standardization/enrichment outputs, SCD2
  * behavior across two runs. */
class SilverEtlSpec extends SparkSuite {

  private lazy val base = {
    val dir = Files.createTempDirectory("graft_silver_spec").toString
    graft.fixtures.BronzeFixtures.write(dir)
    dir
  }
  private lazy val cfg = SilverEtl.RunConfig(
    silverPath = s"$base/silver", quarantinePath = s"$base/quarantine",
    metadataPath = s"$base/metadata", runId = "test_run",
    startDate = "2025-01-15")
  private lazy val fixedClock = to_timestamp(lit("2025-01-15 12:00:00"))

  private lazy val stats = {
    val bronze = SilverEtl.readBronze(spark, s"$base/bronze", "2025-01-15")
    SilverEtl.run(spark, bronze, cfg, fixedClock)
  }
  private lazy val silver = spark.read.parquet(cfg.silverPath)

  test("per-step counts match the fixture design") {
    assert(stats.recordsRead === graft.fixtures.BronzeFixtures.TotalRecords)
    assert(stats.recordsInvalid === graft.fixtures.BronzeFixtures.InvalidRecords)
    assert(stats.recordsValid ===
      graft.fixtures.BronzeFixtures.TotalRecords - graft.fixtures.BronzeFixtures.InvalidRecords)
    assert(stats.duplicatesRemoved === graft.fixtures.BronzeFixtures.DuplicatePairs)
    // outlier removed: valid - dups - 1 outlier
    assert(stats.recordsWritten ===
      stats.recordsValid - stats.duplicatesRemoved - 1)
  }

  test("keep-latest dedup kept the newer duplicate") {
    val dup = silver.filter(col("source_id") === "ch_dup").collect()
    assert(dup.length === 1)
    assert(dup.head.getAs[String]("project_name") === "New Name")
  }

  test("4-sigma outlier was removed") {
    assert(silver.filter(col("source_id") === "ch_outlier").count() === 0)
  }

  test("city names standardized to English") {
    val cities = silver.select("city").distinct().collect()
      .map(_.getString(0)).toSet
    assert(cities.contains("Ho Chi Minh City"))
    assert(cities.contains("Hanoi"))
    assert(!cities.contains("Hồ Chí Minh"))
  }

  test("HTML cleaned and entities decoded in description") {
    val desc = silver.filter(col("source_id") === "ch_1")
      .select("description").head.getString(0)
    assert(!desc.contains("<"))
    assert(!desc.contains("&amp;"))
    assert(desc.contains("&"))
    assert(desc.contains("bể bơi"))
  }

  test("chotot geo string split into coordinates") {
    val r = silver.filter(col("source_id") === "ch_1")
      .select("latitude", "longitude").head
    assert(r.getDouble(0) === 10.771)
    assert(r.getDouble(1) === 106.701)
  }

  test("meeyproject GeoJSON [lon, lat] order respected") {
    val r = silver.filter(col("source_id") === "me_1")
      .select("latitude", "longitude").head
    assert(r.getDouble(0) === 21.031) // lat is element 2
    assert(r.getDouble(1) === 105.791)
  }

  test("onehousing hectares converted to m²") {
    val area = silver.filter(col("source_id") === "oh_1")
      .select("total_area").head.getDouble(0)
    assert(area === 5000.0)
  }

  test("dual-format handover_date_from both land as yyyy-MM-dd strings") {
    val d1 = silver.filter(col("source_id") === "oh_1")
      .select("handover_date_from").head.getString(0)
    val d2 = silver.filter(col("source_id") === "oh_2")
      .select("handover_date_from").head.getString(0)
    assert(d1 === "2022-04-01")
    assert(d2 === "2022-04-01")
  }

  test("insight_by_bedroom → apartment_prices struct array + bedroom range") {
    val r = silver.filter(col("source_id") === "oh_1")
      .select("min_bedroom", "max_bedroom", "apartment_prices").head
    assert(r.getInt(0) === 1)
    assert(r.getInt(1) === 3)
    assert(r.getSeq[Any](2).length === 3)
  }

  test("albums flattened to image urls; first-of-array ints extracted") {
    val r = silver.filter(col("source_id") === "oh_1")
      .select("images", "number_of_basement", "number_of_elevators").head
    assert(r.getSeq[String](0) ===
      Seq("http://oh/a1.jpg", "http://oh/a2.jpg", "http://oh/b1.jpg"))
    assert(r.getInt(1) === 2)
    assert(r.getInt(2) === 6)
  }

  test("meey translation fields and nested extractions") {
    val r = silver.filter(col("source_id") === "me_1")
      .select("ward", "district", "city", "investor_name",
        "utilities_internal", "project_type", "images").head
    // Reference-faithful quirk: the unified bronze read infers ONE schema
    // across all spiders; onehousing's ward/district/city are plain
    // strings, so meey's conflicting structs widen to StringType and
    // arrive as raw JSON text — which the reference's complex-type guard
    // then skips (transformation_utils.py:721-726). The JSON passes
    // through verbatim.
    assert(r.getString(0).contains("Dịch Vọng") && r.getString(0).contains("translation"))
    assert(r.getString(1).contains("Cầu Giấy"))
    assert(r.getString(2).contains("Hà Nội"))
    assert(r.getString(3) === "Tập đoàn 1")
    assert(r.getSeq[String](4) === Seq("Hồ bơi", "Gym"))
    assert(r.getSeq[String](6) ===
      Seq("http://meey/img1.jpg", "http://meey/img1b.jpg"))
  }

  test("amenity flags extracted from descriptions") {
    val ch = silver.filter(col("source_id") === "ch_1")
      .select("has_swimming_pool", "has_gym").head
    assert(ch.getBoolean(0) && ch.getBoolean(1))
    val oh = silver.filter(col("source_id") === "oh_2")
      .select("has_security", "has_playground").head
    assert(oh.getBoolean(0) && oh.getBoolean(1))
  }

  test("universal_id is the sha2 of spider_name_record_key") {
    val r = silver.filter(col("source_id") === "ch_1")
      .select("universal_id").head.getString(0)
    val expected = java.security.MessageDigest.getInstance("SHA-256")
      .digest("chotot_api_ch_1".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(r === expected)
  }

  test("audit/date fields are yyyy-MM-dd strings; is_current true") {
    val r = silver.filter(col("source_id") === "ch_1")
      .select("ingested_at_utc", "silver_processed_at", "valid_from",
        "is_current", "ingestion_year", "ingestion_month").head
    assert(r.getString(0) === "2025-01-15")
    assert(r.getString(1) === "2025-01-15")
    assert(r.getString(2) === "2025-01-15")
    assert(r.getBoolean(3))
    assert(r.getString(4) === "2025" && r.getString(5) === "01")
  }

  test("completeness scores in [0,1]; avg score recorded") {
    val bad = silver.filter(col("data_completeness_score") < 0 ||
      col("data_completeness_score") > 1).count()
    assert(bad === 0)
    assert(stats.avgCompletenessScore > 0 && stats.avgCompletenessScore <= 1)
  }

  test("persisted silver schema has no internal witness columns") {
    stats // force the run
    // _has_valid_coords/_has_valid_price are run-internal quality
    // accounting from validate(); they must not leak past the declared
    // silver schema into the table.
    assert(!silver.columns.exists(_.startsWith("_")),
      s"internal columns leaked: ${silver.columns.filter(_.startsWith("_")).mkString(",")}")
    // every written column is either a declared silver-schema field or a
    // documented enrichment output that gold consumes downstream
    val declared = graft.schema.Schemas.Silver.fields.map(_.name).toSet ++
      Set("avg_selling_price", "avg_unit_price", "price_range", "area_range",
        "location_quality_score") ++
      graft.schema.Mappings.AmenityPatterns.map(_._1)
    val undeclared = silver.columns.filterNot(declared.contains)
    assert(undeclared.isEmpty, s"undeclared columns: ${undeclared.mkString(",")}")
  }

  test("quarantine holds the invalid record with reason") {
    val q = spark.read.parquet(cfg.quarantinePath)
    assert(q.count() === 1)
    val r = q.head
    assert(r.getAs[String]("source_id") === "ch_invalid")
    assert(r.getAs[String]("quarantine_reason") === "Failed validation rules")
  }

  test("metadata sink records the run stats") {
    val m = spark.read.parquet(cfg.metadataPath)
      .filter(col("pipeline_run_id") === "test_run")
    assert(m.count() === 1)
    assert(m.head.getAs[Long]("records_read") === graft.fixtures.BronzeFixtures.TotalRecords)
  }

  test("SCD2 second run closes out changed rows, keeps invariant") {
    stats // ensure first run completed
    val silverBefore = spark.read.parquet(cfg.silverPath)
    val changed = silverBefore.filter(col("source_id") === "ch_1")
      .withColumn("project_name", lit("Renamed Project"))
    val day2 = to_date(to_timestamp(lit("2025-01-16 12:00:00"))).cast("string")
    Scd2.merge(spark, changed, cfg.silverPath, asOfDate = day2)
    val after = spark.read.parquet(cfg.silverPath)
    val versions = after.filter(col("source_id") === "ch_1")
      .orderBy(col("is_current")).collect()
    assert(versions.length === 2)
    val (closed, current) = (versions(0), versions(1))
    assert(!closed.getAs[Boolean]("is_current"))
    assert(closed.getAs[String]("valid_to") === "2025-01-16")
    assert(current.getAs[Boolean]("is_current"))
    assert(current.getAs[String]("project_name") === "Renamed Project")
    assert(Scd2.violations(after) === 0)
    // re-merging identical data must not duplicate current rows.
    // (re-read: the swap invalidated the pre-merge frame's file listing)
    val changed2 = spark.read.parquet(cfg.silverPath)
      .filter(col("source_id") === "ch_1" && col("is_current") === true)
    Scd2.merge(spark, changed2, cfg.silverPath, asOfDate = day2)
    assert(Scd2.violations(spark.read.parquet(cfg.silverPath)) === 0)
  }

  test("empty day no-ops: missing spider dirs dropped, zero-record day returns zero stats") {
    val dir = java.nio.file.Files.createTempDirectory("graft_empty_day").toString
    graft.fixtures.BronzeFixtures.write(dir)
    // a date with no files at all → empty frame, run() returns zeros
    val empty = SilverEtl.readBronze(spark, s"$dir/bronze", "2099-12-31")
    assert(empty.count() === 0)
    val cfg = SilverEtl.RunConfig(s"$dir/out/silver", s"$dir/out/quarantine",
      s"$dir/out/metadata", "run_empty", "2099-12-31")
    val stats = SilverEtl.run(spark, empty, cfg)
    assert(stats === SilverEtl.EtlStats(0, 0, 0, 0, 0, 0.0))
    // gold on a never-created silver path no-ops too
    val gold = graft.gold.GoldEtl.run(spark, s"$dir/out/silver", s"$dir/out/gold")
    assert(gold.isEmpty)
  }

  test("a present-but-zero-length jsonl file is treated as an empty day") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zero_len").toString
    for (sp <- Seq("chotot_api", "meeyproject_api", "onehousing_api")) {
      val d = java.nio.file.Paths.get(dir, "bronze", sp, "year=2025", "month=02")
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.write(d.resolve("20250201_080000.jsonl"), Array.emptyByteArray)
    }
    val empty = SilverEtl.readBronze(spark, s"$dir/bronze", "2025-02-01")
    assert(empty.count() === 0)
  }

  test("optimize compacts and clusters without changing the data") {
    val dir = java.nio.file.Files.createTempDirectory("graft_optimize").toString
    graft.fixtures.BronzeFixtures.write(dir)
    val cfg = SilverEtl.RunConfig(s"$dir/silver", s"$dir/q", s"$dir/m",
      "opt_run", "2025-01-15")
    val bronze = SilverEtl.readBronze(spark, s"$dir/bronze", "2025-01-15")
    SilverEtl.run(spark, bronze, cfg, to_timestamp(lit("2025-01-15 12:00:00")))
    def snapshot() = {
      val df = spark.read.parquet(s"$dir/silver")
      df.select(df.columns.sorted.map(col): _*)
        .orderBy("universal_id").collect().map(_.toString).toSeq
    }
    val before = snapshot()
    val written = graft.scd.Scd2.optimize(spark, s"$dir/silver")
    assert(written === before.length)
    // content-level equality, not just row counts
    assert(snapshot() === before)
    assert(graft.scd.Scd2.violations(spark.read.parquet(s"$dir/silver")) === 0)
  }
}
