package graft.silver

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.schema.{Mappings, Schemas}
import graft.transform.Transforms
import graft.quality.QualityChecks

/** Silver-layer ETL — the reference's 10-step batch pipeline
  * (silver_etl_script.py:1060-1113) as composable DataFrame stages.
  *
  * Deviations from the reference, by design:
  *  - `clock` is injected (the reference stamps current_timestamp —
  *    silver_etl_script.py:879-884 — which is untestable);
  *  - the 4σ outlier pass (silver_etl_script.py:666-693) keeps the
  *    reference's SEQUENTIAL per-column semantics but stays fully lazy:
  *    each column's μ/σ joins in via a broadcast aggregate instead of a
  *    driver-side collect, and the std>0 guard moves into the predicate;
  *  - step counts are computed once at the end, not ~30 eager .count()s.
  */
object SilverEtl {

  final case class EtlStats(recordsRead: Long, recordsValid: Long,
                            recordsInvalid: Long, duplicatesRemoved: Long,
                            recordsWritten: Long, avgCompletenessScore: Double)

  // ------------------------------------------------------------ step 1
  /** Bronze day-paths: bronze/{spider}/year=Y/month=M/YYYYMMDD*.jsonl
    * (silver_etl_script.py:122-134). */
  def bronzePathsFor(base: String, startDate: String): Seq[String] = {
    val (year, month) = (startDate.substring(0, 4), startDate.substring(5, 7))
    val dayPrefix = startDate.replace("-", "")
    Mappings.ProjectSpiders.map(sp =>
      s"$base/$sp/year=$year/month=$month/$dayPrefix*.jsonl")
  }

  /** Read one day of bronze. Globs that match no files are dropped first
    * (a spider that didn't run that day is normal, not an error — the
    * reference tolerates it via its per-source `if spider in df` checks);
    * a day with NO matching files at all returns an empty frame so the
    * pipeline no-ops instead of throwing PATH_NOT_FOUND. */
  def readBronze(spark: SparkSession, base: String, startDate: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val existing = bronzePathsFor(base, startDate).filter { glob =>
      val p = new org.apache.hadoop.fs.Path(glob)
      val fs = p.getFileSystem(conf)
      val matches = fs.globStatus(p)
      // zero-length files (a spider ran but crawled nothing) must also be
      // dropped — spark.read.json on only-empty files cannot infer a
      // schema and throws UNABLE_TO_INFER_SCHEMA.
      matches != null && matches.exists(_.getLen > 0)
    }
    if (existing.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("spider_name",
            org.apache.spark.sql.types.StringType))))
    else spark.read.json(existing: _*)
  }

  // ------------------------------------------------------------ step 2
  /** Per-source special transforms (silver_etl_script.py:179-344). */
  def applySourceSpecials(df: DataFrame, spider: String): DataFrame = spider match {
    case "chotot_api" =>
      Transforms.splitGeoCoordinates(df, "geo")
    case "onehousing_api" =>
      var d = Transforms.extractBedroomRanges(df)
      d = Transforms.extractQualityIndexNames(d)
      if (d.columns.contains("number_basement") || d.columns.contains("number_ele"))
        d = Transforms.extractFirstFromArray(d,
          Seq("number_of_basement" -> "number_basement",
            "number_of_elevators" -> "number_ele"))
      if (d.columns.contains("total_area"))  // ha → m² (:211-219)
        d = d.withColumn("total_area",
          when(col("total_area").isNotNull, col("total_area") * 10000)
            .otherwise(lit(null)))
      if (d.columns.contains("albums"))      // albums → flat image urls (:223-242)
        d = d.withColumn("albums",
          when(col("albums").isNotNull && size(col("albums")) > 0,
            expr("flatten(transform(albums, x -> x.images))"))
            .otherwise(lit(null)))
      if (d.columns.contains("insight_by_bedroom"))  // typed struct array (:244-268)
        d = d.withColumn("insight_by_bedroom",
          when(col("insight_by_bedroom").isNotNull, expr(
            """transform(insight_by_bedroom, x -> struct(
              |  cast(x.number_of_bedroom as int) as number_of_bedroom,
              |  cast(x.min_price as double) as min_price,
              |  cast(x.max_price as double) as max_price,
              |  cast(x.min_carpet_area as double) as min_area,
              |  cast(x.max_carpet_area as double) as max_area))""".stripMargin))
            .otherwise(lit(null)))
      d
    case "meeyproject_api" =>
      var d = Transforms.extractMeeyprojectLocation(df)
      if (d.columns.contains("projectTypes"))  // unique translated names (:278-298)
        d = d.withColumn("projectTypes",
          when(col("projectTypes").isNotNull && size(col("projectTypes")) > 0,
            expr("array_distinct(flatten(transform(projectTypes, pt -> transform(pt.translation, t -> t.name))))"))
            .otherwise(lit(null)))
      if (d.columns.contains("images") &&      // images[].url (:301-312)
          d.schema("images").dataType.isInstanceOf[ArrayType] &&
          d.schema("images").dataType.asInstanceOf[ArrayType]
            .elementType.isInstanceOf[StructType])
        d = d.withColumn("images",
          when(col("images").isNotNull && size(col("images")) > 0,
            expr("transform(images, img -> img.url)")).otherwise(lit(null)))
      if (d.columns.contains("investorRelated"))
        d = d.withColumn("investor_name", col("investorRelated.investor.name"))
      if (d.columns.contains("utilities"))
        d = d.withColumn("utilities_internal", col("utilities.basicUtilities"))
      Transforms.extractNestedTranslation(d, Seq("ward", "district", "city"))
    case _ => df
  }

  /** Rename per mapping, cast per TYPE_CONVERSIONS, dual-format handover
    * date, defaults, conform to SILVER_SCHEMA types, prune columns
    * (silver_etl_script.py:346-499). */
  def mapSource(df: DataFrame, spider: String): DataFrame = {
    var d = applySourceSpecials(df, spider)

    // standard renames (:347-353)
    Mappings.SourceMappings.getOrElse(spider, Seq.empty).foreach {
      case (target, source) =>
        if (d.columns.contains(source)) {
          if (d.columns.contains(target) && target != source) d = d.drop(target)
          d = d.withColumnRenamed(source, target)
        }
    }
    // declared casts (:356-361)
    d = Mappings.applyTypeConversions(d)
    // OneHousing dual-format handover_date_from (:363-389)
    if (spider == "onehousing_api" && d.columns.contains("handover_date_from"))
      d = d.withColumn("handover_date_from",
        Transforms.parseDualFormatDate(col("handover_date_from")))
    // defaults for entirely-missing fields (:391-394)
    Mappings.DefaultValues.foreach { case (f, v) =>
      if (!d.columns.contains(f)) d = d.withColumn(f, lit(v))
    }
    // conform present columns to SILVER_SCHEMA types (:401-488)
    Schemas.Silver.fields.foreach { sf =>
      if (d.columns.contains(sf.name)) sf.dataType match {
        case ArrayType(StringType, _) =>
          d = Transforms.coerceToStringArray(d, sf.name)
        case at: ArrayType =>
          d.schema(sf.name).dataType match {
            case _: ArrayType => d = d.withColumn(sf.name, col(sf.name).cast(at))
            case _ => d = d.withColumn(sf.name, lit(null).cast(at))
          }
        case dt => d = d.withColumn(sf.name, col(sf.name).cast(dt))
      }
    }
    // prune to schema columns, carrying the bronze envelope timestamp (:490-499)
    val keep = Schemas.Silver.fields.map(_.name).filter(d.columns.contains)
    if (d.columns.contains("timestamp"))
      d.select((keep.map(col) :+ col("timestamp")): _*)
    else d.select(keep.map(col): _*)
  }

  /** Union mapped sources, convert bronze timestamp → ingested_at_utc
    * (silver_etl_script.py:157-521). */
  def applySchemaMapping(df: DataFrame): DataFrame = {
    val mapped = Mappings.ProjectSpiders
      .map(sp => mapSource(df.filter(col("spider_name") === sp), sp))
    var unified = mapped.reduce(_.unionByName(_, allowMissingColumns = true))
    if (unified.columns.contains("timestamp") &&
        !unified.columns.contains("ingested_at_utc"))
      unified = unified.withColumn("ingested_at_utc",
        to_timestamp(col("timestamp"), "yyyy-MM-dd'T'HH:mm:ss")).drop("timestamp")
    // pad declared silver columns missing from this day's bronze with
    // typed nulls: validate/enrich reference latitude/price columns
    // unconditionally, and a thin day (no source carried coordinates)
    // would otherwise abort with UNRESOLVED_COLUMN.
    Schemas.conformToSilver(unified)
  }

  // ------------------------------------------------------------ step 3
  /** Critical-field predicate split + coord/price witness flags
    * (silver_etl_script.py:526-589). */
  def validate(df: DataFrame): (DataFrame, DataFrame) = {
    val validExpr = col("spider_name").isNotNull &&
      col("ingested_at_utc").isNotNull && col("source_id").isNotNull &&
      col("project_name").isNotNull && (length(col("project_name")) > 0)
    val flagged = df
      .withColumn("_has_valid_coords",
        when(col("latitude").isNotNull && col("longitude").isNotNull &&
          col("latitude") =!= 0 && col("longitude") =!= 0 &&
          col("latitude").between(-90, 90) && col("longitude").between(-180, 180),
          lit(true)).otherwise(lit(false)))
      .withColumn("_has_valid_price",
        when(col("min_selling_price").isNotNull ||
          col("max_selling_price").isNotNull ||
          col("min_unit_price").isNotNull || col("max_unit_price").isNotNull,
          lit(true)).otherwise(lit(false)))
    (flagged.filter(validExpr), flagged.filter(!validExpr))
  }

  // ------------------------------------------------------------ step 4
  /** Quality-check battery over the valid split
    * (silver_etl_script.py:594-626). */
  def runQualityChecks(df: DataFrame): Seq[QualityChecks.CheckResult] = {
    val required = Seq("spider_name", "source_id", "ingested_at_utc")
    var results = QualityChecks.checkNullPercentage(df, required,
      Schemas.Thresholds.nullThreshold)
    results :+= QualityChecks.checkCompleteness(df, required)
    // universal_id is derived in enrich; at this stage the padded column
    // is all-null — only meaningful to check once values exist.
    if (df.columns.contains("universal_id") &&
        !df.filter(col("universal_id").isNotNull).isEmpty)
      results ++= QualityChecks.checkUniqueness(df, Seq("universal_id"))
    if (df.columns.contains("email"))
      results :+= QualityChecks.checkFormat(df, "email",
        Schemas.Thresholds.emailPattern)
    if (df.columns.contains("phone"))
      results :+= QualityChecks.checkFormat(df, "phone",
        Schemas.Thresholds.phonePattern)
    results
  }

  // ------------------------------------------------------------ step 5
  /** record_key → keep-latest dedup → fillna → sequential 4σ outlier
    * filter (silver_etl_script.py:631-696). */
  val OutlierColumns: Seq[String] = Seq("min_selling_price", "max_selling_price",
    "min_unit_price", "max_unit_price", "total_area", "construction_area")

  /** 5.1: keep-latest per (spider_name, record_key). */
  def dedupLatest(df: DataFrame): DataFrame = {
    val keyed = df.withColumn("record_key",
      coalesce(col("source_id"), lit("UNKNOWN")))
    // content-hash tie-break: two same-key records sharing a crawl
    // timestamp would otherwise keep an arbitrary winner per scheduling,
    // and a re-run could flip it — which Scd2 then misreads as a change.
    val w = Window.partitionBy("spider_name", "record_key")
      .orderBy(col("ingested_at_utc").desc,
        hash(keyed.columns.map(col): _*).asc)
    keyed.withColumn("row_num", row_number().over(w))
      .filter(col("row_num") === 1).drop("row_num")
  }

  /** 5.2 + 5.3: defaults fill, then sequential 4σ — each column's stats
    * reflect prior columns' filtering, exactly like the reference loop.
    *
    * The stats are PULLED TO THE DRIVER as two scalars per column (an
    * eager `.head` each) and re-injected as literals. A fully-lazy
    * formulation (crossJoin(broadcast(agg)) per column) was tried first
    * and is a scaling trap: each level's aggregate subtree embeds the
    * previous level's whole plan, so the base scan appears ~2^6 times in
    * the final tree. Six scalar aggregates over the (cached) input is the
    * linear shape — "no driver-side collect except scalar stats"
    * (SURVEY.md §7.5) explicitly allows this one. */
  def fillAndRemoveOutliers(df: DataFrame): DataFrame = {
    var d = df
    val fills = Mappings.DefaultValues.filter { case (f, _) => d.columns.contains(f) }
    if (fills.nonEmpty) d = d.na.fill(fills)
    OutlierColumns.filter(d.columns.contains).foreach { c =>
      val row = d.filter(col(c).isNotNull)
        .agg(avg(col(c)).as("mu"), stddev_samp(col(c)).as("sd")).head()
      if (!row.isNullAt(1) && row.getDouble(1) > 0) {
        val (mu, sd) = (row.getDouble(0), row.getDouble(1))
        d = d.filter(col(c).isNull || abs((col(c) - mu) / sd) < 4)
      }
    }
    d
  }

  def cleanse(df: DataFrame): DataFrame = fillAndRemoveOutliers(dedupLatest(df))

  // ------------------------------------------------------------ step 6
  /** HTML/text/city standardization + partition columns
    * (silver_etl_script.py:701-749). */
  def standardize(df: DataFrame): DataFrame = {
    var d = df
    if (d.columns.contains("phone"))
      d = Transforms.standardizePhoneNumbers(d, "phone")
    if (d.columns.contains("email"))
      d = Transforms.standardizeEmails(d, "email")
    d = Transforms.cleanHtmlTags(d, Seq("description"))
    d = Transforms.normalizeText(d,
      Seq("project_name", "address", "description"))
    if (d.columns.contains("city"))
      d = Transforms.standardizeCityNames(d, "city")
    d.withColumn("ingestion_year", date_format(col("ingested_at_utc"), "yyyy"))
      .withColumn("ingestion_month", date_format(col("ingested_at_utc"), "MM"))
      .withColumn("ingestion_date", to_date(col("ingested_at_utc")))
  }

  // ------------------------------------------------------------ step 7
  /** universal_id, price aggregates, quality scores, audit columns,
    * amenity flags, dates→string (silver_etl_script.py:754-911). */
  def enrich(df: DataFrame, clock: Column = current_timestamp()): DataFrame = {
    var d = df.withColumn("universal_id",
      sha2(concat_ws("_", col("spider_name"), col("record_key")), 256))
    // avg/range columns with presence guards (silver_etl_script.py:770-828;
    // note: no avg_rent_price here — that lives only in the transform
    // catalog, the reference enrich never calls it)
    def guardedAvg(minC: String, maxC: String): Column = {
      // presence-guard BOTH one-sided shapes: a frame carrying exactly
      // one of the pair (silver only writes columns present in that
      // day's bronze) must degrade to the present column, not throw
      // UNRESOLVED_COLUMN building the absent one
      val hasMin = d.columns.contains(minC)
      val hasMax = d.columns.contains(maxC)
      if (!hasMin && !hasMax) lit(null)
      else if (!hasMax) col(minC)
      else if (!hasMin) col(maxC)
      else when(col(minC).isNotNull && col(maxC).isNotNull,
        (col(minC) + col(maxC)) / 2)
        .when(col(minC).isNotNull, col(minC))
        .when(col(maxC).isNotNull, col(maxC))
        .otherwise(lit(null))
    }
    def guardedRange(minC: String, maxC: String): Column =
      if (!d.columns.contains(minC) || !d.columns.contains(maxC)) lit(null)
      else when(col(minC).isNotNull && col(maxC).isNotNull, col(maxC) - col(minC))
        .otherwise(lit(null))
    d = d.withColumn("avg_selling_price",
        guardedAvg("min_selling_price", "max_selling_price"))
      .withColumn("avg_unit_price", guardedAvg("min_unit_price", "max_unit_price"))
      .withColumn("price_range", guardedRange("min_selling_price", "max_selling_price"))
      .withColumn("area_range", guardedRange("min_area", "max_area"))
    val gradeCols = Seq("trans_grade", "infra_grade", "school_grade")
      .filter(d.columns.contains)
    d = d.withColumn("location_quality_score",
      if (gradeCols.isEmpty) lit(0.0)
      else gradeCols.map(c => when(col(c).isNotNull, 1).otherwise(0))
        .reduce(_ + _) / lit(gradeCols.size.toDouble))
    val valuationFields = Seq("project_name", "address", "latitude", "longitude",
      "avg_selling_price", "avg_unit_price", "total_area", "district", "city",
      "project_type").filter(d.columns.contains)
    d = d.withColumn("data_completeness_score",
      if (valuationFields.isEmpty) lit(0.0)
      else valuationFields.map(f =>
        when(col(f).isNotNull && col(f).cast("string") =!= "" &&
          col(f).cast("string") =!= "UNKNOWN", 1).otherwise(0))
        .reduce(_ + _) / lit(valuationFields.size.toDouble))
    d = d.withColumn("silver_processed_at", clock)
      .withColumn("silver_version", lit("2.0"))
      .withColumn("is_current", lit(true))
      .withColumn("valid_from", clock)
      .withColumn("valid_to", lit(null).cast("timestamp"))
    if (d.columns.contains("description"))
      d = Transforms.extractProjectFeatures(d, "description")
    // stringly-dates pass (:892-908) — deliberate reference behavior
    Seq("ingested_at_utc", "silver_processed_at", "valid_from", "valid_to",
      "handover_date_from", "handover_date", "construction_start_date",
      "construction_end_date").filter(d.columns.contains).foreach { f =>
      d = d.withColumn(f,
        when(col(f).isNotNull, to_date(col(f)).cast("string"))
          .otherwise(lit(null)))
    }
    d
  }

  // -------------------------------------------------------- steps 8-10
  final case class RunConfig(silverPath: String, quarantinePath: String,
                             metadataPath: String, runId: String,
                             startDate: String)

  /** Full pipeline over an already-read bronze frame. Returns run stats
    * (the reference's observable per-step counts,
    * silver_etl_script.py:1046-1055). */
  def run(spark: SparkSession, bronze: DataFrame, cfg: RunConfig,
          clock: Column = current_timestamp(),
          commit: graft.store.TableCommit =
            graft.store.DirectorySwapCommit,
          layout: graft.scd.SilverLayout = graft.scd.FlatLayout): EtlStats = {
    val recordsRead = bronze.count()
    if (recordsRead == 0) {
      // empty day (no spider ran): no-op, matching the reference's
      // early-return on an empty bronze read — existing silver untouched.
      return EtlStats(0, 0, 0, 0, 0, 0.0)
    }
    val mapped = applySchemaMapping(bronze)
    val (valid, invalidRaw) = validate(mapped)
    val cleanedPre = valid.cache()
    val recordsValid = cleanedPre.count()
    // quality report runs over the CACHED frame (it takes two actions) and
    // surfaces failures — they warn, not abort (reference behavior).
    runQualityChecks(cleanedPre).filterNot(_.passed).foreach { r =>
      System.err.println(s"[silver][quality] FAILED ${r.name}: ${r.details}")
    }
    // invalid is cached too: count() here and writeQuarantine below
    // would otherwise each re-parse the whole bronze JSON — the most
    // expensive stage of the run, paid twice for the REJECTED sliver
    val invalid = invalidRaw.cache()
    val recordsInvalid = invalid.count()
    val deduped = dedupLatest(cleanedPre).cache()
    val dedupCount = deduped.count()
    val cleaned = fillAndRemoveOutliers(deduped)
    // the _has_valid_* witness flags from validate() are internal to the
    // run (quality accounting); they must not leak past the declared
    // silver schema into the persisted table.
    val enriched = enrich(standardize(cleaned), clock)
      .drop("_has_valid_coords", "_has_valid_price").cache()
    try {
      val avgScore = enriched.agg(avg(col("data_completeness_score"))).head
        .getAs[Any](0) match { case d: java.lang.Double => d.doubleValue; case _ => 0.0 }
      val written = layout.merge(spark, enriched, cfg.silverPath,
        asOfDate = to_date(clock).cast("string"), commit = commit)
      // step 10: quarantine + run-metadata sinks (:997-1041)
      if (recordsInvalid > 0)
        writeQuarantine(invalid, cfg.quarantinePath, clock)
      val stats = EtlStats(recordsRead, recordsValid, recordsInvalid,
        recordsValid - dedupCount, written, avgScore)
      writeRunMetadata(spark, cfg.runId, cfg.startDate, stats, cfg.metadataPath)
      stats
    } finally {
      // repeated runs in one session (the streaming twin, spec suites)
      // must not accumulate executor cache across days
      enriched.unpersist()
      deduped.unpersist()
      invalid.unpersist()
      cleanedPre.unpersist()
      ()
    }
  }

  /** Quarantine sink (silver_etl_script.py:997-1014): failed-validation
    * rows append, partitioned by spider, stamped with reason + clock. */
  def writeQuarantine(invalid: DataFrame, path: String,
                      clock: Column = current_timestamp()): Unit =
    invalid
      .withColumn("quarantine_timestamp", clock)
      .withColumn("quarantine_reason", lit("Failed validation rules"))
      .write.mode(SaveMode.Append).partitionBy("spider_name")
      .parquet(path)

  /** Run-metadata sink (silver_etl_script.py:1019-1041): one audit row
    * per pipeline run, appended. */
  def writeRunMetadata(spark: SparkSession, runId: String, startDate: String,
                       stats: EtlStats, path: String): Unit = {
    import spark.implicits._
    Seq((runId, startDate, "bronze", "silver",
      Mappings.ProjectSpiders.mkString(","), stats.recordsRead,
      stats.recordsValid, stats.recordsInvalid, stats.recordsWritten,
      stats.duplicatesRemoved, stats.avgCompletenessScore, "SUCCESS"))
      .toDF("pipeline_run_id", "execution_date", "source_layer", "target_layer",
        "spiders", "records_read", "records_valid", "records_invalid",
        "records_written", "duplicates_removed", "avg_completeness_score",
        "status")
      .write.mode(SaveMode.Append).parquet(path)
  }
}
