package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.util.Random

/** Seeded three-spider bronze JSONL, in the shapes `SilverEtl.mapSource`
  * reads (the same source layouts as `graft.fixtures.BronzeFixtures`),
  * with every anomaly planted by count so the pipeline's outputs can be
  * checked against exact truths.
  *
  * Value ranges are chosen so that only the planted rows can trip the
  * silver 4σ filter: every ordinary numeric field is uniform over a range
  * shared by all spiders (a uniform sample never reaches |z| = 4), and a
  * planted outlier's price is 10⁶ times the ordinary maximum.
  */
object BronzeGen {

  val Spiders: Seq[String] = graft.schema.Mappings.ProjectSpiders

  /** Share of each spider in a day, in records per 51: the crawlers' time
    * budgets (chotot 30 min, meeyproject 20 min, onehousing 1 min) are the
    * only evidence of relative volume the reference records. */
  val SpiderShare: Seq[(String, Int)] = Spiders.zip(Seq(30, 20, 1))

  private val Cycle: IndexedSeq[String] =
    SpiderShare.flatMap { case (s, n) => Seq.fill(n)(s) }.toIndexedSeq

  /** Spider of the `i`-th listing: 37 is prime to the cycle's 51, so every
    * 51 consecutive listings hold each spider's share, interleaved. */
  def spiderOf(i: Int): String = Cycle((i.toLong * 37 % Cycle.size).toInt)

  /** What one bronze day contains, by construction.
    *
    *  - `read`: every line written;
    *  - `invalid`: lines without a project name (silver quarantines them);
    *  - `duplicates`: earlier re-sends of a valid record in the same day
    *    (keep-latest drops them);
    *  - `outliers`: keys priced far outside 4σ (dropped after dedup);
    *  - `keys`: distinct valid keys, outliers included. */
  final case class Planted(read: Int, invalid: Int, duplicates: Int,
                           outliers: Int, keys: Int)

  /** One listing: spider, numeric id and the history month it was first
    * ingested in. */
  final case class Key(spider: String, id: Int, month: Int) {
    def sourceId: String = spider.take(2) + "_" + id
  }

  /** A generated day: its JSONL lines per spider and what was planted. */
  final case class Day(date: String, lines: Map[String, Seq[String]],
                       planted: Planted) {
    def write(bronzeBase: Path, filesPerSpider: Int = 2): Long = {
      val (y, m) = (date.substring(0, 4), date.substring(5, 7))
      var bytes = 0L
      lines.foreach { case (spider, ls) =>
        val dir = bronzeBase.resolve(spider).resolve(s"year=$y")
          .resolve(s"month=$m")
        Files.createDirectories(dir)
        val per = math.max(1, (ls.size + filesPerSpider - 1) / filesPerSpider)
        ls.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
          val f = dir.resolve(f"${date.replace("-", "")}_${i * 6}%02d0000.jsonl")
          val b = chunk.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
          Files.write(f, b)
          bytes += b.length
        }
      }
      bytes
    }
  }

  // ---------------------------------------------------------------- values

  private val Cities = Seq("Hồ Chí Minh", "Hà Nội", "Đà Nẵng", "Hải Phòng",
    "Cần Thơ", "TPHCM", "Nha Trang")
  private val Districts = Seq("Quận 1", "Quận 3", "Cầu Giấy", "Ba Đình",
    "Hải Châu", "Lê Chân", "Thủ Đức", "Gò Vấp")
  private val Streets = Seq("Lê Lợi", "Nguyễn Huệ", "Xuân Thủy", "Phạm Hùng",
    "Trần Duy Hưng", "Láng Hạ", "Hai Bà Trưng")
  private val Blurbs = Seq("Căn hộ cao cấp &amp; hiện đại<br/>có bể bơi và phòng gym",
    "Dự án có sân chơi và khu vui chơi, an ninh 24/7",
    "Premium tower with swimming pool, gym, parking and garden",
    "Khu đô thị xanh, <b>bãi đỗ xe</b> rộng", "Compact tower near the metro")
  private val Grades = Seq("Rất tốt", "Tốt", "Khá", "Trung bình", "Thuận tiện")

  /** Ordinary prices: uniform, identical ranges for every spider. */
  private def price(r: Random): Double = 1.0e9 + r.nextInt(2000) * 1.0e6
  private def unitPrice(r: Random): Double = 3.0e7 + r.nextInt(4000) * 1.0e4
  private def areaM2(r: Random): Double = 3000.0 + r.nextInt(9000)
  private val OutlierPrice = 1.0e15

  private def name(k: Key): String = s"Dự án ${k.sourceId}"
  private def address(k: Key): String =
    s"${k.id % 300 + 1} ${Streets(k.id % Streets.size)}"

  private def q(s: String): String = "\"" + s.replace("\"", "\\\"") + "\""

  /** One record of `k`. `valid = false` leaves the name out (silver
    * quarantines the record). Fields other than the key's own come from
    * `r`. */
  def render(k: Key, ts: String, r: Random, valid: Boolean = true,
             outlier: Boolean = false): String = {
    val env = s""""timestamp":${q(ts)},"spider_name":${q(k.spider)},"process_run_id":"run_bench""""
    val nm = if (valid) s""",${nameField(k.spider)}:${q(name(k))}""" else ""
    val (lo, hi) =
      if (outlier) (OutlierPrice, OutlierPrice * 1.1)
      else { val a = price(r); (a, a + price(r)) }
    val (ulo, uhi) = { val a = unitPrice(r); (a, a + unitPrice(r) / 2) }
    val addr = q(address(k))
    val city = Cities(k.id % Cities.size)
    val district = Districts(k.id % Districts.size)
    val blurb = Blurbs(r.nextInt(Blurbs.size))
    val lat = 10.5 + r.nextInt(1100) / 100.0
    val lon = 105.5 + r.nextInt(150) / 100.0
    k.spider match {
      case "chotot_api" =>
        s"""{$env,"project_oid":${q(k.sourceId)}$nm,"alias":"a${k.id}","type_name":"apartment","process":"selling","introduction":${q(blurb)},"address":$addr,"full_address":${q(s"${address(k)}, $district")},"street_name":${q(Streets(k.id % Streets.size))},"ward_name":"Bến Nghé","area_name":${q(district)},"region_name":${q(city)},"area_total":${areaM2(r)},"area_construction":${areaM2(r) / 2},"unit_total":"${100 + r.nextInt(900)}","sell_price_lower":$lo,"sell_price_higher":$hi,"price_lowest_per_m2":$ulo,"price_highest_per_m2":$uhi,"investor_id":"inv_${k.id % 97}","investor_name":"Investor ${k.id % 97}","start_construction":"2021-0${1 + r.nextInt(9)}-1${r.nextInt(9)}","facilities":["pool","gym"],"project_images":["http://img/${k.id}.jpg"],"web_url":"http://chotot.example/${k.id}","geo":"$lat,$lon"}"""
      case "meeyproject_api" =>
        s"""{$env,"_id":${q(k.sourceId)}$nm,"tradeName":"T${k.id}","slug":"p-${k.id}","description":${q(blurb)},"address":$addr,"lowestPriceByProduct":$lo,"highestPriceByProduct":$hi,"lowestPriceByM2":$ulo,"highestPriceByM2":$uhi,"totalArea":${areaM2(r)},"totalApartment":${200 + r.nextInt(800)},"buildingDensity":0.${30 + r.nextInt(40)},"totalBuilding":${1 + r.nextInt(6)},"totalFloor":${10 + r.nextInt(30)},"location":{"type":"Point","coordinates":[$lon,$lat]},"projectTypes":[{"translation":[{"name":"Căn hộ"},{"name":"Apartment"}]}],"images":[{"url":"http://meey/${k.id}.jpg"}],"videos":["http://meey/${k.id}.mp4"],"investorRelated":{"investor":{"name":"Tập đoàn ${k.id % 53}"}},"utilities":{"basicUtilities":["Hồ bơi","Gym"]},"ward":{"translation":[{"name":"Dịch Vọng"}]},"district":{"translation":[{"name":${q(district)}}]},"city":{"translation":[{"name":${q(city)}}]}}"""
      case _ =>
        // onehousing reports total_area in hectares (silver converts to m²)
        val handover = if (r.nextBoolean()) "\"2022-04-01\"" else "1648771200000"
        s"""{$env,"id":${q(k.sourceId)}$nm,"code":"C${k.id}","slug":"oh-${k.id}","description":${q(blurb)},"address":$addr,"ward":"Quan Hoa","district":${q(district)},"city":${q(city)},"province":${q(city)},"lat_cdnt":$lat,"long_cdnt":$lon,"total_area":${areaM2(r) / 10000},"blocks":${1 + r.nextInt(5)},"total_property":${200 + r.nextInt(800)},"number_living_floor":${10 + r.nextInt(30)},"green_dens":0.3,"cstn_dens":0.45,"min_prop_per_floor":${4 + r.nextInt(4)},"max_prop_per_floor":${8 + r.nextInt(6)},"min_selling_price":$lo,"max_selling_price":$hi,"min_unit_price":$ulo,"max_unit_price":$uhi,"insight_by_bedroom":[{"number_of_bedroom":2,"min_price":2.8e9,"max_price":3.5e9,"min_carpet_area":65.0,"max_carpet_area":80.0}],"developer_name":"Dev ${k.id % 41}","handover_date_from":$handover,"construction_start_date_from":"2020-01-15","trans_grade":${q(Grades(r.nextInt(Grades.size)))},"infra_grade":${q(Grades(r.nextInt(Grades.size)))},"school_grade":"Tốt","quality_indexes":[{"name":"air quality"}],"albums":[{"images":["http://oh/${k.id}a.jpg","http://oh/${k.id}b.jpg"]}],"videos":["http://oh/${k.id}.mp4"],"number_basement":[${1 + r.nextInt(3)}],"number_ele":[${2 + r.nextInt(6)}]}"""
    }
  }

  private def nameField(spider: String): String =
    if (spider == "chotot_api") "\"project_name\"" else "\"name\""

  // ----------------------------------------------------------------- days

  /** Months of the backfill history, oldest first ("2024-02" .. "2025-01"). */
  val HistoryMonths: IndexedSeq[String] =
    (0 until 12).map(i => f"${if (i < 11) 2024 else 2025}-${(i + 1) % 12 + 1}%02d")

  private def ts(month: String, r: Random): String =
    f"$month-${1 + r.nextInt(28)}%02dT${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d"

  /** The history a backfill loads in one bronze day: `n` distinct keys
    * spread evenly over [[HistoryMonths]] and over the spiders by
    * [[SpiderShare]]. Planted within it: `invalid` unnamed records,
    * `duplicates` earlier re-sends and `outliers` out-of-range prices.
    * Returns the day and its valid, in-range keys (the live keys silver
    * should hold afterwards). */
  def history(seed: Long, date: String, n: Int, invalid: Int, duplicates: Int,
              outliers: Int): (Day, IndexedSeq[Key]) = {
    val r = new Random(seed)
    val keys = (0 until n).map(i =>
      Key(spiderOf(i / HistoryMonths.size), i, i % HistoryMonths.size))
    val stamps = keys.map(k => ts(HistoryMonths(k.month), r))
    val outlierIdx = r.shuffle(keys.indices.toVector).take(outliers).toSet
    val lines = keys.indices.map(i =>
      keys(i).spider -> render(keys(i), stamps(i), r,
        outlier = outlierIdx.contains(i)))
    val resend = r.shuffle(keys.indices.filterNot(outlierIdx).toVector)
      .take(duplicates).map { i =>
        // an hour earlier than the record it duplicates: keep-latest
        // must keep the original
        val k = keys(i)
        k.spider -> render(k, earlier(stamps(i)), r)
      }
    val bad = (0 until invalid).map { j =>
      val k = Key(spiderOf(j), 10000000 + j, j % HistoryMonths.size)
      k.spider -> render(k, ts(HistoryMonths(k.month), r), r, valid = false)
    }
    val all = r.shuffle((lines ++ resend ++ bad).toVector)
    val live = keys.indices.filterNot(outlierIdx).map(keys)
    (Day(date, group(all), Planted(all.size, invalid, duplicates, outliers, n)),
      live)
  }

  /** `ts` minus one hour, same format. */
  private def earlier(ts: String): String = {
    val t = java.time.LocalDateTime.parse(ts).minusHours(1)
    t.format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss"))
  }

  private def group(lines: Seq[(String, String)]): Map[String, Seq[String]] =
    lines.groupBy(_._1).map { case (s, ls) => s -> ls.map(_._2) }
}
