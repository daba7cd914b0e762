package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.util.Random

/** Seeded bronze JSONL in the three spider shapes of
  * `graft.fixtures.BronzeFixtures` (chotot flat records with a "lat,lng"
  * geo string, meeyproject nested GeoJSON/translation records,
  * onehousing records with hectare areas and bedroom insights).
  *
  * The seed picks every value and which keys carry which defect; the
  * COUNTS are fixed by the shares below, so every seed yields the same
  * predicted [[graft.silver.SilverEtl.EtlStats]] and lake shape and only
  * the data differs. Shares, and why each was chosen:
  *
  *  - spider mix 60/25/15 (chotot/meey/onehousing): chotot is the
  *    high-volume listing site; the nested meey and onehousing shapes
  *    still get enough rows for their schema-mapping branches to cost
  *    something;
  *  - 2% in-batch duplicates (an older crawl of the same key): enough
  *    that keep-latest dedup does real work, small like real re-crawls;
  *  - 1% invalid rows (no project name) for the quarantine sink;
  *  - 0.1% 4σ price outliers (1e15 VND): a 4σ rule only removes a point
  *    while the outlier share stays under 1/17, so a handful per mille
  *    is what the rule is built for; all regular numeric values are
  *    uniform, whose |z| never exceeds √3, so nothing else is removed;
  *  - 3% unpriced rows for district-median imputation;
  *  - 2% zero coordinates for centroid geocoding;
  *  - day 2 is 30% of day 1's volume: two thirds updates of live day-1
  *    keys (a changed name closes an SCD2 version) and one third new
  *    keys, the 20k/10k split of the recorded soaks. Updates are drawn
  *    from the three most recent ingestion months, as re-crawled
  *    listings are, so incremental gold recomputes 3 of 12 months.
  */
object BronzeGen {

  val Spiders: Seq[String] = Seq("chotot_api", "meeyproject_api", "onehousing_api")
  val Day1 = "2025-01-15"
  val Day2 = "2025-01-16"

  /** The counts a correct silver run must report for one bronze day. */
  final case class DayCounts(read: Long, invalid: Long, duplicates: Long,
                             outliers: Long) {
    def valid: Long = read - invalid
  }

  /** One generated day: its counts and the live/closed keys the lake
    * must hold after it. */
  final case class Day(counts: DayCounts, liveKeys: Long, closedRows: Long,
                       bronzeBytes: Long)

  private final case class Rec(spider: Int, key: String, month: Int,
                               ts: String, name: String, kind: Kind)

  private sealed trait Kind
  private case object Regular extends Kind
  private case object Invalid extends Kind
  private case object Outlier extends Kind
  private case object Unpriced extends Kind
  private case object ZeroCoord extends Kind

  // ingestion months of day-1 rows: 2024-02 .. 2025-01
  private val months: IndexedSeq[(Int, Int)] =
    (0 until 12).map(i => if (i < 11) (2024, i + 2) else (2025, 1))

  private def share(n: Int, s: Double): Int = math.round(n * s).toInt

  /** Day 1 (`n1` lines, drawn from `day1Seed`) and, given `day2Seed`,
    * day 2 (0.3 × n1 lines) whose updates hit day 1's keys. Writes the
    * days in `write` under `base`/bronze and returns both days'
    * predictions; a day not written reports 0 bronze bytes. */
  def generate(base: Path, day1Seed: Long, n1: Int, day2Seed: Option[Long],
               write: Set[String]): (Day, Option[Day]) = {
    val rnd = new Random(day1Seed)
    val seed = day1Seed
    val nDup1 = share(n1, 0.02)
    val keysLines1 = n1 - nDup1
    // per-line defect kinds over the unique keys of day 1
    val kinds1 = kindsFor(keysLines1, n1, rnd)
    val recs1 = (0 until keysLines1).map { i =>
      val spider = spiderOf(rnd)
      val m = rnd.nextInt(12)
      Rec(spider, f"${prefix(spider)}_$seed%d_$i%07d", m,
        tsIn(months(m), rnd), s"Chung cư ${names(rnd)} $i", kinds1(i))
    }
    // duplicates: an older crawl of a regular key, written first
    val dupSources = rnd.shuffle(recs1.indices.filter(i => recs1(i).kind == Regular).toVector)
      .take(nDup1)
    val dups1 = dupSources.map { i =>
      val r = recs1(i)
      r.copy(ts = olderTs(r.ts), name = r.name + " cũ")
    }
    val bytes1 = if (write(Day1)) writeDay(base, Day1, dups1 ++ recs1, rnd) else 0L
    val out1 = recs1.count(r => r.kind == Outlier)
    val inv1 = recs1.count(_.kind == Invalid)
    val live1 = recs1.count(r => r.kind != Invalid && r.kind != Outlier)
    val day1 = Day(DayCounts(n1, inv1, nDup1, out1), live1, 0, bytes1)
    if (day2Seed.isEmpty) return (day1, None)
    val rnd2 = new Random(day2Seed.get)

    val n2 = share(n1, 0.30)
    val nUpd = share(n2, 2.0 / 3)
    val nDup2 = share(n2, 0.02)
    val nNew = n2 - nUpd - nDup2
    val recent = recs1.filter(r => r.month >= 9 &&
      (r.kind == Regular || r.kind == Unpriced || r.kind == ZeroCoord))
    require(recent.size >= nUpd, s"day 1 too small for $nUpd updates")
    val upd = rnd2.shuffle(recent).take(nUpd).map(r =>
      r.copy(ts = s"${Day2}T08:00:00", name = s"Đổi tên ${names(rnd2)} ${r.key}"))
    val kinds2 = kindsFor(nNew, n2, rnd2)
    val fresh = (0 until nNew).map { i =>
      val spider = spiderOf(rnd2)
      Rec(spider, f"${prefix(spider)}_${day2Seed.get}%d_n$i%07d", 11,
        s"${Day2}T08:${rnd2.nextInt(50) + 10}:00", s"Chung cư ${names(rnd2)} n$i",
        kinds2(i))
    }
    val dup2 = rnd2.shuffle(fresh.filter(_.kind == Regular)).take(nDup2)
      .map(r => r.copy(ts = s"${Day2}T07:00:00", name = r.name + " cũ"))
    val bytes2 = if (write(Day2)) writeDay(base, Day2, dup2 ++ rnd2.shuffle(upd ++ fresh), rnd2) else 0L
    val newLive = fresh.count(r => r.kind != Invalid && r.kind != Outlier)
    val day2 = Day(DayCounts(n2, fresh.count(_.kind == Invalid), nDup2,
      fresh.count(_.kind == Outlier)), live1 + newLive, nUpd, bytes2)
    (day1, Some(day2))
  }

  /** Defect kinds for `keys` unique-key lines, shares taken of the day's
    * `lines`: invalid 1%, outlier 0.1%, unpriced 3%, zero coords 2%. */
  private def kindsFor(keys: Int, lines: Int, rnd: Random): IndexedSeq[Kind] = {
    val special = Seq(Invalid -> share(lines, 0.01), Outlier -> share(lines, 0.001),
      Unpriced -> share(lines, 0.03), ZeroCoord -> share(lines, 0.02))
    val tagged = special.flatMap { case (k, n) => Seq.fill(n)(k) }
    require(tagged.size < keys)
    rnd.shuffle((tagged ++ Seq.fill(keys - tagged.size)(Regular)).toVector)
  }

  private def spiderOf(rnd: Random): Int = {
    val u = rnd.nextDouble()
    if (u < 0.60) 0 else if (u < 0.85) 1 else 2
  }

  private def prefix(spider: Int): String = Seq("ch", "me", "oh")(spider)

  private val nameWords = Vector("Sài Gòn", "Hà Nội", "Riverside", "Sunrise",
    "Green Park", "Vinhomes", "Masteri", "Lakeview", "Ocean", "Star")
  private def names(rnd: Random): String = nameWords(rnd.nextInt(nameWords.size))

  private def tsIn(ym: (Int, Int), rnd: Random): String = {
    val (y, m) = ym
    val day = if (y == 2025) rnd.nextInt(14) + 1 else rnd.nextInt(28) + 1
    f"$y%04d-$m%02d-$day%02dT${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:00"
  }

  private def olderTs(ts: String): String =
    java.time.LocalDateTime.parse(ts).minusHours(6).toString match {
      case s if s.length == 16 => s + ":00"
      case s => s
    }

  // ---------------------------------------------------------- rendering

  private val districts = Vector("Quận 1", "Quận 3", "Quận 7", "Bình Thạnh",
    "Thủ Đức", "Cầu Giấy", "Nam Từ Liêm", "Đống Đa", "Hai Bà Trưng", "Tây Hồ")
  private val cities = Vector("Hồ Chí Minh", "Hồ Chí Minh", "Hồ Chí Minh",
    "Hồ Chí Minh", "Hồ Chí Minh", "Hà Nội", "Hà Nội", "Hà Nội", "Hà Nội", "Hà Nội")

  private def writeDay(base: Path, date: String, recs: Seq[Rec], rnd: Random): Long = {
    val stamp = date.replace("-", "") + "_080000.jsonl"
    Spiders.indices.map { s =>
      val dir = base.resolve(s"bronze/${Spiders(s)}/year=${date.take(4)}/month=${date.slice(5, 7)}")
      Files.createDirectories(dir)
      val f = dir.resolve(stamp)
      val w = Files.newBufferedWriter(f, StandardCharsets.UTF_8)
      try recs.iterator.filter(_.spider == s).foreach { r =>
        w.write(render(r, rnd)); w.newLine()
      } finally w.close()
      Files.size(f)
    }.sum
  }

  private def render(r: Rec, rnd: Random): String = {
    val d = rnd.nextInt(districts.size)
    val (district, city) = (districts(d), cities(d))
    val lo = 1.0e9 + rnd.nextDouble() * 2.0e9
    val hi = lo + 0.5e9 + rnd.nextDouble() * 1.0e9
    val (pLo, pHi) = if (r.kind == Outlier) (1.0e15, 1.1e15) else (lo, hi)
    val uLo = 4.0e7 + rnd.nextDouble() * 4.0e7
    val uHi = uLo + 1.0e7 + rnd.nextDouble() * 2.0e7
    val area = 1000.0 + rnd.nextDouble() * 8000.0
    val lat = if (city == "Hà Nội") 21.0 + rnd.nextDouble() * 0.08 else 10.7 + rnd.nextDouble() * 0.1
    val lon = if (city == "Hà Nội") 105.78 + rnd.nextDouble() * 0.08 else 106.6 + rnd.nextDouble() * 0.1
    val (la, lg) = if (r.kind == ZeroCoord) (0.0, 0.0) else (lat, lon)
    val i = rnd.nextInt(1000)
    val env = s""""timestamp":"${r.ts}","spider_name":"${Spiders(r.spider)}","process_run_id":"run_${r.ts.take(10).replace("-", "")}""""
    r.spider match {
      case 0 =>
        val name = if (r.kind == Invalid) "" else s""""project_name":"${r.name}","""
        val prices = if (r.kind == Unpriced) "" else
          s""""sell_price_lower":$pLo,"sell_price_higher":$pHi,"price_lowest_per_m2":$uLo,"price_highest_per_m2":$uHi,"""
        s"""{$env,"project_oid":"${r.key}",$name"alias":"a$i","type_name":"apartment","process":"selling","introduction":"Căn hộ cao cấp &amp; hiện đại<br/>có bể bơi và phòng gym","address":"$i Lê Lợi","full_address":"$i Lê Lợi, $district","street_name":"Lê Lợi","ward_name":"Phường ${i % 20 + 1}","area_name":"$district","region_name":"$city","area_total":$area,"area_construction":${area / 2},"unit_total":"${100 + i}",$prices"investor_id":"inv_${i % 97}","investor_name":"Investor ${i % 97}","start_construction":"2021-03-0${i % 9 + 1}","facilities":["pool","gym"],"project_images":["http://img/$i.jpg"],"web_url":"http://chotot.example/${r.key}","geo":"$la,$lg"}"""
      case 1 =>
        val name = if (r.kind == Invalid) "" else s""""name":"${r.name}","""
        val prices = if (r.kind == Unpriced) "" else
          s""""lowestPriceByProduct":$pLo,"highestPriceByProduct":$pHi,"lowestPriceByM2":$uLo,"highestPriceByM2":$uHi,"""
        s"""{$env,"_id":"${r.key}",${name}"tradeName":"KDT$i","slug":"kdt-$i","description":"Dự án có sân chơi và khu vui chơi cho trẻ em, an ninh 24/7","address":"$i Xuân Thủy",$prices"totalArea":$area,"totalApartment":${500 + i},"buildingDensity":0.${40 + i % 10},"totalBuilding":${3 + i % 5},"totalFloor":${20 + i % 30},"location":{"type":"Point","coordinates":[$lg,$la]},"projectTypes":[{"translation":[{"name":"Căn hộ"},{"name":"Apartment"}]}],"images":[{"url":"http://meey/img$i.jpg"}],"videos":["http://meey/v$i.mp4"],"investorRelated":{"investor":{"name":"Tập đoàn ${i % 53}"}},"utilities":{"basicUtilities":["Hồ bơi","Gym"]},"ward":{"translation":[{"name":"Phường ${i % 20 + 1}"}]},"district":{"translation":[{"name":"$district"}]},"city":{"translation":[{"name":"$city"}]}}"""
      case _ =>
        val name = if (r.kind == Invalid) "" else s""""name":"${r.name}","""
        val prices = if (r.kind == Unpriced) "" else
          s""""min_selling_price":$pLo,"max_selling_price":$pHi,"min_unit_price":$uLo,"max_unit_price":$uHi,"""
        val handover = if (i % 2 == 0) "\"2022-04-01\"" else "1648771200000"
        s"""{$env,"id":"${r.key}",${name}"code":"OH$i","slug":"oh-$i","description":"Premium tower with swimming pool, gym, parking and garden","address":"$i Phạm Hùng","ward":"Phường ${i % 20 + 1}","district":"$district","city":"$city","province":"$city","lat_cdnt":$la,"long_cdnt":$lg,"total_area":${area / 10000},"blocks":${1 + i % 4},"total_property":${200 + i},"number_living_floor":${15 + i % 25},"green_dens":0.3,"cstn_dens":0.45,"min_prop_per_floor":6,"max_prop_per_floor":10,$prices"insight_by_bedroom":[{"number_of_bedroom":2,"min_price":3.0e9,"max_price":3.6e9,"min_carpet_area":70.0,"max_carpet_area":85.0}],"developer_name":"Dev ${i % 31}","handover_date_from":$handover,"construction_start_date_from":"2019-06-01","trans_grade":"Tốt","infra_grade":"Khá","school_grade":"Tốt","albums":[{"images":["http://oh/$i.jpg"]}],"number_basement":[2],"number_ele":[4]}"""
    }
  }
}
