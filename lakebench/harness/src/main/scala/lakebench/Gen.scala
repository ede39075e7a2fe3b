package lakebench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded generator of raw Ad Manager line-item drops (FIXTURES.md B1
  * shape). It keeps the ground truth the output checks compare against:
  * every version each key should have in the SCD-2 warehouse, and its
  * counters.
  *
  * Day sizes are a seed-shuffled permutation of one fixed multiset, so
  * every seed loads the same number of records in a different order. The
  * same generator emits the hourly slices the micro-batch streams replay.
  */
object Gen {
  val YearFloor = 2019

  /** The days of one cycle: new keys as a multiple of the base day size
    * (skewed on purpose) and the day's schema drift ("drop": two optional
    * fields missing; "add": two fields no earlier day had, one a nested
    * array). The seed permutes the days within each cycle, so whole
    * cycles always carry the same load.
    */
  val Cycle: Seq[(Double, String)] = Seq(0.5 -> "drop", 1.0 -> "none", 2.5 -> "add")

  /** Day 0 bootstraps the warehouse and day 1 warms the JVM up (both 1×,
    * no drift); the cycles start here.
    */
  val FirstCycleDay = 2

  /** Existing keys that change (and get a new SCD-2 version) each day
    * after the first, as a share of the base day size.
    */
  val ChangeShare = 0.5

  private val Statuses = Array("DRAFT", "READY", "DELIVERING", "PAUSED", "COMPLETED")
  private val Types = Array("STANDARD", "SPONSORSHIP", "PRICE_PRIORITY", "NETWORK", "HOUSE")
  private val Currencies = Array("USD", "MYR", "SGD", "EUR")
  private val Zones = Array("Asia/Kuala_Lumpur", "UTC", "Asia/Singapore", "Europe/Berlin")
  private val Locations = Array(
    (2458L, "COUNTRY", "Malaysia"), (2702L, "COUNTRY", "Singapore"), (2360L, "COUNTRY", "Indonesia"),
    (1012345L, "CITY", "Kuala Lumpur"), (1012346L, "CITY", "Penang"), (1009001L, "CITY", "Jakarta"),
    (20001L, "REGION", "Selangor"), (20002L, "REGION", "Johor"))

  /** A line item's static attributes plus its mutable delivery state. */
  final class Item(val id: Long, val orderId: Long, r: SplittableRandom) {
    val startYear: Int = if (r.nextInt(20) == 0) 2017 + r.nextInt(2) else 2019 + r.nextInt(6)
    val itemType: String = Types(r.nextInt(Types.length))
    val priority: Int = 4 + r.nextInt(13)
    val currency: String = Currencies(r.nextInt(Currencies.length))
    val microAmount: Int = 100000 + r.nextInt(4900000)
    val goalUnits: Int = 1000 * (1 + r.nextInt(500))
    val startMonth: Int = 1 + r.nextInt(12)
    val startDay: Int = 1 + r.nextInt(28)
    val zone: String = Zones(r.nextInt(Zones.length))
    val locations: Seq[Int] = Seq.fill(r.nextInt(5))(r.nextInt(Locations.length))
    val adUnits: Seq[Long] = Seq.fill(r.nextInt(4))(77000L + r.nextInt(500))
    val customFields: Seq[(Int, String)] = Seq.fill(r.nextInt(4))((900 + r.nextInt(20), s"tier-${r.nextInt(5)}"))
    var status: String = Statuses(r.nextInt(2))
    var impressions = 0L
    var clicks = 0L
    var videoCompletions = 0L
    var videoStarts = 0L
    var viewable = 0L

    def loaded: Boolean = startYear >= YearFloor

    /** One delivery step: cumulative counters only grow. */
    def advance(r: SplittableRandom): Unit = {
      val imp = 1000L + r.nextInt(50000)
      impressions += imp
      clicks += imp / (20 + r.nextInt(80))
      videoStarts += imp / (5 + r.nextInt(10))
      videoCompletions += imp / (10 + r.nextInt(20))
      viewable += imp / 2 + r.nextInt(1000)
      if (r.nextInt(3) == 0) status = Statuses(r.nextInt(Statuses.length))
    }

    def counters: Counters = Counters(impressions, clicks, videoCompletions, videoStarts, viewable, status)
  }

  final case class Counters(impressions: Long, clicks: Long, videoCompletions: Long, videoStarts: Long,
      viewable: Long, status: String)

  /** One daily drop: the records it carries (as counters at drop time) and
    * whether it drifts (adds or drops fields).
    */
  final case class Day(index: Int, date: java.time.LocalDate, records: Seq[(Item, Counters)], drift: String) {
    def nowLiteral: String = s"$date 00:00:01"
    def loadedRecords: Seq[(Item, Counters)] = records.filter(_._1.loaded)
  }

  /** A seeded, growing line-item population: each drop carries some new
    * items and a sample of existing ones, every one advanced one delivery
    * step.
    */
  private final class Population(r: SplittableRandom, firstId: Long) {
    private val items = mutable.ArrayBuffer[Item]()

    def drop(nChanged: Int, nFresh: Int): Seq[(Item, Counters)] = {
      val changed = sample(items.size, nChanged).map(items(_))
      val fresh = Seq.fill(nFresh) {
        val it = new Item(firstId + items.size, 100000L + items.size / 4, r.split())
        items += it
        it
      }
      (changed ++ fresh).map { it => it.advance(r); it -> it.counters }
    }

    private def sample(n: Int, k: Int): Seq[Int] = {
      val picked = mutable.LinkedHashSet[Int]()
      while (picked.size < math.min(k, n)) picked += r.nextInt(n)
      picked.toSeq.sorted
    }
  }

  /** A seeded run of daily drops over a growing line-item population. */
  final class Days(seed: Long, baseDay: Int, nDays: Int, firstDate: java.time.LocalDate) {
    private val pop = new Population(new SplittableRandom(seed), 5000000L)
    private val shuffle = new scala.util.Random(seed)
    private val plan: IndexedSeq[(Double, String)] =
      (0 until nDays / Cycle.size + 1).flatMap(_ => shuffle.shuffle(Cycle))

    val days: IndexedSeq[Day] = (0 until nDays).map { d =>
      val (scale, drift) = if (d < FirstCycleDay) (1.0, "none") else plan(d - FirstCycleDay)
      val nChange = if (d == 0) 0 else (baseDay * ChangeShare).toInt
      Day(d, firstDate.plusDays(d), pop.drop(nChange, (baseDay * scale).toInt), drift)
    }
  }

  /** Hourly slices for the micro-batch streams, from their own population:
    * the first hour holds `perHour` new items, every later one half new
    * items and half changes to earlier ones. Rows are flat (the staged
    * shape the SCD-2 sink upserts), one JSON-lines file per hour, and carry
    * their hour as `insrt_ts`.
    */
  final class Hours(seed: Long, perHour: Int, nHours: Int, firstDate: java.time.LocalDate) {
    private val pop = new Population(new SplittableRandom(seed ^ 0x5eedL), 8000000L)
    val slices: IndexedSeq[Seq[(Item, Counters)]] = (0 until nHours).map { h =>
      if (h == 0) pop.drop(0, perHour) else pop.drop(perHour / 2, perHour - perHour / 2)
    }

    /** Insert timestamp of hour `h` (also the close time its batch stamps). */
    def ts(h: Int): String = f"$firstDate ${h + 1}%02d:00:00"

    /** Expected SCD-2 versions per key after all slices. */
    def truth: Map[Long, Seq[(Int, Counters)]] = versions(slices.zipWithIndex.map { case (s, h) => h -> s })

    /** Land every slice in `dir`, modification times in hour order (the
      * file source replays files oldest first); returns the total bytes.
      */
    def land(dir: String): Long = {
      val p = Paths.get(dir)
      Files.createDirectories(p)
      slices.zipWithIndex.map { case (s, h) =>
        val body = s.map { case (it, c) =>
          s"""{"line_item_id": ${it.id}, "order_id": ${it.orderId}, "status": ${q(c.status)}, """ +
            s""""impressions_delivered": ${c.impressions}, "clicks_delivered": ${c.clicks}, """ +
            s""""video_completions_delivered": ${c.videoCompletions}, "video_starts_delivered": ${c.videoStarts}, """ +
            s""""viewable_impressions_delivered": ${c.viewable}, "insrt_ts": ${q(ts(h))}}"""
        }.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
        val f = p.resolve(f"hour-$h%03d.json")
        Files.write(f, body)
        Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime.fromMillis(1700000000000L + h * 60000L))
        body.length.toLong
      }.sum
    }
  }

  /** Expected warehouse state after loading days `0..last`: per key, the
    * counters of each version in load order and the day each was inserted.
    */
  def truth(days: Seq[Day]): Map[Long, Seq[(Int, Counters)]] = versions(days.map(d => d.index -> d.loadedRecords))

  private def versions(drops: Seq[(Int, Seq[(Item, Counters)])]): Map[Long, Seq[(Int, Counters)]] = {
    val m = mutable.LinkedHashMap[Long, mutable.ArrayBuffer[(Int, Counters)]]()
    drops.foreach { case (i, recs) => recs.foreach { case (it, c) =>
      m.getOrElseUpdate(it.id, mutable.ArrayBuffer()) += (i -> c)
    } }
    m.map { case (k, v) => k -> v.toSeq }.toMap
  }

  private def q(s: String): String = "\"" + s + "\""

  private def dateTime(y: Int, mo: Int, d: Int, h: Int, mi: Int, s: Int, tz: String): String =
    s"""{"date": {"year": $y, "month": $mo, "day": $d}, "hour": $h, "minute": $mi, "second": $s, "timeZoneId": ${q(tz)}}"""

  /** One record as a pretty-printed JSON object (ingestion.py writes the
    * API response with indentation, one array per entity per day).
    */
  private def recordJson(it: Item, c: Counters, day: Day): String = {
    val locs = it.locations.map { i =>
      val (id, tpe, name) = Locations(i)
      val parent = if (tpe == "COUNTRY") "null" else "2458"
      s"""{"id": $id, "type": ${q(tpe)}, "canonicalParentId": $parent, "displayName": ${q(name)}}"""
    }
    val units = it.adUnits.map(u => s"""{"adUnitId": ${q(u.toString)}, "includeDescendants": ${u % 2 == 0}}""")
    val cfs = it.customFields.map { case (id, v) => s"""{"customFieldId": $id, "value": {"value": ${q(v)}}}""" }
    val fields = mutable.ArrayBuffer[String](
      s""""orderId": ${it.orderId}""",
      s""""id": ${it.id}""",
      s""""name": ${q(s"li-${it.id}")}""",
      s""""orderName": ${q(s"ord-${it.orderId}")}""",
      s""""lineItemType": ${q(it.itemType)}""",
      s""""priority": ${it.priority}""",
      s""""status": ${q(c.status)}""",
      s""""isArchived": ${c.status == "COMPLETED"}""",
      s""""costPerUnit": {"currencyCode": ${q(it.currency)}, "microAmount": ${it.microAmount}}""",
      s""""primaryGoal": {"goalType": "LIFETIME", "unitType": "IMPRESSIONS", "units": ${it.goalUnits}}""",
      s""""clicksDelivered": ${c.clicks}""",
      s""""impressionsDelivered": ${c.impressions}""",
      s""""videoCompletionsDelivered": ${c.videoCompletions}""",
      s""""videoStartsDelivered": ${c.videoStarts}""",
      s""""viewableImpressionsDelivered": ${c.viewable}""",
      s""""startDateTime": ${dateTime(it.startYear, it.startMonth, it.startDay, 0, 0, 0, it.zone)}""",
      s""""endDateTime": ${dateTime(it.startYear + 1, it.startMonth, it.startDay, 23, 59, 0, it.zone)}""",
      s""""lastModifiedDateTime": ${dateTime(day.date.getYear, day.date.getMonthValue, day.date.getDayOfMonth, 1, 0, 0, "UTC")}""",
      s""""targeting": {"geoTargeting": {"targetedLocations": [${locs.mkString(", ")}]}, "inventoryTargeting": {"targetedAdUnits": [${units.mkString(", ")}]}}""",
      s""""customFieldValues": [${cfs.mkString(", ")}]"""
    )
    if (day.drift != "drop") {
      fields += s""""externalId": ${q(s"x${it.id}")}"""
      fields += s""""notes": ${q("SENSITIVE")}"""
    }
    if (day.drift == "add") {
      fields += s""""deliveryRateType": ${q(if (it.id % 2 == 0) "EVENLY" else "FRONTLOADED")}"""
      fields += s""""frequencyCaps": [{"maxImpressions": ${1 + it.id % 9}, "numTimeUnits": 1, "timeUnit": "DAY"}]"""
    }
    fields.mkString("  {\n    ", ",\n    ", "\n  }")
  }

  /** Land one day's drop where the ingest stage would; returns its bytes. */
  def writeDay(dir: String, day: Day): Long = {
    val p = Paths.get(dir)
    Files.createDirectories(p)
    val body = day.records.map { case (it, c) => recordJson(it, c, day) }.mkString("[\n", ",\n", "\n]\n")
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    Files.write(p.resolve("line_item.json"), bytes)
    bytes.length.toLong
  }
}
