package pipebench

import java.time.{Instant, ZoneOffset}
import scala.util.Random

/** Seeded click-event generator for the event pipeline, and the answers the
  * pipeline's outputs must match, computed here from the generator's own
  * records (never by the program under test).
  *
  * Event mix: sessions of 1-12 human clicks 5-120 s apart, plus 4% bot
  * sessions of 31-45 clicks 0.2-0.9 s apart; 80% of sessions belong to one
  * of a pool of users, the rest are anonymous. Timestamps spread over the
  * two whole hours before the run started. Lines: 1% malformed JSON and 1%
  * null `event_id` (both must go to quarantine); no out-of-domain values. */
object Clicks {
  val ClickTypes = Seq("page_view", "product_view", "add_to_cart",
    "remove_from_cart", "search", "filter_apply", "wishlist_add")
  private val ClickWeights = Seq(30, 25, 12, 5, 15, 8, 5)
  val Devices = Seq("mobile", "desktop", "tablet")
  val Countries = Seq("US", "IN", "GB", "DE", "CA", "AU", "BR")

  final case class Click(id: String, tsUs: Long, session: String,
      user: Option[String], clickType: String, device: String, country: String) {
    def json: String = {
      val u = user.map(x => "\"" + x + "\"").getOrElse("null")
      s"""{"event_id":"$id","event_type":"user_click","timestamp":"${isoUs(tsUs)}",""" +
        s""""session_id":"$session","user_id":$u,"click_type":"$clickType",""" +
        s""""page_url":"https://shop.example.com/p/${math.abs(id.hashCode % 5000)}",""" +
        s""""device_type":"$device","browser":"firefox","country_code":"$country",""" +
        s""""utm_source":"newsletter"}"""
    }
  }

  /** One line of a drop file: a click that must land in bronze, or a line
    * that must land in quarantine. */
  final case class Line(text: String, click: Option[Click])

  /** `files` drop files of `perFile` lines each, timestamps in
    * `[baseUs, baseUs + 2 h)`. */
  def generate(seed: Long, files: Int, perFile: Int, baseUs: Long): Seq[Seq[Line]] = {
    val rnd = new Random(seed)
    val total = files * perFile
    val nBad = total / 100
    val nValid = total - 2 * nBad
    val users = math.max(4, nValid / 15)
    val span = 2L * 3600 * 1000000L
    val clicks = Iterator.from(0).flatMap { s =>
      val bot = rnd.nextInt(100) < 4
      val n = if (bot) 31 + rnd.nextInt(15) else 1 + rnd.nextInt(12)
      val gapsUs = Seq.fill(n - 1)(
        if (bot) 200000L + rnd.nextInt(700000) else 5000000L + rnd.nextInt(115) * 1000000L)
      val start = baseUs + (rnd.nextDouble() * (span - gapsUs.sum - 1)).toLong
      val user = if (rnd.nextInt(100) < 80) Some(s"u$seed-${rnd.nextInt(users)}") else None
      val device = Devices(rnd.nextInt(Devices.size))
      val country = Countries(rnd.nextInt(Countries.size))
      gapsUs.scanLeft(start)(_ + _).map(ts => (s"s$seed-$s", user, device, country, ts))
    }.take(nValid).zipWithIndex.map { case ((sess, user, dev, cc, ts), i) =>
      Click(s"e$seed-$i", ts, sess, user, weighted(rnd), dev, cc)
    }.toVector
    val good = clicks.map(c => Line(c.json, Some(c)))
    val malformed = (0 until nBad).map(i => Line(s"""{"event_id":"bad$seed-$i","timestamp":""", None))
    val nullId = (0 until nBad).map { i =>
      Line(clicks(i).copy(id = "NULL").json.replace("\"NULL\"", "null"), None)
    }
    rnd.shuffle(good ++ malformed ++ nullId).grouped(perFile).map(_.toSeq).toSeq
  }

  private def weighted(rnd: Random): String = {
    var r = rnd.nextInt(ClickWeights.sum); var i = 0
    while (r >= ClickWeights(i)) { r -= ClickWeights(i); i += 1 }
    ClickTypes(i)
  }

  def isoUs(tsUs: Long): String = {
    val t = Instant.ofEpochSecond(tsUs / 1000000L, (tsUs % 1000000L) * 1000L)
      .atOffset(ZoneOffset.UTC)
    f"${t.getYear}%04d-${t.getMonthValue}%02d-${t.getDayOfMonth}%02dT" +
      f"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d.${tsUs % 1000000L}%06d"
  }

  /** (year, month, day, hour) of a timestamp, as the bronze layout names it. */
  def hourOf(tsUs: Long): (Int, Int, Int, Int) = {
    val t = Instant.ofEpochSecond(tsUs / 1000000L).atOffset(ZoneOffset.UTC)
    (t.getYear, t.getMonthValue, t.getDayOfMonth, t.getHour)
  }

  def dateOf(tsUs: Long): String = isoUs(tsUs).take(10)

  /** Expected gold rows ((date, click_type) → (n_events, n_users)) of one
    * hour's clicks. */
  def expectedGold(cs: Seq[Click]): Map[(String, String), (Long, Long)] =
    cs.groupBy(c => (dateOf(c.tsUs), c.clickType)).map { case (k, v) =>
      k -> (v.size.toLong, v.flatMap(_.user).distinct.size.toLong)
    }

  /** Expected (is_bot, user_segment) per event id of one hour's clicks: a
    * session is a bot above 30 clicks or above one click per second over
    * its span; a user's segment follows their click count. */
  def expectedEnrichment(cs: Seq[Click]): Map[String, (Boolean, String)] = {
    val bot = cs.groupBy(_.session).map { case (s, v) =>
      val spanUs = v.map(_.tsUs).max - v.map(_.tsUs).min
      val rate = if (spanUs > 0) v.size * 1e6 / spanUs else 0.0
      s -> (v.size > 30 || rate > 1.0)
    }
    val perUser = cs.flatMap(_.user).groupBy(identity).map { case (u, v) => u -> v.size }
    cs.map { c =>
      val seg = c.user match {
        case None => "anonymous"
        case Some(u) if perUser(u) >= 20 => "high_value"
        case Some(u) if perUser(u) < 3 => "at_risk"
        case _ => "regular"
      }
      c.id -> (bot(c.session), seg)
    }.toMap
  }
}
