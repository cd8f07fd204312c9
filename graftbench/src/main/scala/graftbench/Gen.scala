package graftbench

import java.nio.charset.StandardCharsets
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

/** Seeded input generators, fitted to the engine's sf0.1 test tables
 * (the figures are in README.md): `events` is machine telemetry over 30
 * days with uniform machines, times and event types and exponential
 * production values; `documents` draws 10-99 words uniformly from a
 * 30-word vocabulary, with 5% near duplicates (another document plus
 * the word "dup") and 0.16% exact duplicates. */
object Gen {

  final case class Event(id: Long, machine: Int, tsUs: Long, eventType: String, value: Double)

  final case class Doc(id: Long, text: String, lang: String, source: String)

  val StartUs: Long = 1704067200L * 1000000L // 2024-01-01 00:00:00 UTC
  val SpanUs: Long = 30L * 86400L * 1000000L
  val PassShiftUs: Long = 30L * 86400L * 1000000L

  private val EventTypes = Array("error", "purchase", "click", "view", "signup")

  def machineId(m: Int): String = s"site${m % 3}/area${m % 2}/line${m % 4}/m$m"

  /** Raw status tag value the machine config decodes (u/d/i). */
  def statusValue(eventType: String): String = eventType match {
    case "error" => "d"
    case "purchase" | "click" => "u"
    case _ => "i"
  }

  def decodedStatus(eventType: String): String = statusValue(eventType) match {
    case "d" => "DOWN"
    case "u" => "UP"
    case _ => "IDLE"
  }

  def countValue(value: Double): String = math.floor(value * 100).toLong.toString

  /** `n` events over `machines` machines, ts-ascending, ids 0..n-1. */
  def events(seed: Long, n: Int, machines: Int): Array[Event] = {
    val r = new SplittableRandom(seed)
    val raw = Array.fill(n) {
      val m = r.nextInt(machines)
      val ts = StartUs + (r.nextDouble() * SpanUs).toLong
      val et = EventTypes(r.nextInt(EventTypes.length))
      val v = math.round(-50.0 * math.log(1.0 - r.nextDouble()) * 100.0) / 100.0
      (m, ts, et, v)
    }.sortBy(_._2)
    raw.zipWithIndex.map { case ((m, ts, et, v), i) => Event(i.toLong, m, ts, et, v) }
  }

  private val TsFormat =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(ZoneOffset.UTC)

  private def tsString(us: Long): String =
    TsFormat.format(Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
      Math.floorMod(us, 1000000L) * 1000L)) + "+00:00"

  /** One JSON envelope carrying a status and a production-count tag
   * message per event, timestamps shifted by `shiftUs`. */
  def envelope(evs: Seq[Event], shiftUs: Long): Array[Byte] = {
    val sb = new StringBuilder("{\"messages\":[")
    var first = true
    evs.foreach { e =>
      val ts = tsString(e.tsUs + shiftUs)
      val mid = machineId(e.machine)
      Seq("status" -> statusValue(e.eventType), "count" -> countValue(e.value)).foreach {
        case (tag, v) =>
          if (!first) sb += ','
          first = false
          sb ++= s"""{"name":"$mid/$tag","quality":"GOOD","timestamp":"$ts","value":"$v"}"""
      }
    }
    sb ++= "]}"
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  def localTs(us: Long): LocalDateTime =
    LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
      (Math.floorMod(us, 1000000L) * 1000L).toInt, ZoneOffset.UTC)

  val Vocab: Array[String] = Array("the", "a", "fast", "slow", "big", "small", "key",
    "order", "sort", "table", "scan", "merge", "part", "window", "hash", "join",
    "batch", "stream", "spark", "group", "query", "row", "data", "filter",
    "customer", "line", "value", "agg", "column", "vector", "dup")

  /** Shares of the sf0.1 documents: `en` 41%, the other four about 15% each. */
  private val OtherLangs = Array("de", "es", "fr", "zh")
  private def lang(r: SplittableRandom): String =
    if (r.nextDouble() < 0.41) "en" else OtherLangs(r.nextInt(OtherLangs.length))

  val NearDupRate = 0.05
  val ExactDupRate = 0.0016

  /** `n` documents. Each is, independently, a near duplicate (the text
   * of another, uniformly chosen document with " dup" appended) with
   * probability [[NearDupRate]], an exact duplicate of another with
   * [[ExactDupRate]], and otherwise original. Copies are taken from
   * the originals, so the registry's eval slice (doc_id % 97 == 0)
   * holds copies and copied documents at the sf0.1 rate (about 1% of
   * them), not more. */
  def documents(seed: Long, n: Int): Array[Doc] = {
    val r = new SplittableRandom(seed)
    val original = Array.fill(n)(Array.fill(10 + r.nextInt(90))(Vocab(r.nextInt(Vocab.length - 1))).mkString(" "))
    def other(i: Int): Int = { val j = r.nextInt(n - 1); if (j >= i) j + 1 else j }
    Array.tabulate(n) { i =>
      val roll = r.nextDouble()
      val text =
        if (n < 2 || roll >= NearDupRate + ExactDupRate) original(i)
        else if (roll < NearDupRate) original(other(i)) + " dup"
        else original(other(i))
      Doc(i.toLong, text, lang(r), s"src${i % 20}")
    }
  }
}
