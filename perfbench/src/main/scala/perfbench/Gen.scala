package perfbench

import java.time.Instant

/** The benchmark's own seeded event generator: the shape of the
  * reference simulation producer (a user pool, ten event types, event
  * time running ahead of wall time, out-of-order arrival inside the 60 s
  * grace, re-sent duplicates and malformed payloads), written as JSON
  * wire records in the program's harness event schema.
  *
  * Every property of event `i` is a pure function of (seed, i), so the
  * expected tables can be rebuilt in parallel from the index alone and a
  * run with the same seed sends the same records.
  */
final case class Gen(
    seed: Long,
    users: Int,
    startMicros: Long,
    // event time advanced per event index, in microseconds
    microsPerEvent: Long,
    // a re-sent duplicate follows its original by this many events
    dupDelayMin: Long,
    dupDelayMax: Long) {
  import Gen._

  private def h(i: Long, salt: Long): Long = mix(seed * 0x9E3779B97F4A7C15L + i * 31 + salt)
  private def below(i: Long, salt: Long, n: Long): Long = java.lang.Long.remainderUnsigned(h(i, salt), n)

  def eventId(i: Long): Long = i + 1
  def userId(i: Long): Long = 1 + below(i, 1, users)
  def eventType(i: Long): String = EventTypes(below(i, 2, EventTypes.length).toInt)
  def valueCents(i: Long): Long = below(i, 3, 50000)
  /** Event time: the index clock minus up to 59 s of disorder, so an
    * event is never later than the pipeline's grace allows and never
    * earlier than `startMicros`. */
  def tsMicros(i: Long): Long =
    startMicros + MaxDisorder + i * microsPerEvent - below(i, 4, MaxDisorder)
  /** ~0.1% of events go out as malformed payloads only. */
  def malformed(i: Long): Boolean = below(i, 5, 1000) == 0
  /** ~2% of well-formed events are sent a second time, later. */
  def duplicated(i: Long): Boolean = !malformed(i) && below(i, 6, 50) == 0
  def dupAt(i: Long): Long = i + dupDelayMin + below(i, 7, dupDelayMax - dupDelayMin + 1)

  def wire(i: Long): String =
    if (malformed(i)) s"""{"event_id": ${eventId(i)}, "ts": "${fmtTs(tsMicros(i))}", "user_"""
    else {
      val c = valueCents(i)
      s"""{"event_id":${eventId(i)},"ts":"${fmtTs(tsMicros(i))}","user_id":${userId(i)},""" +
        s""""event_type":"${eventType(i)}","value":${c / 100}.${f2(c % 100)},"props":"{}"}"""
    }

  /** Wire records for events [from, until): each event once, plus the
    * duplicates of earlier events that fall due in this range; also
    * returns how many duplicates there are. */
  def records(from: Long, until: Long): (Array[String], Int) = {
    val out = Array.newBuilder[String]
    var dups = 0
    var i = from
    while (i < until) {
      out += wire(i)
      i += 1
    }
    // originals whose re-send lands in [from, until)
    var j = math.max(0L, from - dupDelayMax)
    while (j < until) {
      if (duplicated(j)) {
        val at = dupAt(j)
        if (at >= from && at < until) { out += wire(j); dups += 1 }
      }
      j += 1
    }
    (out.result(), dups)
  }
}

object Gen {
  val EventTypes: Array[String] = Array(
    "click", "view", "purchase", "error", "login",
    "logout", "search", "add_to_cart", "share", "signup")

  /** splitmix64 finalizer */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def f2(v: Long): String = if (v < 10) "0" + v else v.toString

  def fmtTs(micros: Long): String = {
    val s = Instant.ofEpochSecond(Math.floorDiv(micros, 1000000L),
      Math.floorMod(micros, 1000000L) * 1000L).toString
    // Instant.toString drops a zero fraction and trims trailing zeros;
    // the wire format always carries six digits
    val (body, frac) = s.stripSuffix("Z").split('.') match {
      case Array(b) => (b, "")
      case Array(b, f) => (b, f)
    }
    body + "." + (frac + "000000").take(6) + "Z"
  }

  val HistoryStart: Long = Instant.parse("2023-01-01T00:00:00Z").getEpochSecond * 1000000L
  val LiveStart: Long = Instant.parse("2024-01-01T00:00:00Z").getEpochSecond * 1000000L
  val HourMicros: Long = 3600L * 1000000L
  val MaxDisorder: Long = 59L * 1000000L
}
