package graft.pipelines

import java.time.LocalDate

/** Futures expiration-symbol calendar synthesis — the reference's most
  * domain-specific logic (F19, `HTGPIPROPHEDEX/__init__.py:76,90-194`):
  * month-code wheel `F G H J K M N Q U V X Z`, per-commodity allowed
  * expiration months, a 20th-of-month rollover, next-N expiries per day, and
  * range compression of consecutive identical symbol lists (fetch planning:
  * fewer upstream calls — `:174-194`).
  *
  * Pure driver-side functions (the output is a tiny fetch-plan table, exactly
  * as in the reference); the resulting ranges parameterize the ingestion
  * adapter, pushing the date predicate into the source — the engine-level
  * analogue of predicate pushdown (SURVEY §4).
  */
object ProphedexCalendar {

  /** CME month codes, wheel order (`HTGPIPROPHEDEX/__init__.py:76`). */
  val monthCodes: Vector[Char] =
    Vector('F', 'G', 'H', 'J', 'K', 'M', 'N', 'Q', 'U', 'V', 'X', 'Z')

  /** Per-commodity expiration month sets + market, reference `:90-104`.
    * (Subset; extend per deployment.) */
  val commodityMonths: Map[String, (Seq[Char], String)] = Map(
    "C" -> (Seq('H', 'K', 'N', 'U', 'Z'), "CBOT"), // corn
    "S" -> (Seq('F', 'H', 'K', 'N', 'Q', 'U', 'X'), "CBOT"), // soybeans
    "W" -> (Seq('H', 'K', 'N', 'U', 'Z'), "CBOT"), // wheat
    "KW" -> (Seq('H', 'K', 'N', 'U', 'Z'), "KCBT")) // kc wheat

  /** Next `count` expiration symbols for `commodity` as of `date`.
    * Rollover: from the 20th of an expiration month, that contract is
    * considered expired (`:106-120`). Symbol = commodity + monthCode +
    * 2-digit year. */
  def expirationSymbols(date: LocalDate, commodity: String, count: Int): Seq[String] = {
    val (allowed, _) = commodityMonths(commodity)
    val out = Seq.newBuilder[String]
    var y = date.getYear
    var m = date.getMonthValue
    if (date.getDayOfMonth >= 20) { m += 1; if (m > 12) { m = 1; y += 1 } }
    var found = 0
    while (found < count) {
      val code = monthCodes(m - 1)
      if (allowed.contains(code)) {
        out += f"$commodity$code${y % 100}%02d"
        found += 1
      }
      m += 1; if (m > 12) { m = 1; y += 1 }
    }
    out.result()
  }

  /** Per-day symbol assignment over [start, end], then compression of
    * consecutive days with identical symbols into `(from, to, symbols)`
    * ranges (`:156-194`). */
  def symbolRanges(start: LocalDate, end: LocalDate, commodity: String,
      count: Int): Seq[(LocalDate, LocalDate, Seq[String])] = {
    if (start.isAfter(end)) return Seq.empty
    val days = Iterator.iterate(start)(_.plusDays(1))
      .takeWhile(!_.isAfter(end))
      .map(d => d -> expirationSymbols(d, commodity, count))
      .toSeq
    days.foldLeft(Vector.empty[(LocalDate, LocalDate, Seq[String])]) {
      case (acc, (day, syms)) =>
        acc.lastOption match {
          case Some((from, _, prev)) if prev == syms =>
            acc.init :+ ((from, day, syms))
          case _ => acc :+ ((day, day, syms))
        }
    }
  }
}
