package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{LocalDate, LocalDateTime}
import java.time.format.{DateTimeFormatter, TextStyle}
import java.util.{Locale, SplittableRandom}

/** The seeded inputs of the `etl_lifecycle` workload: one cycle of
  * [[EtlData.Batches]] scraped batches, rendered as the HTML pages the
  * reference scrapes (a Wikipedia-style market-cap table in the third
  * `<tbody>` with a footer last-modified stamp, and an IRS-style rates table
  * whose year is the last header).
  *
  * Banks are keyed on the fixture's customer names (`Customer#%09d`), rates
  * on nation × currency × year. Each batch after the first brings value
  * drift, new keys, keys that go missing (and are deactivated when stale),
  * keys that return (reactivated, or versioned when their value moved), and
  * a small share of malformed cells that must land in quarantine. A key
  * that returns keeps its value three times in four, as a rarely edited page
  * does on a daily re-scrape.
  */
object EtlData {
  val Batches = 4
  val PagesPerBatch = 4
  val InitialBanks = 1000
  val NewBanksPerBatch = 60
  val Universe = 1500
  val Nations: Seq[String] = (0 until 25).map(i => s"NATION_$i")
  val Currencies: Seq[String] = Seq("Pound", "Euro", "Rupee", "Yen")
  val Malformed = "n/a"

  final case class BankCell(name: String, capText: String)
  final case class RateCell(country: String, currency: String, rateText: String)

  final case class Batch(no: Int, id: String, now: LocalDateTime, year: Int,
      pages: Seq[Seq[BankCell]], rates: Seq[RateCell]) {
    def banks: Seq[BankCell] = pages.flatten
    def banksIn: Seq[Replay.BankIn] = banks.filter(_.capText != Malformed)
      .map(c => Replay.BankIn(c.name, c.capText.toDouble, now.toLocalDate))
    def ratesIn: Seq[Replay.RateIn] = rates.filter(_.rateText != Malformed)
      .map(r => Replay.RateIn(r.country, r.currency, r.rateText.toDouble))
    def yearEnd: LocalDate = LocalDate.of(year, 12, 31)
    def clockTs: String = now.format(DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    def clockDate: String = now.toLocalDate.toString
  }

  /** Batch days: the last two batches share a day, so the same-day shield
    * of SQL:134-135 is exercised. */
  private val Clocks: Seq[LocalDateTime] = Seq(
    LocalDateTime.of(2024, 1, 1, 9, 0), LocalDateTime.of(2024, 1, 2, 9, 0),
    LocalDateTime.of(2024, 1, 3, 9, 0), LocalDateTime.of(2024, 1, 3, 15, 0))
  private val Years = Seq(2023, 2023, 2024, 2024)

  def bankName(i: Int): String = f"Customer#$i%09d"

  def generate(seed: Long): Seq[Batch] = {
    val rnd = new SplittableRandom(seed)
    def chance(p: Double) = rnd.nextDouble() < p
    def cap(): Double = (1000 + rnd.nextInt(90000)) / 100.0
    def drift(v: Double): Double = {
      val d = (1 + rnd.nextInt(500)) / 100.0
      if (chance(0.5) || v - d <= 0) v + d else v - d
    }
    def rate(): Double = (5000 + rnd.nextInt(995000)) / 10000.0
    def rateDrift(v: Double): Double = v + (1 + rnd.nextInt(200)) / 10000.0
    def capText(v: Double) = if (chance(0.015)) Malformed else f"$v%.2f"
    def rateText(v: Double) = if (chance(0.02)) Malformed else f"$v%.4f"

    val order = shuffle(rnd, 0 until Universe).map(bankName)
    var next = InitialBanks
    var banks = Vector.empty[Replay.Bank]
    val lastRate = scala.collection.mutable.Map.empty[(String, String, Int), Double]

    (1 to Batches).map { no =>
      val now = Clocks(no - 1)
      val cells: Seq[BankCell] =
        if (no == 1) order.take(InitialBanks).map(n => BankCell(n, capText(cap())))
        else {
          val seen = banks.map(_.name).distinct
          val returning = seen.flatMap { n =>
            val rows = banks.filter(_.name == n)
            rows.find(_.active) match {
              case Some(r) if chance(0.85) =>
                Some(BankCell(n, capText(if (chance(0.25)) drift(r.cap) else r.cap)))
              case Some(_) => None
              case None if chance(0.5) =>
                val last = rows.maxBy(_.updatedAt.map(_.toString).getOrElse(""))
                Some(BankCell(n, capText(if (chance(0.5)) last.cap else drift(last.cap))))
              case None => None
            }
          }
          val fresh = order.slice(next, next + NewBanksPerBatch)
            .map(n => BankCell(n, capText(cap())))
          next += NewBanksPerBatch
          returning ++ fresh
        }
      val year = Years(no - 1)
      val rates = for (n <- Nations; c <- Currencies) yield {
        val v = lastRate.get((n, c, year)) match {
          case Some(prev) if chance(0.3) => rateDrift(prev)
          case Some(prev) => prev
          case None => rate()
        }
        lastRate((n, c, year)) = v
        RateCell(n, c, rateText(v))
      }
      val id = f"batch-$seed%d-$no%d"
      val batch = Batch(no, id, now, year, deal(shuffle(rnd, cells)), rates)
      banks = Replay.mergeBanks(banks, batch.banksIn, id, now)._1
      batch
    }
  }

  private def shuffle[T](rnd: SplittableRandom, xs: Seq[T]): Vector[T] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector.asInstanceOf[Vector[T]]
  }

  private def deal(cells: Seq[BankCell]): Seq[Seq[BankCell]] =
    (0 until PagesPerBatch).map(p =>
      cells.zipWithIndex.collect { case (c, i) if i % PagesPerBatch == p => c })

  // ------------------------------------------------------------- rendering
  def bankPage(rows: Seq[BankCell], now: LocalDateTime): String = {
    val month = now.getMonth.getDisplayName(TextStyle.FULL, Locale.ENGLISH)
    val stamp = f"${now.getDayOfMonth} $month ${now.getYear}, at ${now.getHour}%02d:${now.getMinute}%02d"
    val body = rows.zipWithIndex.map { case (c, i) =>
      s"""<tr><td>${i + 1}</td><td><a href="/wiki/${c.name}">${c.name}</a></td><td>${c.capText}\n</td></tr>"""
    }.mkString("\n")
    s"""<html><body>
       |<table class="nav"><tbody><tr><td>Contents</td></tr></tbody></table>
       |<table class="infobox"><tbody><tr><td>By market capitalization</td></tr></tbody></table>
       |<table class="wikitable sortable"><tbody>
       |<tr><th>Rank</th><th>Bank name</th><th>Market cap (US$$ billion)</th></tr>
       |$body
       |</tbody></table>
       |<footer><ul><li id="footer-info-lastmod"> This page was last edited on $stamp</li></ul></footer>
       |</body></html>
       |""".stripMargin
  }

  def ratesPage(rows: Seq[RateCell], year: Int): String = {
    val body = rows.map(r =>
      s"<tr><td>${r.country}</td><td>${r.currency}</td><td>${r.rateText}</td></tr>")
      .mkString("\n")
    s"""<html><body><table>
       |<thead><tr><th>Country</th><th>Currency</th><th>$year</th></tr></thead>
       |<tbody>
       |$body
       |</tbody></table></body></html>
       |""".stripMargin
  }

  /** Write every batch's pages under `dir`: `b<no>/banks/page<p>.html` and
    * `b<no>/rates.html`. Returns the number of pages written. */
  def render(batches: Seq[Batch], dir: Path): Int =
    batches.map { b =>
      val bd = Files.createDirectories(dir.resolve(s"b${b.no}/banks"))
      b.pages.zipWithIndex.foreach { case (rows, p) =>
        Files.write(bd.resolve(s"page$p.html"),
          bankPage(rows, b.now).getBytes(StandardCharsets.UTF_8))
      }
      Files.write(dir.resolve(s"b${b.no}/rates.html"),
        ratesPage(b.rates, b.year).getBytes(StandardCharsets.UTF_8))
      b.pages.size + 1
    }.sum
}
