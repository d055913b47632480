package perfbench

import java.time.{LocalDate, LocalDateTime}

/** A plain-Scala replay of the reference's stored procedures, the expected
  * side of the `etl_lifecycle` check. It is written from the reference's
  * decision table (SURVEY.md §2.5) and calls nothing in graft:
  *
  *  - `etl.insert_or_update_world_bank_data` (SQL:20-122): one CALL per
  *    incoming row, five branches — insert, no-op, in-place update,
  *    reactivate, and a new active version beside the retained inactive row;
  *  - `etl.deactivate_bank_records` (SQL:126-140): once per batch, every row
  *    of another batch that is active, has a non-NULL `updated_at` and was
  *    touched before today is flipped inactive. Fresh inserts and versions
  *    carry `updated_at = NULL` (SQL:88,109), so they are never deactivated;
  *  - `etl.insert_or_update_exchange_rates` (SQL:188-248): the Type-1
  *    upsert on (country, currency, year).
  *
  * `mergeBanks(..., absentOnly = true)` is the one known departure of
  * `graft.operators.ScdMerge` from that table: it deactivates only keys
  * absent from the batch, so a present row left alone by the no-op branch
  * keeps its old batch id and stays active. The benchmark checks the
  * program against both, and counts every batch that differs from the
  * reference as a failed operation.
  */
object Replay {

  final case class Bank(name: String, cap: Double, lastmod: LocalDate,
      batch: String, active: Boolean, updatedAt: Option[LocalDateTime])

  final case class Rate(country: String, currency: String, year: LocalDate,
      rate: Double, batch: String)

  final case class BankIn(name: String, cap: Double, lastmod: LocalDate)
  final case class RateIn(country: String, currency: String, rate: Double)

  /** Branch tallies of one merge. The reference bumps only the first three
    * (SQL:38-40,52-54,112-114); the others are counted for the comparison
    * with the program's per-branch counters. */
  final case class Counts(noUpdate: Long = 0, update: Long = 0,
      insert: Long = 0, reactivate: Long = 0, version: Long = 0,
      deactivate: Long = 0)

  /** The row a CALL probes: the active row for the key, else its latest
    * inactive row (every inactive row carries a non-NULL `updated_at`:
    * only deactivation makes a row inactive, and it stamps the clock). */
  private def probe(rows: Vector[Bank], name: String): Option[Int] = {
    val own = rows.indices.filter(i => rows(i).name == name)
    own.find(i => rows(i).active).orElse(
      own.filter(i => rows(i).updatedAt.isDefined)
        .sortBy(i => rows(i).updatedAt.get).lastOption)
  }

  /** One batch of bank rows through SQL:20-122, then SQL:126-140 (with
    * `absentOnly`, only over keys the batch does not hold). */
  def mergeBanks(state: Vector[Bank], incoming: Seq[BankIn], batch: String,
      now: LocalDateTime, absentOnly: Boolean = false): (Vector[Bank], Counts) = {
    var rows = state
    var c = Counts()
    incoming.foreach { in =>
      probe(rows, in.name) match {
        case None =>
          rows :+= Bank(in.name, in.cap, in.lastmod, batch, active = true,
            updatedAt = None)
          c = c.copy(insert = c.insert + 1)
        case Some(i) if rows(i).active && rows(i).cap == in.cap =>
          c = c.copy(noUpdate = c.noUpdate + 1)
        case Some(i) if rows(i).active =>
          rows = rows.updated(i, rows(i).copy(cap = in.cap,
            lastmod = in.lastmod, batch = batch, updatedAt = Some(now)))
          c = c.copy(update = c.update + 1)
        case Some(i) if rows(i).cap == in.cap =>
          rows = rows.updated(i, rows(i).copy(active = true,
            lastmod = in.lastmod, batch = batch, updatedAt = Some(now)))
          c = c.copy(reactivate = c.reactivate + 1)
        case Some(_) =>
          rows :+= Bank(in.name, in.cap, in.lastmod, batch, active = true,
            updatedAt = None)
          c = c.copy(version = c.version + 1)
      }
    }
    // the reference gates deactivation on a non-empty batch (ipynb:240-246)
    if (incoming.nonEmpty) {
      val today = now.toLocalDate
      val present = if (absentOnly) incoming.map(_.name).toSet else Set.empty[String]
      rows = rows.map { r =>
        val stale = r.batch != batch && r.active && !present(r.name) &&
          r.updatedAt.exists(_.toLocalDate.isBefore(today))
        if (!stale) r
        else {
          c = c.copy(deactivate = c.deactivate + 1)
          r.copy(active = false, updatedAt = Some(now))
        }
      }
    }
    (rows, c)
  }

  /** One batch of rate rows through SQL:188-248. */
  def mergeRates(state: Vector[Rate], incoming: Seq[RateIn], year: LocalDate,
      batch: String): (Vector[Rate], Counts) = {
    var rows = state
    var c = Counts()
    incoming.foreach { in =>
      rows.indexWhere(r => r.country == in.country &&
          r.currency == in.currency && r.year == year) match {
        case -1 =>
          rows :+= Rate(in.country, in.currency, year, in.rate, batch)
          c = c.copy(insert = c.insert + 1)
        case i if rows(i).rate == in.rate =>
          c = c.copy(noUpdate = c.noUpdate + 1)
        case i =>
          rows = rows.updated(i, rows(i).copy(rate = in.rate, batch = batch))
          c = c.copy(update = c.update + 1)
      }
    }
    (rows, c)
  }

  /** The declared enrichment (SQL:317-318): market cap in each currency at
    * the lowest rate on record for it, rounded half-up to cents; None when
    * no rate exists for the currency. */
  def enrich(banks: Vector[Bank], rates: Vector[Rate],
      currencies: Seq[String]): Map[String, (Double, Seq[Option[Double]])] = {
    val low = currencies.map(cur =>
      rates.filter(_.currency == cur).map(_.rate).minOption)
    banks.filter(_.active).map { b =>
      b.name -> (b.cap -> low.map(_.map(r => round2(b.cap * r))))
    }.toMap
  }

  def round2(x: Double): Double =
    BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
}
