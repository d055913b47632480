package perfbench

import java.time.{LocalDate, LocalDateTime}

import org.scalatest.funsuite.AnyFunSuite

import perfbench.Replay._

/** The replay model against cases worked by hand from the reference's
  * decision table (SQL:20-122), its deactivation procedure (SQL:126-140)
  * and its Type-1 rates upsert (SQL:188-248). */
class ReplaySpec extends AnyFunSuite {
  private val d1 = LocalDate.of(2024, 1, 1)
  private val d2 = LocalDate.of(2024, 1, 2)
  private val t1 = LocalDateTime.of(2024, 1, 1, 9, 0)
  private val t2 = LocalDateTime.of(2024, 1, 2, 9, 0)
  private val t2late = LocalDateTime.of(2024, 1, 2, 15, 0)

  private def one(state: Vector[Bank], in: BankIn, now: LocalDateTime = t2) =
    mergeBanks(state, Seq(in), "b2", now)

  test("insert: an unknown key becomes an active row with NULL updated_at") {
    val (rows, c) = one(Vector.empty, BankIn("A", 10.0, d2))
    assert(rows == Vector(Bank("A", 10.0, d2, "b2", active = true, None)))
    assert(c == Counts(insert = 1))
  }

  test("no-op: an active row with an equal value is left as it is") {
    val row = Bank("A", 10.0, d1, "b1", active = true, None)
    val (rows, c) = one(Vector(row), BankIn("A", 10.0, d2))
    assert(rows == Vector(row))
    assert(c == Counts(noUpdate = 1))
  }

  test("update: an active row with another value is overwritten and stamped") {
    val (rows, c) = one(Vector(Bank("A", 10.0, d1, "b1", active = true, None)),
      BankIn("A", 12.5, d2))
    assert(rows == Vector(Bank("A", 12.5, d2, "b2", active = true, Some(t2))))
    assert(c == Counts(update = 1))
  }

  test("reactivate: an inactive row with an equal value comes back") {
    val (rows, c) = one(Vector(Bank("A", 10.0, d1, "b1", active = false, Some(t1))),
      BankIn("A", 10.0, d2))
    assert(rows == Vector(Bank("A", 10.0, d2, "b2", active = true, Some(t2))))
    assert(c == Counts(reactivate = 1))
  }

  test("new version: an inactive row with another value stays as history") {
    val old = Bank("A", 10.0, d1, "b1", active = false, Some(t1))
    val (rows, c) = one(Vector(old), BankIn("A", 11.0, d2))
    assert(rows == Vector(old, Bank("A", 11.0, d2, "b2", active = true, None)))
    assert(c == Counts(version = 1))
  }

  test("the probe picks the latest inactive row when no row is active") {
    val older = Bank("A", 10.0, d1, "b0", active = false, Some(t1.minusDays(1)))
    val newer = Bank("A", 11.0, d1, "b1", active = false, Some(t1))
    val (rows, c) = one(Vector(older, newer), BankIn("A", 11.0, d2))
    assert(rows == Vector(older, newer.copy(lastmod = d2, batch = "b2",
      active = true, updatedAt = Some(t2))))
    assert(c == Counts(reactivate = 1))
  }

  test("deactivate: a stale active row of another batch is flipped and stamped") {
    val gone = Bank("G", 5.0, d1, "b1", active = true, Some(t1))
    val (rows, c) = one(Vector(gone), BankIn("A", 1.0, d2))
    assert(rows.head == gone.copy(active = false, updatedAt = Some(t2)))
    assert(c == Counts(insert = 1, deactivate = 1))
  }

  test("NULL updated_at shields a row from deactivation") {
    val fresh = Bank("F", 5.0, d1, "b1", active = true, None)
    val (rows, c) = one(Vector(fresh), BankIn("A", 1.0, d2))
    assert(rows.head == fresh)
    assert(c == Counts(insert = 1))
  }

  test("same-day shield: a row touched earlier today is not deactivated") {
    val today = Bank("T", 5.0, d2, "b1", active = true, Some(t2))
    val (rows, c) = one(Vector(today), BankIn("A", 1.0, d2), now = t2late)
    assert(rows.head == today)
    assert(c == Counts(insert = 1))
  }

  test("the current batch's own rows are never deactivated") {
    val own = Bank("O", 5.0, d1, "b2", active = true, Some(t1))
    val (rows, _) = one(Vector(own), BankIn("A", 1.0, d2))
    assert(rows.head == own)
  }

  test("an empty batch deactivates nothing (the notebook's gate)") {
    val gone = Bank("G", 5.0, d1, "b1", active = true, Some(t1))
    assert(mergeBanks(Vector(gone), Nil, "b2", t2) == (Vector(gone), Counts()))
  }

  test("a present, unchanged row last written on an earlier day is deactivated") {
    // the no-op branch keeps the old batch id, so SQL:126-140 matches it
    val row = Bank("A", 10.0, d1, "b1", active = true, Some(t1))
    val (rows, c) = one(Vector(row), BankIn("A", 10.0, d2))
    assert(rows == Vector(row.copy(active = false, updatedAt = Some(t2))))
    assert(c == Counts(noUpdate = 1, deactivate = 1))
  }

  test("absentOnly: the program's rule keeps that present, unchanged row active") {
    val row = Bank("A", 10.0, d1, "b1", active = true, Some(t1))
    val gone = Bank("G", 5.0, d1, "b1", active = true, Some(t1))
    val (rows, c) = mergeBanks(Vector(row, gone), Seq(BankIn("A", 10.0, d2)), "b2",
      t2, absentOnly = true)
    assert(rows == Vector(row, gone.copy(active = false, updatedAt = Some(t2))))
    assert(c == Counts(noUpdate = 1, deactivate = 1))
  }

  test("rates: Type-1 insert, no-op and in-place update on (country, currency, year)") {
    val y = LocalDate.of(2023, 12, 31)
    val (s1, c1) = mergeRates(Vector.empty,
      Seq(RateIn("X", "Euro", 0.9), RateIn("X", "Pound", 0.8)), y, "b1")
    assert(c1 == Counts(insert = 2))
    val (s2, c2) = mergeRates(s1,
      Seq(RateIn("X", "Euro", 0.9), RateIn("X", "Pound", 0.7)), y, "b2")
    assert(c2 == Counts(noUpdate = 1, update = 1))
    assert(s2 == Vector(Rate("X", "Euro", y, 0.9, "b1"), Rate("X", "Pound", y, 0.7, "b2")))
    val (s3, c3) = mergeRates(s2, Seq(RateIn("X", "Euro", 0.9)), y.plusYears(1), "b3")
    assert(c3 == Counts(insert = 1) && s3.size == 3)
  }

  test("enrichment: lowest rate per currency, half-up to cents, active rows only") {
    val y = LocalDate.of(2023, 12, 31)
    val banks = Vector(Bank("A", 100.005, d1, "b1", active = true, None),
      Bank("B", 50.0, d1, "b1", active = false, Some(t1)))
    val rates = Vector(Rate("X", "Euro", y, 0.5, "b1"), Rate("Y", "Euro", y, 0.25, "b1"))
    val got = enrich(banks, rates, Seq("Euro", "Yen"))
    assert(got == Map("A" -> (100.005 -> Seq(Some(round2(100.005 * 0.25)), None))))
    assert(round2(0.125) == 0.13 && round2(2.675) == 2.68)
  }
}
