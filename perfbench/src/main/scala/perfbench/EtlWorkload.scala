package perfbench

import java.nio.file.{Files, Path}
import java.sql.{Date, DriverManager, Timestamp}
import java.util.Properties

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Sinks
import graft.operators.ScdMerge
import graft.pipeline.WorldBanksPipeline
import graft.sources.HtmlTable

/** The reference's lifecycle as a run of seeded batches in one session.
  * A cycle is the [[EtlData.Batches]] batches of [[EtlData]] into fresh
  * durable state (a new state directory and a new in-memory Derby
  * database); one round is one batch, so the cold round is the first batch
  * of the fresh session and every run completes at least one cycle. Each
  * batch is one operation:
  *
  *  1. extract: the `graft-html` scan of the batch's bank pages (third
  *     `<tbody>`) joined with `HtmlTable.footerLastmod`, and the rates page
  *     through `HtmlTable.scanFirst` with the year sniffed from its headers;
  *  2. `splitQuarantine`: malformed rows are appended to a quarantine sink
  *     and kept out of the merge;
  *  3. `WorldBanksPipeline.run` against the previous batch's state snapshot
  *     (banks, parquet) and the rates table read back from Derby;
  *  4. `Sinks.writeState` (the snapshot the next batch reads) and
  *     `Sinks.writeBatchPartitioned` (the rows this batch stamped);
  *  5. `Sinks.jdbcUpsert` of the rates state and the branch counters;
  *  6. `enrich`, written as a snapshot;
  *  7. `Sinks.appendLog` of the process log.
  *
  * After the timed section each cycle is read back (state snapshots, batch
  * partitions, quarantine, enrichment and log from parquet, rates and
  * counters from Derby) and compared with [[Replay]] twice:
  *
  *  - with the reference's rules: each batch is one more operation,
  *    `batch<n>.reference`, untimed, that fails when that batch's outputs
  *    differ from the reference's. The program deactivates only keys absent
  *    from the batch, where the reference also deactivates a present row
  *    left alone by the no-op branch on an earlier day (SQL:126-140). Batch
  *    2 holds no such row (batch 1 inserts carry a NULL `updated_at`);
  *    batch 3 holds 95 to 155 over seeds 1-300, and the difference stays
  *    in the state batch 4 reads. So batches 3 and 4 fail this check, two
  *    of the eight operations of every cycle;
  *  - with that one departure modelled (`absentOnly`): a cycle that matches
  *    neither is a failed correctness check.
  */
final class EtlWorkload(seed: Long, runDir: Path) extends Workload {
  private val batches = EtlData.generate(seed)
  private val input = runDir.resolve("etl-input")

  /** Replay of every batch: bank state, rates state and their counters. */
  private def replay(absentOnly: Boolean): Seq[(Vector[Replay.Bank],
      Replay.Counts, Vector[Replay.Rate], Replay.Counts)] = {
    var banks = Vector.empty[Replay.Bank]
    var rates = Vector.empty[Replay.Rate]
    batches.map { b =>
      val (nb, bc) = Replay.mergeBanks(banks, b.banksIn, b.id, b.now, absentOnly)
      val (nr, rc) = Replay.mergeRates(rates, b.ratesIn, b.yearEnd, b.id)
      banks = nb; rates = nr
      (nb, bc, nr, rc)
    }
  }
  private val reference = replay(absentOnly = false)
  private val asProgram = replay(absentOnly = true)

  def prepare(spark: SparkSession): Unit = {
    if (Files.exists(input)) deleteTree(input)
    EtlData.render(batches, input)
  }

  private val BankSchema = StructType(Seq(
    StructField("bank_name", StringType), StructField("market_cap_usd", DoubleType),
    StructField("last_modified_date", DateType), StructField("batch_id", StringType),
    StructField("active", BooleanType), StructField("updated_at", TimestampType)))

  private def clock(b: EtlData.Batch) = WorldBanksPipeline.Clock(
    lit(b.clockTs).cast("timestamp"), lit(b.clockDate).cast("date"))

  private def derbyUrl(no: Int) = s"jdbc:derby:memory:perfbench_$no"

  private def createTables(url: String): Unit = {
    val c = DriverManager.getConnection(url + ";create=true")
    try {
      val st = c.createStatement()
      st.execute("""CREATE TABLE "exchange_rates" ("country" VARCHAR(64),
        "currency" VARCHAR(16), "year" DATE, "exchange_rate" DOUBLE,
        "batch_id" VARCHAR(64), PRIMARY KEY ("country", "currency", "year"))""")
      st.execute("""CREATE TABLE "log_counts" ("no_update_count" BIGINT,
        "update_count" BIGINT, "new_inserts_count" BIGINT,
        "reactivate_count" BIGINT, "version_count" BIGINT,
        "deactivate_count" BIGINT, "table_name" VARCHAR(64),
        "batch_id" VARCHAR(64), PRIMARY KEY ("batch_id", "table_name"))""")
      st.close()
    } finally c.close()
  }

  private def dropDatabase(url: String): Unit =
    try DriverManager.getConnection(url + ";drop=true").close()
    catch { case _: java.sql.SQLException => () } // Derby signals a drop so

  private def fileName(c: Column): Column = element_at(split(c, "/"), -1)

  private def runBatch(spark: SparkSession, b: EtlData.Batch, cycle: Path,
      url: String, st: Stage): Unit = {
    val batchId = lit(b.id)
    val props = new Properties()
    val dir = input.resolve(s"b${b.no}")
    val (rawBanks, rawRates, year) = st.time("sources.extract_s") {
      val pages = dir.resolve("banks").toString
      val lastmod = HtmlTable.footerLastmod(spark, pages)
        .select(fileName(col("src_file")).as("page"), col("lastmod_text"))
      val banks = spark.read.format("graft-html").option("tbody", 2).load(pages)
        .select(fileName(col("src_file")).as("page"), col("row_idx"), col("cells"))
        .join(lastmod, "page")
        .select(element_at(col("cells"), 2).as("bank_name"),
          element_at(col("cells"), 3).as("market_cap_usd"), col("lastmod_text"),
          concat_ws("#", col("page"), col("row_idx")).as("row_id"))
        .cache()
      val ratesPage = HtmlTable.scanFirst(spark, dir.resolve("rates.html").toString)
      val headers = ratesPage.columns.filterNot(_ == "row_idx").toSeq
      val year = WorldBanksPipeline.sniffYear(headers)
        .getOrElse(sys.error(s"no year header in $headers"))
      val rates = ratesPage.select(col(s"`${headers(0)}`").as("country"),
          col(s"`${headers(1)}`").as("currency"), col(s"`$year`").as("exchange_rate"),
          col("row_idx").cast("string").as("row_id"))
        .cache()
      st.add("sources.rows", (banks.count() + rates.count()).toDouble)
      st.add("sources.pages", b.pages.size + 1.0)
      (banks, rates, year)
    }
    val (_, badBanks) = WorldBanksPipeline.splitQuarantine(
      WorldBanksPipeline.cleanseBanks(rawBanks, batchId, keepRaw = true),
      Seq("market_cap_usd", "last_modified_date"), "bank_name")
    val (_, badRates) = WorldBanksPipeline.splitQuarantine(
      WorldBanksPipeline.cleanseRates(rawRates, year, batchId, keepRaw = true),
      Seq("exchange_rate"), "country")
    st.time("sinks.parquet_s") {
      Sinks.appendLog(badBanks.withColumn("batch_id", batchId),
        cycle.resolve("quarantine_banks").toString)
      Sinks.appendLog(badRates.withColumn("batch_id", batchId),
        cycle.resolve("quarantine_rates").toString)
    }
    val goodBanks = rawBanks.join(badBanks.select("row_id"), Seq("row_id"), "left_anti")
    val goodRates = rawRates.join(badRates.select("row_id"), Seq("row_id"), "left_anti")
    val stateDir = cycle.resolve("bank_state")
    val targetBanks =
      if (b.no == 1) spark.createDataFrame(java.util.List.of[Row](), BankSchema)
      else spark.read.parquet(stateDir.resolve(s"batch_no=${b.no - 1}").toString)
    val targetRates = spark.read.jdbc(url, "\"exchange_rates\"", props)
    val res = WorldBanksPipeline.run(spark, goodBanks, goodRates, year,
      targetBanks, targetRates, clock(b), batchId)
    val rateRows = st.time("pipeline.merge_s") {
      st.add("pipeline.state_rows", res.worldBankData.count().toDouble)
      res.exchangeRates.count()
    }
    val counters = st.time("pipeline.counters_s") {
      res.bankCounters.unionByName(res.rateCounters).collect()
    }
    val state = res.worldBankData.drop(ScdMerge.ChangeCol)
    st.time("sinks.parquet_s") {
      Sinks.writeState(state, stateDir.resolve(s"batch_no=${b.no}").toString)
      Sinks.writeBatchPartitioned(state.filter(col("batch_id") === batchId),
        cycle.resolve("bank_by_batch").toString)
    }
    st.time("sinks.jdbc_s") {
      Sinks.jdbcUpsert(res.exchangeRates.drop(ScdMerge.ChangeCol), url,
        "exchange_rates", Seq("country", "currency", "year"), props,
        dialect = Sinks.UpdateThenInsert())
      Sinks.jdbcUpsert(spark.createDataFrame(counters.toSeq.asJava, counters.head.schema),
        url, "log_counts", Seq("batch_id", "table_name"), props,
        dialect = Sinks.UpdateThenInsert())
    }
    st.add("sinks.jdbc_rows", rateRows.toDouble + counters.length)
    st.time("pipeline.enrich_s") {
      Sinks.writeState(
        WorldBanksPipeline.enrich(res.worldBankData.filter(col("active")),
          res.exchangeRates),
        cycle.resolve(s"enriched/batch_no=${b.no}").toString)
    }
    st.time("sinks.parquet_s") {
      Sinks.appendLog(res.processLogs, cycle.resolve("process_log").toString)
    }
    res.unpersist()
    rawBanks.unpersist()
    rawRates.unpersist()
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.startsWith(".")).map(Files.size).sum

  /** Cycles started so far, with the number of batches each has run, and
    * the cycles in which a batch failed. */
  private val cycles = mutable.LinkedHashMap.empty[Int, Int]
  private val broken = mutable.Set.empty[Int]

  /** One warm sample is three batches: the rest of the first cycle,
    * batches 2 to 4, in a run of one cycle. */
  override def warmGroup: Int = batches.size - 1

  /** A run ends on whole cycles, so that every run attempts the same share
    * of failing reference checks. */
  override def canEnd(rounds: Int): Boolean = rounds % batches.size == 0

  def rows(op: Op): Double = batches.find(b => op.name == s"batch${b.no}")
    .map(b => (b.banksIn.size + b.ratesIn.size).toDouble).getOrElse(0.0)

  /** Round `no` runs batch `no % Batches + 1` of cycle `no / Batches`; the
    * first batch of a cycle starts from empty state. */
  def round(spark: SparkSession, no: Int, timer: Timer): Seq[Op] = {
    val c = no / batches.size
    val b = batches(no % batches.size)
    val cycle = runDir.resolve(s"etl/cycle$c")
    if (b.no == 1) createTables(derbyUrl(c))
    val bytes0 = dirBytes(cycle)
    val op = timer.op(s"batch${b.no}")(st => runBatch(spark, b, cycle, derbyUrl(c), st))
    cycles(c) = b.no
    if (!op.ok) broken += c
    Seq(op.copy(layers = op.layers +
      ("sinks.bytes_written" -> (dirBytes(cycle) - bytes0).toDouble)))
  }

  /** Reads every cycle back and compares it with both replays, then drops
    * the cycle's Derby database. A cycle whose batch failed is not compared:
    * the failure is already counted, and its reference checks count as
    * failed too. */
  def finish(spark: SparkSession): Finish = {
    val checks = mutable.ArrayBuffer.empty[String]
    val ops = cycles.toSeq.flatMap { case (c, upto) =>
      val misses: Seq[(Int, String)] =
        if (broken(c)) batches.take(upto).map(b => b.no -> "a batch of the cycle failed")
        else try {
          val got = readBack(spark, runDir.resolve(s"etl/cycle$c"), derbyUrl(c), upto)
          val vsReference = compare(got, reference)
          if (vsReference.nonEmpty) {
            val vsProgram = compare(got, asProgram)
            if (vsProgram.nonEmpty) checks ++= vsProgram.map(m => s"cycle $c ${m._2}")
          }
          vsReference
        } catch { case e: Throwable =>
          checks += s"cycle $c: read-back failed: $e"
          batches.take(upto).map(b => b.no -> "not read back")
        }
      dropDatabase(derbyUrl(c))
      batches.take(upto).map { b =>
        val miss = misses.filter(_._1 == b.no).map(_._2)
        Op(s"batch${b.no}.reference", 0, 0, ok = miss.isEmpty,
          miss.headOption.map(m => s"cycle $c batch${b.no} differs from the reference: $m"),
          Map.empty, timed = false)
      }
    }
    Finish(checks.isEmpty, checks.toSeq, ops = ops)
  }

  // ---------------------------------------------------------------- checks
  private def bank(r: Row): Replay.Bank = Replay.Bank(
    r.getAs[String]("bank_name"), r.getAs[Double]("market_cap_usd"),
    r.getAs[Date]("last_modified_date").toLocalDate, r.getAs[String]("batch_id"),
    r.getAs[Boolean]("active"),
    Option(r.getAs[Timestamp]("updated_at")).map(_.toLocalDateTime))

  /** One cycle's outputs as read back: the bank side per batch, the rest
    * for the cycle. Rows are rendered as strings to compare as multisets. */
  private final case class ReadBack(ran: Seq[EtlData.Batch],
      states: Map[Int, Seq[String]], stamped: Map[String, Seq[String]],
      enriched: Map[Int, Seq[String]], counters: Map[String, Seq[String]],
      rates: Seq[String], quarantine: Seq[String], log: Seq[String])

  private def counts(c: Replay.Counts) = Seq(c.noUpdate, c.update, c.insert,
    c.reactivate, c.version, c.deactivate).mkString(",")

  private def enrichedRow(name: String, cap: Double, vs: Seq[Option[Double]]) =
    s"$name/$cap/$vs"

  private def readBack(spark: SparkSession, cycle: Path, url: String,
      upto: Int): ReadBack = {
    def parquet(dir: String) = spark.read.parquet(cycle.resolve(dir).toString).collect().toSeq
    val conn = DriverManager.getConnection(url)
    val (rates, counters) = try {
      val st = conn.createStatement()
      def rows(sql: String): Seq[Seq[Any]] = {
        val rs = st.executeQuery(sql)
        val n = rs.getMetaData.getColumnCount
        val out = mutable.ArrayBuffer.empty[Seq[Any]]
        while (rs.next()) out += (1 to n).map(rs.getObject)
        rs.close(); out.toSeq
      }
      val rates = rows("""SELECT "country", "currency", "year", "exchange_rate", "batch_id"
                FROM "exchange_rates"""").map(r => Replay.Rate(r(0).toString,
          r(1).toString, r(2).asInstanceOf[Date].toLocalDate,
          r(3).asInstanceOf[Double], r(4).toString).toString)
      val counters = rows("""SELECT "batch_id", "table_name", "no_update_count",
                "update_count", "new_inserts_count", "reactivate_count",
                "version_count", "deactivate_count" FROM "log_counts"""")
        .map(r => r(0).toString -> s"${r(1)}/${r.drop(2).mkString(",")}")
      st.close()
      (rates, counters)
    } finally conn.close()
    def quarantined(dir: String, key: String) = parquet(dir).map(r =>
      s"${r.getAs[String]("batch_id")}/${r.getAs[String](key)}/${r.getAs[String]("null_fields")}")
    ReadBack(batches.take(upto),
      states = parquet("bank_state").groupBy(_.getAs[Int]("batch_no"))
        .map { case (k, rs) => k -> rs.map(bank(_).toString) },
      stamped = parquet("bank_by_batch").groupBy(_.getAs[String]("batch_id"))
        .map { case (k, rs) => k -> rs.map(bank(_).toString) },
      enriched = parquet("enriched").groupBy(_.getAs[Int]("batch_no"))
        .map { case (k, rs) => k -> rs.map(r => enrichedRow(r.getAs[String]("bank_name"),
          r.getAs[Double]("market_cap_usd"),
          Seq("MC_GBP_Billion", "MC_EUR_Billion", "MC_INR_Billion")
            .map(c => Option(r.getAs[Any](c)).map(_.asInstanceOf[Double])))) },
      counters = counters.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) },
      rates = rates,
      quarantine = quarantined("quarantine_banks", "bank_name") ++
        quarantined("quarantine_rates", "country"),
      log = parquet("process_log").map(_.getAs[String]("batch_id")))
  }

  private def diff(what: String, got: Seq[String], want: Seq[String]): Option[String] =
    if (got.sorted == want.sorted) None
    else Some(s"$what: ${got.size} rows, expected ${want.size}; " +
      s"unexpected ${got.diff(want).take(3)}; missing ${want.diff(got).take(3)}")

  /** Mismatches against one replay, each with the batch it belongs to (0
    * for the outputs of the whole cycle). */
  private def compare(got: ReadBack, replay: Seq[(Vector[Replay.Bank],
      Replay.Counts, Vector[Replay.Rate], Replay.Counts)]): Seq[(Int, String)] = {
    val want = replay.take(got.ran.size)
    val perBatch = got.ran.zip(want).flatMap { case (b, (banks, bc, rates, rc)) =>
      val enrich = Replay.enrich(banks, rates, WorldBanksPipeline.EnrichCurrencies)
      Seq(
        diff(s"${b.id} bank state", got.states.getOrElse(b.no, Nil),
          banks.map(_.toString)),
        diff(s"${b.id} batch partition", got.stamped.getOrElse(b.id, Nil),
          banks.filter(_.batch == b.id).map(_.toString)),
        diff(s"${b.id} enrichment", got.enriched.getOrElse(b.no, Nil),
          enrich.toSeq.map { case (n, (cap, vs)) => enrichedRow(n, cap, vs) }),
        diff(s"${b.id} counters in Derby", got.counters.getOrElse(b.id, Nil),
          Seq(s"world_bank_data/${counts(bc)}", s"exchanges_rates/${counts(rc)}"))
      ).flatten.map(b.no -> _)
    }
    val ran = got.ran
    perBatch ++ Seq(
      diff("rates in Derby", got.rates, want.last._3.map(_.toString)),
      diff("quarantine", got.quarantine,
        ran.flatMap(b => b.banks.filter(_.capText == EtlData.Malformed)
          .map(c => s"${b.id}/${c.name}/market_cap_usd")) ++
        ran.flatMap(b => b.rates.filter(_.rateText == EtlData.Malformed)
          .map(r => s"${b.id}/${r.country}/exchange_rate"))),
      diff("process log", got.log, ran.flatMap(b => Seq.fill(3)(b.id)))
    ).flatten.map(0 -> _)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      .forEach(Files.delete(_))
}
