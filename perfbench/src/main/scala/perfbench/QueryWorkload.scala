package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** A fixed set of registry queries over the committed sf0.01 fixture,
  * reached only through `SparkEntry.queries` / `SparkEntry.oracleSql`.
  * Each timed execution writes the query's full rows to Spark's built-in
  * `noop` sink (a `count()` would let Catalyst prune the projection).
  *
  * Every round runs the queries in the listed order, whatever the seed.
  * A seeded order was tried and measured: which consumer touches a memo
  * first decides what the session keeps resident (82 to 110 MB across five
  * seeds), and a warm round took 1.22 to 1.79 s across nine seeds against
  * 1.25 to 1.37 s across three runs of one seed, so the figures measured
  * the seed rather than the program.
  */
final class QueryWorkload(queries: Seq[String], fixture: String,
    runDir: Path) extends Workload {

  def prepare(spark: SparkSession): Unit = {
    val missing = queries.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"queries not in the registry: $missing")
    require(new java.io.File(fixture, "lineitem.parquet").isFile,
      s"no fixture at $fixture")
  }

  def round(spark: SparkSession, no: Int, timer: Timer): Seq[Op] =
    queries.map { q =>
      timer.op(q) { st =>
        val df = st.time("entry.build_s")(SparkEntry.queries(q)(spark, fixture))
        st.tracer.foreach(_.phases(df.queryExecution))
        df.write.format("noop").mode("overwrite").save()
      }
    }

  override def residentIsStorage: Boolean = true

  private var resultRows = Map.empty[String, Long]

  def rows(op: Op): Double = resultRows.getOrElse(op.name, 0L).toDouble

  /** Writes every query's rows to parquet for the DuckDB comparison that
    * `run.py` makes over the whole query list, with the oracle SQL beside
    * them. A query whose rows cannot be written is a failed check. */
  def finish(spark: SparkSession): Finish = {
    val dump = runDir.resolve("dump")
    val written = queries.map { q =>
      val out = dump.resolve(q).toString
      q -> (try {
        SparkEntry.queries(q)(spark, fixture).coalesce(1)
          .write.mode("overwrite").parquet(out)
        Right(spark.read.parquet(out).count())
      } catch { case e: Throwable => Left(s"$q: rows not written: $e") })
    }
    resultRows = written.collect { case (q, Right(n)) => q -> n }.toMap
    val checks = written.collect { case (_, Left(e)) => e }
    Main.write(dump.resolve("oracle_sql.json"),
      Json.render(queries.map(q => q -> SparkEntry.oracleSql(q)).toMap))
    Finish(checks.isEmpty, checks, extra = Map("queries" -> queries))
  }
}

object QueryWorkload {
  /** The memo-route queries: every registry query whose path reads a
    * family memo (`graft.MemoScaleAudit.Queries`). */
  val MemoRoutes: Seq[String] = graft.MemoScaleAudit.Queries
}
