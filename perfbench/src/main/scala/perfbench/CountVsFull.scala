package perfbench

import graft.SparkEntry

/** count() against full rows for the query sets, as a markdown table:
  * each query is timed both ways in one session, alternating, and the
  * minimum of the warm passes is reported (the first pass pays codegen and
  * memo builds). Usage: `perfbench.CountVsFull <fixtureDir> <runDir>`;
  * normally `python3 perfbench/run.py --count-table`.
  */
object CountVsFull {
  val Passes = 4

  /** The memo routes of the benchmark, and a read-path sample beside them. */
  val Sets: Seq[(String, Seq[String])] = Seq(
    "memo_routes" -> QueryWorkload.MemoRoutes,
    "parity sample" -> Seq("q1_pricing_agg", "q6_scd_merge", "q7_scd_counters",
      "q10_cleanse", "q15_enrich_pivot", "q46_revenue_by_nation",
      "q50_asof_phys", "scd_interval_merge"))

  def main(args: Array[String]): Unit = {
    val fixture = args(0)
    val spark = Main.newSession(java.nio.file.Paths.get(args(1)))
    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    println("| set | query | count() s | full rows s | full / count |")
    println("|---|---|---:|---:|---:|")
    Sets.foreach { case (set, qs) =>
      var totC = 0.0; var totF = 0.0
      qs.foreach { q =>
        val fn = SparkEntry.queries(q)
        val samples = (1 to Passes).map { _ =>
          (time(fn(spark, fixture).count()),
            time(fn(spark, fixture).write.format("noop").mode("overwrite").save()))
        }.tail
        val c = samples.map(_._1).min; val f = samples.map(_._2).min
        totC += c; totF += f
        println(f"| $set | $q | $c%.3f | $f%.3f | ${f / c}%.2f |")
      }
      println(f"| $set | **total** | $totC%.3f | $totF%.3f | ${totF / totC}%.2f |")
    }
    spark.stop()
    System.exit(0)
  }
}
