package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed operation: a query, a batch, or a probe. `timed = false`
  * keeps an operation out of every timing while it still counts as
  * attempted (and failed, when it fails). */
final case class Op(name: String, wall: Double, cpu: Double, ok: Boolean,
    error: Option[String], layers: Map[String, Double], timed: Boolean = true) {
  def counts: Boolean = ok && timed
}

/** Per-call timers of one operation, plus the traced run's instruments. */
final class Stage(val tracer: Option[Tracer]) {
  val values: mutable.Map[String, Double] = mutable.Map.empty
  def add(key: String, v: Double): Unit =
    values(key) = values.getOrElse(key, 0.0) + v
  def time[T](key: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally add(key, (System.nanoTime() - t0) / 1e9)
  }
}

final class Timer(tracer: Option[Tracer]) {
  def op(name: String, timed: Boolean = true)(body: Stage => Unit): Op = {
    val before = tracer.map(_.snapshot())
    val st = new Stage(tracer)
    val c0 = Proc.cpuNanos
    val t0 = System.nanoTime()
    val err =
      try { body(st); None }
      catch { case e: Throwable => Some(s"$name: $e") }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (Proc.cpuNanos - c0) / 1e9
    val traced = before.map(b => Tracer.diff(tracer.get.snapshot(), b))
      .getOrElse(Map.empty)
    Op(name, wall, cpu, err.isEmpty, err, traced ++ st.values, timed)
  }
}

/** What a workload reports after its timed section: its checks, and the
  * operations those checks count (untimed; attempted, and failed when they
  * fail). */
final case class Finish(checksOk: Boolean, checks: Seq[String],
    extra: Map[String, Any] = Map.empty, ops: Seq[Op] = Nil)

trait Workload {
  /** Generate this run's inputs; part of the set-up. */
  def prepare(spark: SparkSession): Unit
  /** One round: the same operations, in the same order, every time. */
  def round(spark: SparkSession, no: Int, timer: Timer): Seq[Op]
  /** Independent correctness checks, outside the timed section. */
  def finish(spark: SparkSession): Finish
  /** Rows an operation processed: incoming rows merged by a batch, result
    * rows of a query. Read after [[finish]]. */
  def rows(op: Op): Double
  /** Consecutive warm rounds that make one warm sample; a run completes
    * whole samples, and at least one, whatever `seconds` says. */
  def warmGroup: Int = 1
  /** Whether a run may end after `rounds` rounds (cold round included), so
    * that every run attempts whole cycles of the same operations. */
  def canEnd(rounds: Int): Boolean = true
  /** What `resident_mb` reads after the cold round: the block-manager
    * storage the session holds (true), or, for a workload that holds no
    * blocks after a round, the live heap after a full GC. */
  def residentIsStorage: Boolean = false
}

/** The measured JVM. Usage (normally through `perfbench/run.py`):
  * {{{
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <runDir>
  *                  <fixtureDir> <launchEpochMs>
  * }}}
  * Sets up once (a SparkContext at local[4] with 4 shuffle partitions,
  * plus the workload's inputs; `setup_s` runs from `launchEpochMs`, the
  * moment the JVM was launched), runs one cold round and then whole warm
  * samples until `seconds` have passed (at least one), runs the workload's
  * checks, and writes `result.json` (and, when traced, `trace.json`) to
  * `runDir`.
  */
object Main {
  def newSession(runDir: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      // the codegen-class cache size graft.Bench runs with: at Spark's
      // default of 100 entries every warm etl_lifecycle batch recompiled
      // about 100 classes (1 s of Janino) and re-JITted them, and warm
      // rounds then measured compiler threads more than the program
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private final case class Round(ops: Seq[Op], traced: Boolean,
      memoBuilds: Map[String, Double], gcS: Double) {
    def wall: Double = ops.filter(_.counts).map(_.wall).sum
    def cpu: Double = ops.filter(_.counts).map(_.cpu).sum
    def layer(k: String): Double =
      ops.filter(_.counts).map(_.layers.getOrElse(k, 0.0)).sum
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, runDirS, fixture, launchS) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val runDir = Paths.get(runDirS)
    val wl: Workload = workload match {
      case "etl_lifecycle" => new EtlWorkload(seed, runDir)
      case "memo_routes" =>
        new QueryWorkload(QueryWorkload.MemoRoutes, fixture, runDir)
      case other => sys.error(s"unknown workload $other")
    }

    val phases = mutable.LinkedHashMap.empty[String, Double]
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime(); phases(name) = (now - mark) / 1e9; mark = now
    }

    // ------------------------------------------------------------ set-up
    val spark = newSession(runDir)
    wl.prepare(spark)
    val setupS = (System.currentTimeMillis() - launchS.toLong) / 1e3
    graft.MemoLedger.drain()
    phase("setup")
    val tracer = if (trace) Some(new Tracer(spark)) else None

    def runRound(no: Int, traced: Boolean): Round = {
      if (traced) tracer.foreach(_.attach())
      val gc0 = Proc.gcSeconds
      val ops = wl.round(spark, no, new Timer(if (traced) tracer else None))
      val gc = Proc.gcSeconds - gc0
      if (traced) tracer.foreach(_.detach())
      Round(ops, traced, graft.MemoLedger.drain(), gc)
    }

    // ------------------------------------------------------- timed section
    val cold = runRound(0, trace)
    phase("cold")
    val storage = spark.sparkContext.getRDDStorageInfo
    val storedMb = (storage.map(_.memSize).sum + storage.map(_.diskSize).sum) / 1048576.0
    val heapMb = Proc.liveHeapMb()
    val warm = mutable.ArrayBuffer.empty[Round]
    val group = wl.warmGroup
    val w0 = System.nanoTime()
    // a traced run interleaves untraced and traced warm samples (U T T U),
    // so it can report its own overhead without crediting either side with
    // the JIT warm-up the other paid for
    while (warm.isEmpty || warm.size % group != 0 || !wl.canEnd(1 + warm.size) ||
        (trace && warm.size < 4 * group) || (System.nanoTime() - w0) / 1e9 < seconds) {
      warm += runRound(warm.size + 1, trace && Set(1, 2)((warm.size / group) % 4))
    }
    phase("warm")

    // ------------------------------------------------------------ checks
    val fin = wl.finish(spark)
    phase("checks")
    spark.stop()

    val rounds = cold +: warm.toSeq
    val ops = rounds.flatMap(_.ops) ++ fin.ops
    // warm samples: sums over whole groups of consecutive warm rounds
    val samples = warm.toSeq.grouped(group).filter(_.size == group).toSeq
    val plain = samples.filterNot(_.exists(_.traced))
    def sum(g: Seq[Round], f: Round => Double) = g.map(f).sum
    val warmS = median(plain.map(sum(_, _.wall)))
    val done = plain.flatten.flatMap(_.ops.filter(_.counts))
    val e2e: Map[String, Double] = Map(
      "setup_s" -> setupS,
      "cold_s" -> cold.wall,
      "warm_s" -> warmS,
      "cpu_s" -> median(plain.map(sum(_, _.cpu))),
      "batch_s" -> median(done.map(_.wall)),
      "rows_per_s" -> done.map(wl.rows).sum / done.map(_.wall).sum,
      "resident_mb" -> (if (wl.residentIsStorage) storedMb else heapMb))

    val perLayer: Map[String, Double] = if (!trace) Map.empty else {
      val traced = samples.filter(_.forall(_.traced))
      // state size is a per-batch figure; everything else sums per sample
      def warmLayer(k: String) = median(traced.map { g =>
        if (k != "pipeline.state_rows") sum(g, _.layer(k))
        else sum(g, _.layer(k)) /
          math.max(1, g.flatMap(_.ops).count(o => o.counts && o.layers.contains(k)))
      })
      val warmKeys = Seq("catalyst.analysis_s", "catalyst.optimize_s",
        "catalyst.plan_s", "catalyst.scans", "catalyst.exchanges",
        "catalyst.reused_exchanges", "exec.task_s", "exec.task_cpu_s",
        "exec.jobs", "exec.stages", "exec.tasks", "exec.shuffle_write_mb",
        "exec.shuffle_read_mb", "exec.spill_mb", "sources.extract_s",
        "sources.pages", "sources.rows", "pipeline.merge_s",
        "pipeline.counters_s", "pipeline.enrich_s", "pipeline.state_rows",
        "sinks.parquet_s", "sinks.jdbc_s", "sinks.jdbc_rows",
        "sinks.bytes_written")
      // overhead on like operations: the traced and untraced samples of an
      // etl_lifecycle run hold different batches
      def perOp(rs: Seq[Round]) = rs.flatMap(_.ops.filter(_.counts)).groupBy(_.name)
        .map { case (n, os) => n -> median(os.map(_.wall)) }
      val (tw, uw) = (perOp(traced.flatten), perOp(plain.flatten))
      val like = tw.keySet.intersect(uw.keySet).toSeq
      val (tracedW, untracedW) = (like.map(tw).sum, like.map(uw).sum)
      // Σ per operation of cold − warm: the one-time cost each operation
      // pays on first touch (memo builds, and JIT/codegen warm-up)
      val firstTouch = cold.ops.filter(_.counts).map { o =>
        o.wall - median(warm.toSeq.flatMap(_.ops.filter(w => w.counts && w.name == o.name)
          .map(_.wall)))
      }.filterNot(_.isNaN).sum
      warmKeys.map(k => k -> warmLayer(k)).toMap ++ Map(
        "entry.build_s" -> cold.layer("entry.build_s"),
        "codegen.compiles" -> cold.layer("codegen.compiles"),
        "codegen.compile_s" -> cold.layer("codegen.compile_s"),
        "exec.slot_busy" -> median(traced.map(g =>
          sum(g, _.layer("exec.task_s")) / (4 * sum(g, _.wall)))),
        "jvm.gc_s" -> median(traced.map(sum(_, _.gcS))),
        "memo.first_touch_s" -> firstTouch,
        "memo.ledger_s" -> cold.memoBuilds.values.sum,
        "memo.ledger_keys" -> cold.memoBuilds.size.toDouble,
        "memo.warm_rebuilds" -> rounds.tail.map(_.memoBuilds.size).sum.toDouble,
        "memo.resident_mb" -> storedMb,
        "trace.warm_s" -> tracedW,
        "trace.untraced_warm_s" -> untracedW,
        "trace.overhead" -> (tracedW / untracedW - 1))
    }

    val result = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "attempted" -> ops.size, "failed" -> ops.count(!_.ok),
      "errors" -> ops.flatMap(_.error).distinct.take(10),
      "checks_ok" -> fin.checksOk, "checks" -> fin.checks.take(50),
      "rounds" -> rounds.size, "phases_s" -> phases,
      "round_walls_s" -> rounds.map(_.wall),
      "end_to_end" -> e2e, "per_layer" -> perLayer) ++ fin.extra
    write(runDir.resolve("result.json"), Json.render(result))
    if (trace) write(runDir.resolve("trace.json"), Json.render(Map(
      "workload" -> workload, "seed" -> seed, "per_layer" -> perLayer,
      "setup_s" -> setupS, "memo_builds_cold" -> cold.memoBuilds,
      "rounds" -> rounds.zipWithIndex.map { case (r, i) => Map(
        "round" -> i, "traced" -> r.traced, "wall_s" -> r.wall, "cpu_s" -> r.cpu,
        "gc_s" -> r.gcS, "memo_builds" -> r.memoBuilds,
        "ops" -> r.ops.map(o => Map("name" -> o.name, "wall_s" -> o.wall,
          "cpu_s" -> o.cpu, "ok" -> o.ok, "timed" -> o.timed,
          "layers" -> o.layers))) })))
    // Spark and Derby leave non-daemon threads behind; the result is on disk
    System.exit(0)
  }

  def write(p: Path, s: String): Unit =
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
}
