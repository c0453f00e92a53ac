package abrbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Entry point:
  * `abrbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir> [--trace-out <file>]`.
  * Prints a human-readable summary on stderr and, as the last line of
  * stdout, one JSON object: `correct`, `attempted`, `failed`, `metrics`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: Path, traceOut: Option[Path])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      m.getOrElse("--trace", "0") == "1", Paths.get(need("--work")),
      m.get("--trace-out").map(Paths.get(_)))
  }

  val workloads = Seq("weekly_run", "high_churn", "lake_queries",
    "versioned_merge")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(workloads.contains(a.workload), s"unknown workload ${a.workload}")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.local(
      Runtime.getRuntime.availableProcessors.toString, "abrbench")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    try {
      val line = new Runner(spark, a, sessionS).run()
      System.out.println(line)
      System.out.flush()
    } finally spark.stop()
  }
}

/** Runs one workload for one seed: repeated set-ups and a warm-up, then
  * the timed window; with `--trace 1` traced operations alternate with
  * untraced ones in it.
  */
final class Runner(spark: SparkSession, a: Main.Args, sessionS: Double) {

  /** Set-ups per run; `setup_s` reports their median. */
  private val setups = 3

  private val churnWeekly = Gen.Churn(0.03, 0.01, 0.005)
  private val churnHigh = Gen.Churn(0.5, 0.1, 0.05)
  private val rows = 8000

  private var attempted = 0
  private var failed = 0
  private val cores = Runtime.getRuntime.availableProcessors
  // reference rounds timed between operations; the first two warm it up
  private val calibrations = mutable.ArrayBuffer.empty[Double]
  (1 to 2).foreach(_ => Calibrate.round(cores))
  private def calibrate(): Unit =
    (1 to 2).foreach(_ => calibrations += Calibrate.round(cores))

  private val problems = mutable.ArrayBuffer.empty[String]
  private val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val perLayer = mutable.LinkedHashMap.empty[String, Double]

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def problem(ps: Seq[String]): Boolean = {
    if (ps.nonEmpty) {
      problems ++= ps.take(5)
      System.err.println(ps.take(5).mkString("CHECK FAILED: ", "\n  ", ""))
    }
    ps.nonEmpty
  }

  /** Run the set-up `setups` times in fresh directories; keep the last. */
  private def setupAll(f: Path => Unit): Seq[Double] =
    (1 to setups).map { i =>
      Workload.rm(a.work.resolve(s"rep${i - 1}"))
      System.gc()
      calibrate()
      timed(f(a.work.resolve(s"rep$i")))._2
    }

  def run(): String = {
    val (setupTimes, warmS, e) = a.workload match {
      case "lake_queries" => runQueries()
      case w => runCycles(w)
    }
    val setupS = sessionS + Stats.median(setupTimes) + warmS
    // wall times at reference speed: the host's speed drifts by a
    // quarter and more over minutes, which no run length averages out
    // (the mean: round times come out bimodal, with the threads' placement
    // on the cores, and the mean weighs both modes)
    val speed = Calibrate.ReferenceS / (calibrations.sum / calibrations.size)
    e2e("setup_s") = (setupS * speed, "s")
    e2e("peak_rss_mb") = (peakRssMb(), "MB")
    e2e ++= e.map {
      case (k, (v, "ms")) => k -> (v * speed, "ms")
      case (k, (v, "1/s")) => k -> (v / speed, "1/s")
      case kv => kv
    }
    System.err.println(f"raw: setup_s=$setupS%.4f " + e.map { case (k, (v, _)) =>
      f"$k=$v%.4f" }.mkString(" ") + f" calibration=" +
      calibrations.map(c => f"$c%.3f").mkString("[", " ", "]") +
      f" speed=$speed%.4f")
    System.err.println(f"${a.workload} seed=${a.seed} session=$sessionS%.2fs " +
      f"setups=${setupTimes.map(t => f"$t%.2f").mkString("/")}s " +
      f"warm=$warmS%.2fs attempted=$attempted failed=$failed " +
      f"error_rate=${failed.toDouble / math.max(1, attempted)}%.4f")
    e2e.foreach { case (k, (v, u)) => System.err.println(f"  $k%-28s $v%14.4f $u") }
    perLayer.foreach { case (k, v) => System.err.println(f"  $k%-40s $v%16.4f") }
    val metrics =
      if (a.trace) Runner.layers.map { case (k, u) => k -> (perLayer(k), u) }
      else e2e
    val body = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    val correct = failed == 0 && problems.isEmpty && attempted > 0
    s"""{"correct": $correct, "attempted": ${math.max(1, attempted)}, """ +
      s""""failed": ${if (attempted == 0) 1 else failed}, "metrics": {$body}}"""
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private def deadline(seconds: Double): Long =
    System.nanoTime() + (seconds * 1e9).toLong

  // ---------------------------------------------------------------- cycles

  private def workload(name: String): Workload = name match {
    case "weekly_run" =>
      new WeeklyDrop(spark, a.seed, rows, rows / 4, churnWeekly,
        expectWide = false, opposite = churnHigh)
    case "high_churn" =>
      new WeeklyDrop(spark, a.seed, rows, 0, churnHigh,
        expectWide = true, opposite = churnWeekly)
    case "versioned_merge" =>
      new VersionedMerge(spark, a.seed, rows, churnWeekly)
  }

  /** One iteration; returns the seconds of `f`, or None if it threw or
    * the operation's output failed a check.
    */
  private def iteration(w: Workload, f: => Unit,
                        onOk: => Unit = ()): Option[Double] = {
    w.prepare()
    System.gc()
    calibrate()
    attempted += 1
    val t = try Some(timed(f)._2) catch {
      case e: Exception =>
        problem(Seq(s"operation failed: $e")); None
    }
    val bad = t.isEmpty || problem(w.check())
    if (!bad) onOk
    w.reset()
    if (bad) { failed += 1; None } else t
  }

  private def runCycles(name: String)
      : (Seq[Double], Double, Seq[(String, (Double, String))]) = {
    val w = workload(name)
    val setupTimes = setupAll(w.setup)
    problem(w.setupProblems)
    // untimed warm-up: a cycle's first runs in a JVM carry first-use
    // costs (its time keeps falling slowly after that, as the JIT works)
    val warm = timed((1 to 2).foreach { _ =>
      w.prepare(); w.op(); problem(w.check()); w.reset()
    })._2
    // with --trace 1, traced iterations alternate with untraced ones, so
    // both see the same JIT and cache state and their ratio is the
    // tracing overhead
    val tr = if (a.trace) Some(new Tracer) else None
    tr.foreach { t =>
      spark.sparkContext.addSparkListener(t.sparkListener)
      spark.listenerManager.register(t.queryListener)
    }
    val samples = mutable.ArrayBuffer.empty[Double]
    val tracedSamples = mutable.ArrayBuffer.empty[Double]
    val walls = mutable.ArrayBuffer.empty[Double]
    val per = mutable.ArrayBuffer.empty[Map[String, Double]]
    val end = deadline(a.seconds)
    val minOps = if (a.trace) 6 else 3
    var n = 0
    // start another iteration only if one of typical length still fits
    while (n < minOps || System.nanoTime() +
             (Stats.median(walls.toSeq) * 1e9).toLong < end) {
      n += 1
      val id = n
      walls += timed(tr match {
        case Some(t) if (n / 2) % 2 == 1 => // U T T U U T T …
          iteration(w, w.traced(t, id), {
            org.apache.spark.abrbench.Bus.drain(spark.sparkContext)
            per += w.layers(t, id)
          }).foreach(tracedSamples += _)
        case _ => iteration(w, w.op()).foreach(samples += _)
      })._2
    }
    tr.foreach { t =>
      spark.listenerManager.unregister(t.queryListener)
      spark.sparkContext.removeSparkListener(t.sparkListener)
      a.traceOut.foreach(t.write)
      // the traced operation of median length, whole, so its child spans
      // and self time add up to its run time
      val mid = per.sortBy(_("traced.run_s")).lift((per.size - 1) / 2)
      report(mid.getOrElse(Map.empty) + ("trace_overhead" ->
        (if (samples.isEmpty || tracedSamples.isEmpty) 0.0
         else Stats.median(tracedSamples.toSeq) / Stats.median(samples.toSeq))))
    }
    val ratio = w.lakeBytesPerInputByte
    val p50 = if (samples.isEmpty) 0.0 else Stats.median(samples.toSeq)
    System.err.println(s"cycles: ${samples.size} untraced samples " +
      samples.map(s => f"$s%.3f").mkString("[", " ", "]"))
    (setupTimes, warm, Seq(
      "op_p50_ms" -> (p50 * 1e3, "ms"),
      "ops_per_s" -> (samples.size / math.max(1e-9, samples.sum), "1/s"),
      "lake_bytes_per_input_byte" -> (ratio, "ratio")))
  }

  /** Report every per-layer metric from `m`; the layers a workload does
    * not exercise report 0.
    */
  private def report(m: Map[String, Double]): Unit =
    Runner.layers.map(_._1).foreach(k => perLayer(k) = m.getOrElse(k, 0.0))

  // --------------------------------------------------------------- queries

  private def runQueries()
      : (Seq[Double], Double, Seq[(String, (Double, String))]) = {
    val lq = new LakeQueries(spark, a.seed, 600, 26, churnWeekly)
    val setupTimes = setupAll(lq.setup)
    val outRoot = a.work.resolve("results")
    val clients = 2

    /** Closed loop: each client sends its next query when the last
      * returns. Returns (latency seconds, query, output) per query and
      * the wall time of the window.
      */
    def loop(tag: String, window: Double, call: (Int, Q, String) => String) = {
      val results = mutable.ArrayBuffer.empty[(Double, Q, Either[String, String])]
      val pool = Executors.newFixedThreadPool(clients)
      val end = deadline(window)
      val t0 = System.nanoTime()
      val opIds = new java.util.concurrent.atomic.AtomicInteger()
      (0 until clients).foreach { c =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val rnd = new java.util.SplittableRandom(
              a.seed * 1000003L + c * 7919L + tag.hashCode)
            val out = outRoot.resolve(s"$tag-$c").toString
            var i = c * 5
            while (System.nanoTime() < end) {
              val q = lq.next(rnd, i)
              i += 1
              val id = opIds.incrementAndGet()
              val s = System.nanoTime()
              val r = try Right(call(id, q, out)) catch {
                case e: Exception => Left(e.toString)
              }
              val dt = (System.nanoTime() - s) / 1e9
              results.synchronized(results += ((dt, q, r)))
            }
          }
        })
      }
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.MINUTES)
      (results.toSeq, (System.nanoTime() - t0) / 1e9)
    }

    def account(rs: Seq[(Double, Q, Either[String, String])]): Seq[Double] =
      rs.flatMap { case (dt, q, r) =>
        attempted += 1
        val bad = r match {
          case Left(e) => problem(Seq(s"query failed: $e"))
          case Right(f) => problem(lq.check(q, f))
        }
        if (bad) { failed += 1; None } else Some(dt)
      }

    // warm-up: both clients for a few seconds, outputs checked, not timed
    val warm = timed(loop("w", 3.0, (_, q, out) => lq.run(q, out))._1
      .foreach { case (_, q, r) =>
        problem(r.fold(e => Seq(s"query failed: $e"), lq.check(q, _)))
      })._2
    // with --trace 1, untraced and traced windows alternate, so both see
    // the same JIT and cache state
    val tr = new Tracer
    val plain = mutable.ArrayBuffer.empty[(Double, Q, Either[String, String])]
    val traced = mutable.ArrayBuffer.empty[(Double, Q, Either[String, String])]
    var wall = 0.0
    val windows = if (a.trace) Seq(false, true, false, true) else Seq(false)
    windows.zipWithIndex.foreach { case (t, i) =>
      calibrate()
      val len = a.seconds.toDouble / windows.size
      if (!t) {
        val (rs, w) = loop(s"q$i", len, (_, q, out) => lq.run(q, out))
        plain ++= rs
        wall += w
      } else {
        spark.sparkContext.addSparkListener(tr.sparkListener)
        spark.listenerManager.register(tr.queryListener)
        traced ++= loop(s"t$i", len, (id, q, out) =>
          tr.span("QueryApi.query", -1, id + 100000 * i)(_ => lq.run(q, out)))._1
        org.apache.spark.abrbench.Bus.drain(spark.sparkContext)
        spark.listenerManager.unregister(tr.queryListener)
        spark.sparkContext.removeSparkListener(tr.sparkListener)
      }
    }
    calibrate()
    val lat = account(plain.toSeq)
    val p50 = if (lat.isEmpty) 0.0 else Stats.median(lat)
    val tail = Stats.tail(lat)
    System.err.println(s"queries: ${lat.size} in ${"%.2f".format(wall)} s, " +
      s"${clients} clients; " + tail.map { case (p, v) =>
        f"query_p${p.toInt}_ms=${v * 1e3}%.2f" }.getOrElse("no tail"))
    if (a.trace) {
      a.traceOut.foreach(tr.write)
      val tlat = account(traced.toSeq)
      val qs = tr.queries.toSeq
        .filter(_.metrics.contains("DataWritingCommandExec.numOutputRows"))
      def med(f: QueryRec => Double) =
        if (qs.isEmpty) 0.0 else Stats.median(qs.map(f))
      val scanned = qs.map(_.m("FileSourceScanExec.numOutputRows")).sum
      val returned = qs.map(_.m("DataWritingCommandExec.numOutputRows")).sum
      report(Map(
        "query.planning_s" -> med(_.planningMs / 1e3),
        "query.exec_s" -> med(_.durationNs / 1e9),
        "query.partitions_read" -> med(_.m("FileSourceScanExec.numPartitions").toDouble),
        "query.files_read" -> med(_.m("FileSourceScanExec.numFiles").toDouble),
        "query.bytes_read" -> med(_.m("FileSourceScanExec.filesSize").toDouble),
        "query.rows_read_per_row_returned" ->
          scanned.toDouble / math.max(1L, returned),
        "traced.run_s" -> (if (tlat.isEmpty) 0.0 else Stats.median(tlat))) ++
        Runner.runtime(Slice(tr.jobs.size, tr.tasks.toSeq, qs),
          math.max(1, traced.size)) +
        ("trace_overhead" -> (if (tlat.isEmpty) 0.0 else Stats.median(tlat) / p50)))
    }
    (setupTimes, warm, Seq(
      "op_p50_ms" -> (p50 * 1e3, "ms"),
      "ops_per_s" -> (lat.size / wall, "1/s"),
      "lake_bytes_per_input_byte" -> (lq.lakeBytesPerInputByte, "ratio")))
  }
}

object Runner {

  /** Every per-layer metric the traced run reports, with its unit, in
    * output order.
    */
  val layers: Seq[(String, String)] = Seq(
    "extract.busy_s" -> "s", "extract.bytes_out" -> "bytes",
    "ingest.busy_s" -> "s", "ingest.rows_in" -> "count",
    "ingest.bytes_in" -> "bytes", "ingest.bytes_written" -> "bytes",
    "ingest.files_written" -> "count", "ingest.tasks" -> "count",
    "ingest.task_cpu_s" -> "s", "ingest.task_skew" -> "ratio",
    "catalog.busy_s" -> "s", "catalog.partitions" -> "count",
    "catalog.files_listed" -> "count",
    "delta.narrow_s" -> "s", "delta.changed_keys" -> "count",
    "delta.wide_fallback" -> "count", "delta.shuffle_bytes" -> "bytes",
    "delta.spill_bytes" -> "bytes", "delta.rows_scanned" -> "count",
    "delta.rows_scanned_per_output_row" -> "ratio",
    "output.busy_s" -> "s", "output.rows" -> "count",
    "output.bytes" -> "bytes", "output.single_task_s" -> "s",
    "query.planning_s" -> "s", "query.exec_s" -> "s",
    "query.partitions_read" -> "count", "query.files_read" -> "count",
    "query.bytes_read" -> "bytes",
    "query.rows_read_per_row_returned" -> "ratio",
    "lake.merge_s" -> "s", "lake.changes_s" -> "s",
    "lake.commits" -> "count", "lake.files_added" -> "count",
    "lake.files_removed" -> "count",
    "lake.bytes_rewritten_per_changed_row" -> "bytes/row",
    "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.task_cpu_s" -> "s", "spark.scheduler_delay_s" -> "s",
    "spark.gc_s" -> "s", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "pipeline.self_s" -> "s", "pipeline.children_s" -> "s",
    "traced.run_s" -> "s", "trace_overhead" -> "ratio")

  /** Spark runtime totals of a slice, per operation. */
  def runtime(sl: Slice, ops: Int = 1): Map[String, Double] = Map(
    "spark.jobs" -> sl.jobs.toDouble / ops,
    "spark.tasks" -> sl.tasks.size.toDouble / ops,
    "spark.task_cpu_s" -> sl.sum(_.cpuNs) / 1e9 / ops,
    "spark.scheduler_delay_s" -> sl.sum(_.schedDelayMs) / 1e3 / ops,
    "spark.gc_s" -> sl.sum(_.gcMs) / 1e3 / ops,
    "spark.shuffle_write_bytes" -> sl.sum(_.shuffleWrite).toDouble / ops,
    "spark.spill_bytes" -> sl.sum(_.spill).toDouble / ops)
}
