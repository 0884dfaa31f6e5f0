package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.SparkSession

import graft.{Bench, SparkEntry}

/** One benchmark run of one workload in this JVM; `perfbench/run.py`
  * launches it and prints the result line.
  *
  * {{{
  * Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *      --work DIR --expected FILE --result FILE [--spans FILE]
  *      [--launched-ms EPOCH_MS]
  * Main --digest W --data DIR      # print expected-digest lines
  * }}}
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    if (args.contains("--digest")) digest(args("--digest"), args("--data"))
    else run(args)
  }

  private def session(): SparkSession = Bench.timingSession()

  private def digest(workload: String, dataDir: String): Unit = {
    val spark = session()
    val fns = SparkEntry.queries
    Workload.Registry(workload).foreach { q =>
      val rows = fns(q)(spark, dataDir).collect().toSeq
      println(Digest.line(q, rows, rowsOnly = !SparkEntry.oracleSql.contains(q)))
    }
    spark.stop()
  }

  private def run(args: Map[String, String]): Unit = {
    val launchedMs = args.get("--launched-ms").map(_.toLong)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val name = args("--workload")
    val seed = args("--seed").toLong
    val seconds = args("--seconds").toDouble
    val traced = args("--trace") == "1"

    val spark = session()
    val sessionUpMs = System.currentTimeMillis()
    val sc = spark.sparkContext
    val ledger = new JobLedger
    val tracer: Tracer =
      if (traced) { sc.addSparkListener(ledger); new Traced(sc) } else Untraced

    val w = Workload(name, spark, args("--data"), args("--work"),
      args("--expected"), seed)
    val warmT0 = System.nanoTime()
    val warm = Loop.warmUp(w.pass, tracer)
    val setupDoneMs = System.currentTimeMillis()
    // output checks run off every clock, set-up's too
    val warmChecksSeconds = warm.flatten.map(_.checkSeconds).sum
    val warmSeconds = (System.nanoTime() - warmT0) / 1e9 - warmChecksSeconds
    val setupSeconds = (setupDoneMs - launchedMs) / 1e3 - warmChecksSeconds

    // fixed cost of a one-task job, probed after warm-up (traced only)
    val trivialJob = if (!traced) Double.NaN else Summary.median((1 to 15).map { _ =>
      val t0 = System.nanoTime()
      sc.parallelize(Seq(1), 1).count()
      (System.nanoTime() - t0) / 1e9
    })
    tracer match {
      case t: Traced => ListenerDrain(sc); ledger.reset(); t.spans.clear()
      case _ => ()
    }
    w.resetCounters()

    val sum = Summary(Loop.measure(w.pass, warm.size, tracer, seconds))
    val results = sum.results
    val warmFailures = warm.flatten.filterNot(_.ok)

    val e2e = Map(
      "setup_s" -> setupSeconds,
      "ops_per_s" -> sum.opsPerSecond,
      "op_s_p50" -> sum.p50Seconds,
      "failed_ratio" -> sum.failedRatio,
      "peak_rss_mb" -> peakRssMb()) ++
      w.storedBytesPerRow.map("stored_bytes_per_row" -> _)

    val layers = tracer match {
      case t: Traced =>
        ListenerDrain(sc)
        layerMetrics(t, ledger, w, results.size, sc.defaultParallelism) ++ Map(
          "session.start_s" -> (sessionUpMs - launchedMs) / 1e3,
          "session.warmup_s" -> warmSeconds,
          "session.warmup_passes" -> warm.size.toDouble,
          "exec.trivial_job_s" -> trivialJob)
      case _ => Map.empty[String, Double]
    }

    val errors = (warmFailures ++ results.filterNot(_.ok)).take(20)
      .map(r => s"${r.id}: ${r.error.get}")
    val json = Json.obj(
      "workload" -> name, "seed" -> seed, "trace" -> traced,
      "attempted" -> sum.attempted, "failed" -> sum.failed,
      "warmup_failed" -> warmFailures.size,
      "errors" -> errors,
      "launched_ms" -> launchedMs, "session_up_ms" -> sessionUpMs,
      "setup_done_ms" -> setupDoneMs,
      "warmup_check_s" -> warmChecksSeconds,
      "warmup_pass_s" -> warm.map(_.map(_.seconds).sum),
      "warmup_levelled" -> Loop.levelledOff(warm),
      "wall_s" -> sum.wallSeconds,
      "ops" -> results.map(r => Json.obj("op" -> r.id, "seconds" -> r.seconds,
        "ok" -> r.ok)),
      "end_to_end" -> e2e, "per_layer" -> layers)
    Files.writeString(Paths.get(args("--result")), json + "\n", UTF_8)

    (tracer, args.get("--spans")) match {
      case (t: Traced, Some(path)) => writeSpans(path, t, ledger, results)
      case _ => ()
    }
    spark.stop()
  }

  /** Per-layer figures of the measured interval. Times are seconds per
    * call of that layer, children included (`self.<layer>` keeps the
    * self time, summed over the interval); counters are per op. */
  private def layerMetrics(t: Traced, ledger: JobLedger, w: Workload,
      ops: Int, cores: Int): Map[String, Double] = {
    val self = t.selfSeconds
    val byLayer = t.spans.groupBy(_.layer)
    def perCall(layer: String): Double =
      byLayer.get(layer).fold(0.0)(s => s.map(_.seconds).sum / s.size)
    val all = new ExecCounters
    ledger.byLayer.values.foreach(all += _)
    val build = ledger.byLayer.getOrElse("operators.build", new ExecCounters)
    def perOp(x: Double) = x / ops
    Map(
      "operators.build_s" -> perCall("operators.build"),
      "operators.build_jobs" -> perOp(build.jobs),
      "plans.plan_s" -> perCall("plans.plan"),
      "exec.exec_s" -> perOp(all.jobWallMs / 1e3),
      "exec.jobs" -> perOp(all.jobs),
      "exec.stages" -> perOp(all.stages),
      "exec.tasks" -> perOp(all.tasks),
      "exec.cpu_s" -> perOp(all.cpuNs / 1e9),
      "exec.task_run_s" -> perOp(all.runMs / 1e3),
      "exec.gc_s" -> perOp(all.gcMs / 1e3),
      "exec.shuffle_read_bytes" -> perOp(all.shuffleRead),
      "exec.shuffle_write_bytes" -> perOp(all.shuffleWrite),
      "exec.spill_bytes" -> perOp(all.spill),
      "exec.sched_wait_s" ->
        (if (all.tasks == 0) 0.0 else all.schedWaitMs / 1e3 / all.tasks),
      "exec.slot_util" ->
        (if (all.jobWallMs == 0) 0.0
         else all.runMs.toDouble / (all.jobWallMs.toDouble * cores)),
      "sources.parse_s" -> perCall("sources.parse"),
      "operators.describe_s" -> perCall("operators.describe"),
      "sinks.parquet_s" -> perCall("sinks.parquet"),
      "sinks.jdbc_s" -> perCall("sinks.jdbc"),
      "artifacts.build_s" -> perCall("artifacts.build"),
      "artifacts.serve_s" -> perCall("artifacts.serve"),
      "artifacts.append_s" -> perCall("artifacts.append"),
      "artifacts.compact_s" -> perCall("artifacts.compact")) ++
      w.counters.collect {
        case (k, v) if k.contains('.') =>
          // bytes per artifact cycle; everything else per op
          k -> (if (k.startsWith("artifacts.")) v / byLayer("artifacts.build").size
                else perOp(v))
      } ++ self.map { case (l, s) => s"self.$l" -> s }
  }

  private def writeSpans(path: String, t: Traced, ledger: JobLedger,
      results: Seq[OpResult]): Unit = {
    val t0 = t.spans.map(_.startNs).min
    val spans = t.spans.map(s => Json.obj("op" -> s.op, "layer" -> s.layer,
      "parent" -> s.parent, "start_s" -> (s.startNs - t0) / 1e9,
      "end_s" -> (s.endNs - t0) / 1e9))
    val jobs = ledger.byCell.toSeq.sortBy(_._1).map { case ((op, layer), c) =>
      Json.obj("op" -> op, "layer" -> layer, "jobs" -> c.jobs,
        "stages" -> c.stages, "tasks" -> c.tasks,
        "job_wall_s" -> c.jobWallMs / 1e3, "task_run_s" -> c.runMs / 1e3)
    }
    val ops = results.map(r => Json.obj("op" -> r.id, "seconds" -> r.seconds,
      "ok" -> r.ok))
    Files.writeString(Paths.get(path),
      Json.obj("ops" -> ops, "spans" -> spans, "jobs" -> jobs) + "\n", UTF_8)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
}

/** Just enough JSON output for the result and span files. */
object Json {
  final case class Raw(text: String) { override def toString: String = text }

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))

  private def str(s: String): String = "\"" + graft.Bench.jsonEscape(s) + "\""

  def value(v: Any): String = v match {
    case r: Raw => r.text
    case s: String => str(s)
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double => java.lang.Double.toString(d)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => str(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
