package graft.perfbench

import scala.util.control.NonFatal

/** One operation of a workload. `run` is the timed call into the
  * program; `check` inspects its output after the clock has stopped
  * and returns an error message when the output is wrong. */
final case class Op(id: String, run: Tracer => Any,
    check: Any => Option[String] = _ => None)

/** The outcome of one op. A failed op keeps its elapsed time only for
  * the record: it never enters a latency sample. `checkSeconds` is the
  * time its output check took, off every clock. */
final case class OpResult(id: String, seconds: Double,
    error: Option[String], checkSeconds: Double = 0.0) {
  def ok: Boolean = error.isEmpty
}

/** A closed loop with one client: each op starts when the previous
  * one (and its output check) has finished. */
object Loop {

  def runOp(op: Op, tracer: Tracer): OpResult = {
    val t0 = System.nanoTime()
    val out =
      try Right(tracer.op(op.id)(op.run(tracer)))
      catch { case NonFatal(e) => Left(e) }
    val t1 = System.nanoTime()
    val seconds = (t1 - t0) / 1e9
    val error = out match {
      case Left(e) => Some(s"threw ${e.getClass.getName}: ${e.getMessage}")
      case Right(v) =>
        try op.check(v)
        catch { case NonFatal(e) =>
          Some(s"check threw ${e.getClass.getName}: ${e.getMessage}")
        }
    }
    val checkSeconds = (System.nanoTime() - t1) / 1e9
    error.foreach(m => System.err.println(s"[perfbench] ${op.id} FAILED: $m"))
    OpResult(op.id, seconds, error, checkSeconds)
  }

  def runPass(ops: Seq[Op], tracer: Tracer): Seq[OpResult] =
    ops.map(runOp(_, tracer))

  /** Warm-up is a fixed number of passes. A level-off rule (stop once a
    * pass is at most 10% faster than the one before) cannot end it
    * sooner: a JVM's first pass is 3-4 times a warm one, so the second
    * is always far faster. More passes do not fit the run budget. */
  val WarmUpPasses = 3

  def warmUp(pass: Int => Seq[Op], tracer: Tracer): Seq[Seq[OpResult]] =
    (0 until WarmUpPasses).map { n =>
      val rs = runPass(pass(n), tracer)
      System.err.println(f"[perfbench] warm-up pass $n: ${rs.map(_.seconds).sum}%.3f s")
      rs
    }

  /** Whether warm-up levelled off: its last pass was at most 10% faster
    * than the one before. */
  def levelledOff(passes: Seq[Seq[OpResult]]): Boolean =
    passes.size >= 2 && {
      val Seq(a, b) = passes.takeRight(2).map(_.map(_.seconds).sum)
      b > a * 0.9
    }

  /** Runs whole passes until the ops' own time reaches `seconds`. */
  def measure(pass: Int => Seq[Op], firstPass: Int, tracer: Tracer,
      seconds: Double): Seq[Seq[OpResult]] = {
    val out = Vector.newBuilder[Seq[OpResult]]
    var spent = 0.0
    var n = firstPass
    while (spent < seconds) {
      val rs = runPass(pass(n), tracer)
      spent += rs.map(_.seconds).sum
      out += rs
      n += 1
    }
    out.result()
  }
}

/** End-to-end figures of the measured passes. */
final case class Summary(passes: Seq[Seq[OpResult]]) {
  val results: Seq[OpResult] = passes.flatten
  val attempted: Int = results.size
  val failed: Int = results.count(!_.ok)
  /** Timed wall clock: the ops run back to back, so this is the sum of
    * their intervals (output checks run between them, off the clock). */
  val wallSeconds: Double = results.map(_.seconds).sum
  /** Ops completed per second of a pass, the median over passes: one
    * pass slowed by a neighbour on a shared machine does not move it. */
  def opsPerSecond: Double = Summary.median(passes.map(p =>
    p.count(_.ok) / p.map(_.seconds).sum))
  def p50Seconds: Double = Summary.median(results.filter(_.ok).map(_.seconds))
  def failedRatio: Double = failed.toDouble / attempted
}

object Summary {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
}
