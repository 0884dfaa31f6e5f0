package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call from the benchmark into a layer of the program. */
final case class Span(op: String, layer: String, startNs: Long,
    endNs: Long, parent: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Times the benchmark's calls into each layer. The untraced tracer
  * only runs the body, so end-to-end runs carry no tracing cost. */
sealed trait Tracer {
  def op[T](id: String)(body: => T): T
  def span[T](layer: String)(body: => T): T
}

object Untraced extends Tracer {
  def op[T](id: String)(body: => T): T = body
  def span[T](layer: String)(body: => T): T = body
}

/** Keeps spans in memory. Each op is a Spark job group, and the
  * current layer rides a local property, so [[JobLedger]] can charge
  * every job to the op and layer that started it. */
final class Traced(sc: SparkContext) extends Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var current = ""
  private var stack: List[String] = Nil

  def op[T](id: String)(body: => T): T = {
    current = id
    stack = List("op")
    sc.setJobGroup(id, id)
    sc.setLocalProperty(Traced.LayerKey, "op")
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, "op", t0, System.nanoTime(), "")
      sc.clearJobGroup()
      sc.setLocalProperty(Traced.LayerKey, null)
      stack = Nil
    }
  }

  def span[T](layer: String)(body: => T): T = {
    val parent = stack.headOption.getOrElse("op")
    stack = layer :: stack
    sc.setLocalProperty(Traced.LayerKey, layer)
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(current, layer, t0, System.nanoTime(), parent)
      stack = stack.drop(1)
      sc.setLocalProperty(Traced.LayerKey, stack.headOption.orNull)
    }
  }

  /** Per-layer self time in seconds: each span's duration minus the
    * part its child spans cover (children never overlap here — the
    * loop runs on one thread). */
  def selfSeconds: Map[String, Double] = {
    val childTime = mutable.Map.empty[(String, String), Double]
      .withDefaultValue(0.0)
    spans.foreach(s => if (s.parent.nonEmpty)
      childTime((s.op, s.parent)) += s.seconds)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.seconds - childTime((s.op, s.layer))).sum
    }
  }
}

object Traced { val LayerKey = "perfbench.layer" }

/** Exec-layer counters for one (op, layer) cell. */
final class ExecCounters {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs, schedWaitMs, jobWallMs = 0L
  var shuffleRead, shuffleWrite, spill = 0L

  def +=(o: ExecCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs
    schedWaitMs += o.schedWaitMs; jobWallMs += o.jobWallMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill
  }
}

/** Counts every job, stage and task, charged to the job group (the op)
  * and layer that were set on the thread that submitted the job. */
final class JobLedger extends SparkListener {
  private val cells = mutable.Map.empty[(String, String), ExecCounters]
  private val jobCell = mutable.Map.empty[Int, (String, String)]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageCell = mutable.Map.empty[Int, (String, String)]
  private val stageSubmitted = mutable.Map.empty[Int, Long]

  private def cell(k: (String, String)) =
    cells.getOrElseUpdate(k, new ExecCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) =
      p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val k = (prop("spark.jobGroup.id"), prop(Traced.LayerKey))
    jobCell(e.jobId) = k
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageCell(_) = k)
    cell(k).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (k <- jobCell.remove(e.jobId); t0 <- jobStart.remove(e.jobId))
      cell(k).jobWallMs += e.time - t0
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageSubmitted(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageCell.get(e.stageInfo.stageId).foreach(cell(_).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageCell.get(e.stageId).foreach { k =>
      val c = cell(k)
      c.tasks += 1
      stageSubmitted.get(e.stageId).foreach { s =>
        c.schedWaitMs += math.max(0L, e.taskInfo.launchTime - s)
      }
      Option(e.taskMetrics).foreach { m =>
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Counters summed over every op, keyed by layer. Jobs outside any
    * op (output checks) are left out. */
  def byLayer: Map[String, ExecCounters] = synchronized {
    byCell.groupBy(_._1._2).map { case (layer, cs) =>
      val sum = new ExecCounters
      cs.values.foreach(sum += _)
      layer -> sum
    }
  }

  /** Counters per (op, layer) — the raw attribution for the record. */
  def byCell: Map[(String, String), ExecCounters] =
    synchronized(cells.filter(_._1._1.nonEmpty).toMap)

  def reset(): Unit = synchronized {
    cells.clear(); jobCell.clear(); jobStart.clear()
    stageCell.clear(); stageSubmitted.clear()
  }
}
