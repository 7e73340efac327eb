package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed span. Times are epoch microseconds; `parent` is -1 for an op. */
final case class Span(id: Int, name: String, op: Int, parent: Int,
                      start: Long, var end: Long = -1L)

/** Per-span execution counters summed from listener events. */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskRunMs = 0L; var taskCpuNs = 0L; var taskGcMs = 0L
  var inputBytes = 0L; var shuffleWriteBytes = 0L; var shuffleReadBytes = 0L
  var spillBytes = 0L
  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs; taskGcMs += o.taskGcMs
    inputBytes += o.inputBytes; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes
  }
}

/** Raw job record as the listener saw it. */
final case class JobRec(jobId: Int, group: Option[String], startMs: Long,
                        var endMs: Long, stageIds: Seq[Int])

/** Collects job, stage and task events. Events only record raw facts;
  * attribution to spans happens in [[Tracer.attribute]] after the bus is
  * drained, when every span's bounds are known. */
final class LayerListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val byStage = mutable.HashMap.empty[Int, Counters]

  private def stageCounters(stageId: Int): Counters =
    byStage.getOrElseUpdate(stageId, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
    jobs(e.jobId) = JobRec(e.jobId, group, e.time, -1L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageCounters(e.stageInfo.stageId).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = stageCounters(e.stageId)
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.taskGcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** Records spans in memory. With tracing off every method is a cheap
  * no-op apart from the clock reads the untraced timings need anyway. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val listener: Option[LayerListener] =
    if (enabled) { val l = new LayerListener; sc.addSparkListener(l); Some(l) } else None

  def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  /** Runs `body` as a span named `name` under span `parent` (-1 for an
    * op); `body` gets the new span's id. Returns the result and seconds. */
  def span[T](name: String, op: Int, parent: Int)(body: Int => T): (T, Double) = {
    val id = spans.length
    val sp = Span(id, name, op, parent, nowUs())
    if (enabled) {
      spans += sp
      sc.setJobGroup(s"perfbench-$id", name, interruptOnCancel = false)
    }
    val t0 = System.nanoTime()
    try {
      val r = body(id)
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      sp.end = nowUs()
      if (enabled) {
        if (parent >= 0) sc.setJobGroup(s"perfbench-$parent", spans(parent).name,
          interruptOnCancel = false)
        else sc.clearJobGroup()
      }
    }
  }

  /** Counters per span id for the jobs of op `op`. A job goes to the span
    * its job group names when it started inside that span. A job with no
    * group, or with a stale one (a pool thread created under an earlier
    * span keeps that span's group), goes to the innermost span of the op
    * open when it started; the harness's own setup and check jobs run
    * outside every op span, so they are never placed. Listener times are
    * in ms, spans in µs, hence the 1 ms allowance at a span's start. */
  def attribute(op: Int): (Map[Int, Counters], Seq[(JobRec, Int)]) = listener match {
    case None => (Map.empty, Seq.empty)
    case Some(l) =>
      org.apache.spark.PerfbenchBus.drain(sc)
      l.synchronized {
        val opSpans = spans.filter(_.op == op)
        def inside(s: Span, ms: Long) = ms * 1000 >= s.start - 1000 && ms * 1000 <= s.end
        val byGroup = opSpans.map(s => s"perfbench-${s.id}" -> s).toMap
        val placed = l.jobs.values.toSeq.flatMap { j =>
          j.group.flatMap(byGroup.get).filter(inside(_, j.startMs))
            .orElse(opSpans.filter(inside(_, j.startMs)).sortBy(-_.start).headOption)
            .map(s => j -> s.id)
        }
        val out = mutable.HashMap.empty[Int, Counters]
        placed.foreach { case (j, sid) =>
          val c = out.getOrElseUpdate(sid, new Counters)
          c.jobs += 1
          // a stage's counters belong to the job that ran it; a later job
          // listing the same (skipped) stage adds nothing
          j.stageIds.flatMap(l.byStage.remove).foreach(c.add)
        }
        placed.foreach { case (j, _) => l.jobs.remove(j.jobId) }
        (out.toMap, placed)
      }
  }
}

object Tracer {
  val SetupGroup = "perfbench-setup"
  val CheckGroup = "perfbench-check"
}
