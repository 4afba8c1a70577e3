package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One timed region. Times are nanoTime-based; `startMs`/`endMs` map them
  * onto the wall clock so Spark job events (wall-clock ms) can be placed
  * inside the span that was open when they were submitted.
  */
final class Span(val id: Int, val name: String, val parent: Int,
                 val op: Int, val startNs: Long) {
  var endNs: Long = -1L
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder for the traced run. One client thread, so a
  * plain stack gives every span its parent. `on` is flipped per op: only
  * traced ops record spans; untraced ops run the same code with no
  * recording, which is what the tracing-overhead figure compares against.
  */
final class Tracer {
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  var on = false
  var op = -1

  def wallMs(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        op, System.nanoTime())
      spans += s
      stack = s :: stack
      try body
      finally { s.endNs = System.nanoTime(); stack = stack.tail }
    }

  /** Children of every span, built once after the run. */
  def children: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  /** Span time not covered by its children (the union of their intervals). */
  def selfMs(s: Span, kids: Map[Int, Seq[Span]]): Double =
    s.ms - Trace.unionMs(kids.getOrElse(s.id, Nil).map(c => (c.startNs / 1e6, c.endNs / 1e6)))
}

/** Stage and task counters of one Spark job, filled by [[JobRecorder]]. */
final class JobRec(val id: Int, val submitMs: Long, val stages: Seq[Int]) {
  var endMs: Long = -1L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
}

/** Listener that rolls task metrics up per job. Events arrive on the
  * listener bus thread; read the counters only after
  * `ListenerDrain.drain`.
  */
final class JobRecorder extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new JobRec(e.jobId, e.time, e.stageIds)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
      }
    }
  }

  def snapshot: Seq[JobRec] = synchronized(jobs.values.toSeq)
}

object Trace {
  /** Length of the union of [start, end] intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Innermost span open at each job's submission; jobs submitted outside
    * every traced span map to nothing.
    */
  def assign(tr: Tracer, jobs: Seq[JobRec]): Map[Int, Seq[JobRec]] = {
    val closed = tr.spans.filter(_.endNs > 0).toSeq
      .map(s => (s, tr.wallMs(s.startNs), tr.wallMs(s.endNs)))
    val depth = mutable.HashMap[Int, Int]()
    def d(s: Span): Int = depth.getOrElseUpdate(s.id,
      if (s.parent < 0) 0 else d(tr.spans(s.parent)) + 1)
    jobs.flatMap { j =>
      val t = j.submitMs.toDouble
      // job times are whole ms: allow the span's own ms to contain them
      val hits = closed.filter { case (_, a, b) => t >= math.floor(a) && t <= math.ceil(b) }
      if (hits.isEmpty) None else Some(hits.maxBy(h => d(h._1))._1.id -> j)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }
}
