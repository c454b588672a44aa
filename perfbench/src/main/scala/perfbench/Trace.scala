package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** A timed interval at a layer boundary. Times are epoch microseconds;
  * `op` is the id shared by one op's spans, `parent` the enclosing span
  * (-1 at the root).
  */
final case class Span(id: Int, op: Int, name: String, startUs: Long, endUs: Long, parent: Int)

/** In-memory span recorder for traced ops; a no-op while disabled. */
final class Trace(var enabled: Boolean) {
  private val base = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def nowUs: Long = base + System.nanoTime() / 1000L

  val spans = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      spans += Span(id, op, name, nowUs, -1L, open.headOption.getOrElse(-1))
      open = id :: open
      try body
      finally {
        spans(id) = spans(id).copy(endUs = nowUs)
        open = open.tail
      }
    }

  /** Adds the scheduler's job and stage spans of `ops`, parenting each
    * job to the innermost driver span of its op open when it started.
    */
  def addScheduler(l: OpListener, ops: Set[Int]): Unit = {
    val driver = spans.toVector
    val jobSpan = mutable.Map.empty[Int, Int]
    l.jobSpans.filter(j => ops(j._1)).foreach { case (op, job, s, e) =>
      val parent = driver.filter(d => d.op == op && d.startUs <= s && s <= d.endUs)
        .sortBy(-_.startUs).headOption.map(_.id).getOrElse(-1)
      jobSpan(job) = spans.size
      spans += Span(spans.size, op, "job", s, e, parent)
    }
    l.stageSpans.filter(st => ops(st._1)).foreach { case (op, job, s, e) =>
      spans += Span(spans.size, op, "stage", s, e, jobSpan.getOrElse(job, -1))
    }
  }

  /** Self time per layer name, summed over spans: a span's duration
    * minus the part of it its children cover.
    */
  def selfUs(): Map[String, Long] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var curA = -1L
        var curB = -1L
        kids.foreach { case (a, b) =>
          if (a > curB) { covered += curB - curA; curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        covered += curB - curA
        (s.endUs - s.startUs) - covered
      }.sum
    }
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach(s => w.println(
      s"""{"id":${s.id},"op":${s.op},"name":"${s.name}","start_us":${s.startUs},""" +
        s""""end_us":${s.endUs},"parent":${s.parent}}"""))
    finally w.close()
  }
}

/** Per-op scheduler counters, from listener events only. Jobs are tied
  * to an op through the `perfbench.op` local property.
  */
final class OpListener extends SparkListener {
  final class Counters {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, waitMs = 0L
    var inBytes, inRecords, shuffleRead, shuffleWrite, spill = 0L
    var lastJobEndMs = 0L
  }

  val byOp = mutable.Map.empty[Int, Counters]
  private val jobOp = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageOp = mutable.Map.empty[Int, (Int, Int)]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  val jobSpans = ArrayBuffer.empty[(Int, Int, Long, Long)]
  val stageSpans = ArrayBuffer.empty[(Int, Int, Long, Long)]

  private def c(op: Int) = byOp.getOrElseUpdate(op, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(OpListener.Prop))).foreach { p =>
      val op = p.toInt
      jobOp(e.jobId) = op
      jobStart(e.jobId) = e.time
      c(op).jobs += 1
      e.stageIds.foreach(s => stageOp(s) = (op, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.get(e.jobId).foreach { op =>
      c(op).lastJobEndMs = math.max(c(op).lastJobEndMs, e.time)
      jobSpans += ((op, e.jobId, jobStart(e.jobId) * 1000L, e.time * 1000L))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageOp.get(e.stageInfo.stageId).foreach { case (op, _) =>
      c(op).stages += 1
      stageSubmit(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageOp.get(id).foreach { case (op, job) =>
      val s = stageSubmit.getOrElse(id, 0L)
      val end = e.stageInfo.completionTime.getOrElse(s)
      stageSpans += ((op, job, s * 1000L, end * 1000L))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { case (op, _) =>
      val k = c(op)
      k.tasks += 1
      k.waitMs += math.max(0L, e.taskInfo.launchTime - stageSubmit.getOrElse(e.stageId, e.taskInfo.launchTime))
      Option(e.taskMetrics).foreach { m =>
        k.runMs += m.executorRunTime
        k.cpuNs += m.executorCpuTime
        k.gcMs += m.jvmGCTime
        k.inBytes += m.inputMetrics.bytesRead
        k.inRecords += m.inputMetrics.recordsRead
        k.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        k.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

object OpListener {
  val Prop = "perfbench.op"
}
