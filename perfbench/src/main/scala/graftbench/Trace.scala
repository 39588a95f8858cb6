package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** Driver-side spans around the calls into graft's public entry points.
  *
  * Every span has a name, a start, an end and the id of the span that
  * caused it; they are kept in memory and written out once, when the run
  * ends. With tracing off `span` only runs its body, so the untraced run
  * pays nothing for it. */
final class Trace(val enabled: Boolean) {
  import Trace.Span

  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Spans as JSON lines, times in ms since `originNs`. */
  def write(path: java.nio.file.Path, originNs: Long): Unit = {
    val lines = done.sortBy(_.id).map { s =>
      Json.render(Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> (s.startNs - originNs) / 1e6,
        "dur_ms" -> (s.endNs - s.startNs) / 1e6))
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
}

/** Task, stage and job totals attributed to the operation that caused
  * them, never to a neighbour.
  *
  * Each operation phase runs with the local property [[OpListener.Prop]]
  * set to `"<op>#<phase>"`; a job carries the property it was submitted
  * under (stream threads inherit it from the thread that started the
  * query), every stage is owned by the first job that lists it, and
  * every task by its stage. [[quiesce]] waits until all jobs of an
  * operation have ended and every task that started in its stages has
  * reported its end, so a snapshot taken after it is complete. */
final class OpListener extends SparkListener {
  import OpListener.Acc

  private val byOp = mutable.Map.empty[String, Acc]
  private val stageOp = mutable.Map.empty[Int, String]
  private val openJobs = mutable.Map.empty[Int, String]
  // (stage, attempt) -> tasks started, tasks ended, stage completed
  private val attempts = mutable.Map.empty[(Int, Int), Array[Long]]

  private def acc(op: String): Acc = byOp.getOrElseUpdate(op, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpListener.Prop)))
    op.foreach { o =>
      openJobs(e.jobId) = o
      acc(o).jobs += 1
      e.stageIds.foreach(s => if (!stageOp.contains(s)) stageOp(s) = o)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    stageOp.get(si.stageId).foreach { o =>
      acc(o).stages += 1
      attempts.getOrElseUpdate((si.stageId, si.attemptNumber()), Array(0L, 0L, 0L))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    attempts.get((si.stageId, si.attemptNumber())).foreach(_(2) = 1L)
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    attempts.get((e.stageId, e.stageAttemptId)).foreach(a => a(0) += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    attempts.get((e.stageId, e.stageAttemptId)).foreach(a => a(1) += 1)
    for (o <- stageOp.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = acc(o)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.inputRows += m.inputMetrics.recordsRead
      a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      a.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakExecB = math.max(a.peakExecB, m.peakExecutionMemory)
    }
  }

  private def settled(ops: String => Boolean): Boolean = synchronized {
    !openJobs.valuesIterator.exists(ops) && attempts.forall { case ((s, _), a) =>
      !stageOp.get(s).exists(ops) || (a(2) == 1L && a(0) == a(1))
    }
  }

  /** Waits (bounded) until every job and task of the matching ops has
    * reported its end; false if the bound ran out. */
  def quiesce(ops: String => Boolean, timeoutMs: Long = 30000): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!settled(ops) && System.currentTimeMillis() < deadline) Thread.sleep(2)
    settled(ops)
  }

  /** Removes and returns the totals of every matching op, summed. */
  def take(ops: String => Boolean): Acc = synchronized {
    val out = new Acc
    byOp.keys.filter(ops).toList.foreach(k => out += byOp.remove(k).get)
    val gone = stageOp.collect { case (s, o) if ops(o) => s }.toSet
    attempts.keys.filter(k => gone(k._1)).toList.foreach(attempts.remove)
    out
  }
}

object OpListener {
  val Prop = "graftbench.op"

  final class Acc {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, inputRows, shuffleWriteB, shuffleReadB, spillB = 0L
    var peakExecB = 0L
    def +=(o: Acc): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs; inputRows += o.inputRows
      shuffleWriteB += o.shuffleWriteB; shuffleReadB += o.shuffleReadB; spillB += o.spillB
      peakExecB = math.max(peakExecB, o.peakExecB)
    }
  }
}
