package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** In-memory span recorder for the traced run. Spans are opened only on the
  * driver thread, around calls into one layer's public functions; each has
  * a name, start, end, parent and the op it belongs to. Nothing is written
  * until the run ends ([[Trace.dump]]).
  */
object Trace {
  final case class Span(id: Int, name: String, parent: Int, op: Int,
                        startNs: Long, cpuStartNs: Long, epochStartMs: Long) {
    var endNs: Long = -1L
    var cpuEndNs: Long = -1L
    var epochEndMs: Long = -1L
    def durNs: Long = endNs - startNs
    /** Process CPU burned while the span was open (all threads). */
    def cpuNs: Long = cpuEndNs - cpuStartNs
  }

  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var curOp = -1

  /** Root span of one op: every other span opened inside hangs under it. */
  def op[T](id: Int, name: String)(f: => T): T = {
    curOp = id
    try span(name)(f) finally curOp = -1
  }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), curOp,
        System.nanoTime(), Env.cpuNs(), System.currentTimeMillis())
      spans += s
      stack = s :: stack
      try f finally {
        s.endNs = System.nanoTime()
        s.cpuEndNs = Env.cpuNs()
        s.epochEndMs = System.currentTimeMillis()
        stack = stack.tail
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Self time: the span's duration minus the union of its children's
    * intervals (children are sequential on the driver thread, but the
    * union keeps the definition exact if they ever overlap). */
  def selfNs(all: Seq[Span]): Map[Int, Long] = {
    val kids = all.filter(_.parent >= 0).groupBy(_.parent)
    all.map { s =>
      val covered = unionNs(kids.getOrElse(s.id, Nil)
        .map(k => (k.startNs, k.endNs)))
      s.id -> (s.durNs - covered)
    }.toMap
  }

  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Write every span as one JSON line: name, start, end, parent, op id,
    * and self time (ns, relative to the first span). */
  def dump(path: java.io.File): Unit = {
    val all = spans.toSeq
    if (all.isEmpty) return
    val base = all.map(_.startNs).min
    val self = selfNs(all)
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      w.println(Json.obj(Seq(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ns" -> (s.startNs - base), "end_ns" -> (s.endNs - base),
        "self_ns" -> self(s.id), "cpu_ns" -> s.cpuNs)))
    } finally w.close()
  }
}

/** Spark counters per op. Every job started while the driver thread carries
  * the `perfbench.op` local property is charged to that op, and so is every
  * task of that job's stages. Read it only after `SparkContext.stop()`,
  * which drains the listener bus. */
final class OpListener extends SparkListener {
  final class OpStats {
    var jobs = 0L
    var tasks = 0L
    var failedTasks = 0L
    var taskCpuNs = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
  }

  private val stageOp = mutable.HashMap.empty[Int, Int]
  private val jobOp = mutable.HashMap.empty[Int, (Int, Long)]
  private val ops = mutable.HashMap.empty[Int, OpStats]

  def stats(op: Int): OpStats = synchronized(ops.getOrElseUpdate(op, new OpStats))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p =>
      Option(p.getProperty(OpListener.Key))).map(_.toInt)
    op.foreach { o =>
      jobOp(e.jobId) = (o, e.time)
      e.stageIds.foreach(s => stageOp(s) = o)
      stats(o).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { case (o, start) =>
      stats(o).jobIntervals += ((start, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { o =>
      val st = stats(o)
      st.tasks += 1
      if (!e.taskInfo.successful) st.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        st.taskCpuNs += m.executorCpuTime
        st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        st.spillBytes += m.diskBytesSpilled
      }
    }
  }
}

object OpListener {
  val Key = "perfbench.op"
}
