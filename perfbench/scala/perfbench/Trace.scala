package perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed layer call. Spans of one run share `run`; `parent` is the id of
  * the span that was open when this one started (0 at the top). */
final case class Span(id: Int, parent: Int, run: String, name: String, layer: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Task metrics summed over every job started under one job group. */
final class TaskTotals {
  var cpuNs, gcMs, shuffleReadBytes, shuffleWriteBytes, spillBytes, recordsRead, jobs = 0L
  def shuffleMb: Double = (shuffleReadBytes + shuffleWriteBytes) / 1048576.0
}

/** Sums task metrics per Spark job group. Each span runs its jobs under its
  * own group, so a span's totals are the totals of its group. */
final class GroupListener extends SparkListener {
  private val stageGroup = TrieMap[Int, String]()
  val totals: TrieMap[String, TaskTotals] = TrieMap()

  private def of(g: String): TaskTotals = totals.getOrElseUpdate(g, new TaskTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    val t = of(g)
    t.synchronized { t.jobs += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val t = of(stageGroup.getOrElse(e.stageId, ""))
      t.synchronized {
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        t.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }
}

/** In-memory span recorder. Off: `span` only runs the body. On: every span
  * gets its own job group (restored to the parent's on exit), and the spans
  * are kept until the run ends. */
final class Tracer(val on: Boolean, run: String) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()
  val listener = new GroupListener
  private var nextId = 1
  private var stack: List[Int] = Nil
  private var sc: SparkContext = _

  /** Attach to a (new) session's context; a no-op when tracing is off. */
  def attach(context: SparkContext): Unit = if (on) {
    sc = context
    sc.addSparkListener(listener)
  }

  def span[A](name: String, layer: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      sc.setJobGroup(s"span-$id", name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"span-$p", name)
          case None => sc.clearJobGroup()
        }
        spans += Span(id, parent, run, name, layer, t0, t1)
      }
    }

  /** Wait until every listener event posted so far has been handled. */
  def drain(): Unit = if (on) org.apache.spark.PerfbenchBus.drain(sc)

  def totals(s: Span): TaskTotals =
    listener.totals.getOrElse(s"span-${s.id}", new TaskTotals)

  /** Span duration minus the time its direct children cover. Children run on
    * the parent's thread one after another, so they never overlap. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  def byLayer(layer: String): Seq[Span] = spans.filter(_.layer == layer).toSeq
}
