package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced layer call: name, wall interval (epoch ns), the span that
  * caused it (-1 for a root) and the run it belongs to.
  */
final case class Span(id: Int, name: String, parent: Int, startNs: Long,
    endNs: Long, run: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one job group (= one span name). */
final class GroupStats {
  var jobs = 0
  var tasks = 0
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecBytes = 0L
  val taskSeconds = mutable.ArrayBuffer.empty[Double]
}

/** Attributes stage metrics to the job group that was current on the
  * submitting thread. Spark copies the group into every job's properties
  * (broadcast and AQE stage threads inherit it), so each span's work is
  * measured without touching the code under test.
  */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  val groups = mutable.Map.empty[String, GroupStats]
  /** (start ms, end ms) of every finished job, for driver-idle time. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStart = mutable.Map.empty[Int, Long]

  private def stats(g: String) = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("(none)")
    stats(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stats(stageGroup.getOrElse(e.stageId, "(none)"))
      s.tasks += 1
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
      s.peakExecBytes = math.max(s.peakExecBytes, m.peakExecutionMemory)
      s.taskSeconds += m.executorRunTime / 1e3
    }
  }

  def reset(): Unit = synchronized {
    stageGroup.clear(); groups.clear(); jobIntervals.clear(); jobStart.clear()
  }

  /** Seconds of [t0, t1] (epoch ms) that no Spark job covered. */
  def idleSeconds(t0: Long, t1: Long): Double = synchronized {
    val iv = jobIntervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    (t1 - t0 - covered) / 1e3
  }
}

/** In-memory span recorder. Each span sets the Spark job group to its own
  * name while it is open, so [[GroupListener]] attributes the stage
  * metrics of the layer call to it; spans are written out at exit.
  */
final class Tracer(sc: SparkContext, val run: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def begin(name: String): Int = {
    val id = nextId
    nextId += 1
    spans += Span(id, name, stack.headOption.getOrElse(-1), System.nanoTime(),
      -1L, run)
    stack = id :: stack
    sc.setJobGroup(name, name, interruptOnCancel = false)
    id
  }

  def end(id: Int): Unit = {
    spans(id) = spans(id).copy(endNs = System.nanoTime())
    stack = stack.filterNot(_ == id)
    stack.headOption match {
      case Some(p) => sc.setJobGroup(spans(p).name, spans(p).name,
        interruptOnCancel = false)
      case None => sc.clearJobGroup()
    }
  }

  def span[T](name: String)(f: => T): T = {
    val id = begin(name)
    try f finally end(id)
  }

  /** Duration of the latest span called `name` (0 if none). */
  def last(name: String): Double =
    spans.reverseIterator.find(_.name == name).map(_.seconds).getOrElse(0.0)

  /** One JSON object per line; times are nanoseconds from the first span. */
  def write(path: String): Unit = {
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start_ns" -> (s.startNs - t0),
        "end_ns" -> (s.endNs - t0), "run" -> s.run)))
    } finally w.close()
  }
}
