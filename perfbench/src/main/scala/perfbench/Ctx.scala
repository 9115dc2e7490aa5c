package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.tools.DedupStageBench

/** State of one benchmark run: the timed-pass samples, per-layer metrics,
  * correctness errors and (when tracing) the span recorder.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val trace: Boolean, val workDir: String, val cpus: Int) {
  val sc = spark.sparkContext
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0
  val passTimes = mutable.ArrayBuffer.empty[Double]
  val setupTimes = mutable.ArrayBuffer.empty[Double]
  val probes = mutable.ArrayBuffer.empty[Double]
  var items = 0L
  var recall = 0.0
  var precision = 0.0
  var tracedPassSeconds = 0.0
  /** Per-layer metric name -> (value, unit). */
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Metric-name prefixes of layers this workload does not run (reported 0). */
  val notRun = mutable.ArrayBuffer.empty[String]

  val listener = new GroupListener
  val tracer = new Tracer(sc, s"seed$seed")
  if (trace) sc.addSparkListener(listener)

  def layer(name: String, value: Double, unit: String): Unit =
    layers(name) = (value, unit)

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.2fs $msg")

  def error(msg: String): Unit = {
    System.err.println(s"[perfbench] FAIL: $msg")
    errors += msg
  }

  /** A span around a layer call when tracing; a plain call otherwise. */
  def span[T](name: String)(f: => T): T =
    if (trace) tracer.span(name)(f) else f

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Run the set-up `reps` times (the last result is kept) and record each
    * wall time; the reported set-up time is their median.
    */
  def setup[T](reps: Int)(f: => T): T = {
    var out: Option[T] = None
    (1 to reps).foreach { _ =>
      val (r, dt) = time(f)
      setupTimes += dt
      out = Some(r)
    }
    log(s"set-up x$reps: ${setupTimes.map(t => f"$t%.2f").mkString(" ")}")
    out.get
  }

  /** One pass whose body throws or whose check reports errors counts as
    * failed. Returns the pass wall time (the check is not timed).
    */
  def pass[T](label: String)(body: => T)(check: T => Seq[String]): Option[Double] = {
    attempted += 1
    try {
      val (r, dt) = time(body)
      val errs = check(r)
      errs.foreach(e => error(s"$label: $e"))
      if (errs.nonEmpty) failed += 1
      Some(dt)
    } catch {
      case e: Exception =>
        error(s"$label threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        e.printStackTrace()
        failed += 1
        None
    }
  }

  /** Untimed passes until the JIT has settled: until a pass is within 10%
    * of the one before, or `maxPasses` have run, or `maxSeconds` elapsed.
    */
  def warmUp(maxPasses: Int, maxSeconds: Double)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    var prev = Double.MaxValue
    var i = 0
    var settled = false
    while (!settled) {
      val (_, dt) = time(body)
      i += 1
      log(f"warm-up pass $i $dt%.3fs")
      settled = (i >= 2 && math.abs(dt - prev) <= 0.1 * prev) || i >= maxPasses ||
        (System.nanoTime() - t0) / 1e9 >= maxSeconds
      prev = dt
    }
  }

  /** Closed loop, one client: passes back to back until `seconds` have
    * elapsed (at least two passes, so a median is never one sample),
    * bracketed by the host-window probe.
    */
  def timedLoop[T](body: => T)(check: T => Seq[String]): Unit = {
    probes += hostProbe()
    log("timed passes start")
    val t0 = System.nanoTime()
    var i = 0
    while (i < 2 || ((System.nanoTime() - t0) / 1e9 < seconds && i < 500)) {
      i += 1
      pass(s"pass $i")(body)(check).foreach { t =>
        passTimes += t
        log(f"pass $i $t%.3fs")
      }
    }
    probes += hostProbe()
  }

  /** Memory-bandwidth probe of the host window, at most one thread per
    * core. Informational only: it never gates a run.
    */
  def hostProbe(): Double = DedupStageBench.bandwidthCalib(
    math.min(cpus, Runtime.getRuntime.availableProcessors))

  /** Persistent RDDs created since `before`: counted, then freed so later
    * passes run in the same session state.
    */
  def releaseSince(before: Set[Int]): Int = {
    val fresh = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    fresh.values.foreach(_.unpersist(blocking = true))
    fresh.size
  }

  def persistentIds: Set[Int] = sc.getPersistentRDDs.keySet.toSet

  /** Spark-level metrics of a traced section [t0Ms, t1Ms] over the span
    * names it covered.
    */
  def sparkLayer(names: Seq[String], t0Ms: Long, t1Ms: Long): Unit = {
    org.apache.spark.ListenerDrain(sc)
    val gs = names.flatMap(listener.groups.get)
    layer("spark.jobs", gs.map(_.jobs).sum, "count")
    layer("spark.tasks", gs.map(_.tasks).sum, "count")
    layer("spark.driver_idle_s", listener.idleSeconds(t0Ms, t1Ms), "s")
    layer("spark.shuffle_write_mb", gs.map(_.shuffleWriteBytes).sum / 1e6, "MB")
    layer("spark.task_peak_exec_mb",
      (0L +: gs.map(_.peakExecBytes)).max / 1e6, "MB")
  }

  /** Stage metrics of one span's job group under `prefix`. */
  def groupLayer(prefix: String, group: String, seconds: Double): Unit = {
    org.apache.spark.ListenerDrain(sc)
    val g = listener.groups.getOrElse(group, new GroupStats)
    layer(s"$prefix.s", seconds, "s")
    layer(s"$prefix.shuffle_write_mb", g.shuffleWriteBytes / 1e6, "MB")
    layer(s"$prefix.spill_mb", g.spillBytes / 1e6, "MB")
    layer(s"$prefix.peak_exec_mb", g.peakExecBytes / 1e6, "MB")
    layer(s"$prefix.task_s_max", Stats.percentile(g.taskSeconds.toSeq, 100), "s")
    layer(s"$prefix.task_s_p50", Stats.median(g.taskSeconds.toSeq), "s")
  }

  def toJson(workload: String): String = Json.obj(Seq(
    "workload" -> workload,
    "seed" -> seed,
    "attempted" -> attempted,
    "failed" -> failed,
    "errors" -> errors.toSeq,
    "pass_s" -> passTimes.toSeq,
    "setup_s" -> setupTimes.toSeq,
    "items" -> items,
    "recall" -> recall,
    "precision" -> precision,
    "probe_s" -> probes.toSeq,
    "traced_pass_s" -> tracedPassSeconds,
    "not_run" -> notRun.toSeq,
    "per_layer" -> layers.toSeq.map { case (k, (v, u)) =>
      k -> Map("value" -> v, "unit" -> u)
    }.toMap
  ))
}
