package perfbench

import java.lang.management.ManagementFactory

import graft.spark.Sessions

/** Runs one workload in this JVM and writes its raw samples as JSON.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --out <result.json> --spans <spans.jsonl>
  *   --work <dir>
  */
object Main {
  /** Workload sizes; see BENCHMARK.json for why each was chosen. */
  def workloads: Map[String, Ctx => Unit] = Map(
    "dedup_sparse" -> (new DedupSparse(clusters = 10000).run(_)),
    "dedup_dense_job" -> (new DedupDenseJob(clusters = 2000).run(_)),
    "matcher_lookup" -> (new MatcherLookup(lexSize = 60000, nQueries = 10000).run(_))
  )

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    val name = need("workload")
    val body = workloads.getOrElse(name, sys.error(
      s"unknown workload '$name' (known: ${workloads.keys.toSeq.sorted.mkString(", ")})"))
    val cpus = 4 // local[4]: the workloads were sized for a 4-core host
    val spark = Sessions.local(cpus, s"perfbench-$name")
    val ctx = new Ctx(spark, need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), cpus)
    try body(ctx)
    catch {
      case e: Exception =>
        e.printStackTrace()
        ctx.error(s"run aborted: ${e.getClass.getSimpleName}: ${e.getMessage}")
        ctx.failed += 1
        ctx.attempted = math.max(ctx.attempted, 1)
    }
    ctx.log("workload done")
    val uptime = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    ctx.layer("setup.process_s", uptime, "s")
    val w = new java.io.PrintWriter(need("out"), "UTF-8")
    try w.println(ctx.toJson(name)) finally w.close()
    if (ctx.trace) ctx.tracer.write(need("spans"))
    spark.stop()
  }
}
