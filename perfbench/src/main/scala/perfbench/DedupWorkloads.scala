package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Kernels
import graft.kernel.Alphabet
import graft.operators.{ClipDedup, ConnectedComponents, DedupConfig, DedupPipeline}
import graft.sources.ClipGen
import graft.spark.Checkpoints

/** Shared pieces of the two dedup workloads. */
object DedupLayers {
  val cfg: DedupConfig = DedupConfig()
  def kernels: Kernels = new Kernels(Alphabet.test)

  /** Determinism guard: every pass of one seed must reproduce the first
    * pass's cluster count, recall and assignment digest exactly.
    */
  final class Guard {
    private var first: Option[(Long, Double, String)] = None
    def apply(c: DedupCheck): Seq[String] = first match {
      case None => first = Some(c.guard); Nil
      case Some(g) if g == c.guard => Nil
      case Some(g) => Seq(s"determinism guard: ${c.guard} differs from $g")
    }
  }

  /** Counts taken outside the timed composition, each in its own job
    * group: exact groups, dropped hot buckets, candidate pairs, and the
    * `pair_accept` verify path timed alone over the materialized
    * candidates. `rows(id, nh)`, `base` as built by `sketchBase`.
    */
  def counts(ctx: Ctx, rows: DataFrame, base: DataFrame,
      candidates: DataFrame): Long = {
    val cfg = this.cfg
    ctx.layer("dedup.exact_groups", ctx.span("count.exact_groups") {
      DedupPipeline.exactStarEdges(rows).select("src").distinct().count()
    }, "count")
    ctx.layer("dedup.dropped_buckets", ctx.span("count.dropped_buckets") {
      DedupPipeline.candidateKeys(base, cfg).groupBy("k")
        .agg(count(lit(1)).as("n")).filter(col("n") > cfg.bucketCap).count()
    }, "count")
    val cand = ctx.span("count.candidate_pairs")(Checkpoints.cut(candidates))
    val nCand = cand.df.count()
    ctx.layer("dedup.candidate_pairs", nCand, "count")
    val (accepted, dt) = ctx.time(ctx.span("functions.pair_accept") {
      DedupPipeline.verifyPairs(cand.df, base, cfg, kernels).count()
    })
    cand.release()
    ctx.layer("functions.pair_accept_pairs", nCand, "count")
    ctx.layer("functions.pair_accept_pairs_per_s", nCand / dt, "1/s")
    ctx.layer("functions.accept_ratio",
      if (nCand == 0) 0.0 else accepted.toDouble / nCand, "ratio")
    nCand
  }

  def finishCounts(ctx: Ctx, verifiedEdges: Long, c: DedupCheck): Unit = {
    ctx.layer("dedup.verified_edges", verifiedEdges, "count")
    ctx.layer("dedup.clusters", c.clusters, "count")
    ctx.layer("dedup.pairs_per_clip", verifiedEdges.toDouble / ctx.items, "ratio")
    ctx.layer("cc.edges_in", verifiedEdges, "count")
  }
}

/** `DedupPipeline.run` on a sparse transcript corpus: almost every text
  * is distinct, so the sketch and candidates+verify phases do the work.
  */
final class DedupSparse(clusters: Int) {
  import DedupLayers._

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    ctx.notRun ++= Seq("job.", "matcher.", "kernel.")
    var input: DataFrame = null
    val genTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    ctx.setup(5) {
      if (input != null) input.unpersist(blocking = true)
      val (df, dt) = ctx.time(ctx.span("sources.gen") {
        val df = ClipGen.transcriptTable(spark, ctx.seed, clusters)
          .select(xxhash64(col("clip_id")).as("id"), col("transcript"),
            col("cluster_id").as("truth"))
          .cache()
        ctx.items = df.count()
        df
      })
      genTimes += dt
      input = df
    }
    ctx.layer("sources.gen_s", Stats.median(genTimes.toSeq), "s")
    val truth = Checks.collectPairs(input, "id", "truth").toMap

    def runPipeline(metrics: Boolean) = DedupPipeline.run(spark, input, "id",
      "transcript", cfg, collectMetrics = metrics)

    // untimed passes at the measured size (JIT, AQE plan shapes)
    ctx.warmUp(maxPasses = 4, maxSeconds = 14) {
      val before = ctx.persistentIds
      runPipeline(metrics = false)
      ctx.releaseSince(before)
    }

    val guard = new Guard
    var last: DedupCheck = null
    var leaked = -1
    ctx.timedLoop {
      val before = ctx.persistentIds
      (runPipeline(metrics = false)._1, before)
    } { case (assign, before) =>
      val c = Checks.dedup(Checks.collectPairs(assign, "id", "cluster"), truth)
      val n = ctx.releaseSince(before)
      if (leaked < 0) leaked = n
      last = c
      c.errors ++ guard(c)
    }
    ctx.layer("spark.leaked_rdds", math.max(leaked, 0), "count")
    if (last != null) { ctx.recall = last.recall; ctx.precision = last.precision }

    if (ctx.trace) traced(ctx, input, truth, guard)
  }

  /** One traced pass that rebuilds `run()`'s phases from the public
    * builders with the same `Checkpoints.cut` boundaries, then checks it
    * against a replay of `DedupPipeline.run` on the same input.
    */
  private def traced(ctx: Ctx, input: DataFrame, truth: Map[Long, Long],
      guard: Guard): Unit = {
    val spark = ctx.spark
    val K = kernels
    val phases = Seq("normalize", "sketch", "cand_verify", "cc", "finalize")
      .map(p => s"dedup.$p")
    ctx.listener.reset()
    val before = ctx.persistentIds
    val t0 = System.currentTimeMillis()
    val (state, dt) = ctx.time(ctx.span("pass") {
      val (rowsCut, nRows) = ctx.span("dedup.normalize") {
        val c = Checkpoints.cut(input.select(col("id").cast("long").as("id"),
            col("transcript").cast("string").as("text"))
          .withColumn("norm", K.normKey(col("text")))
          .withColumn("nh", xxhash64(col("norm")))
          .withColumn("lc", K.caseClass(col("text")))
          .drop("text"))
        (c, c.df.count())
      }
      val rows = rowsCut.df
      val baseCut = ctx.span("dedup.sketch") {
        Checkpoints.cut(DedupPipeline.sketchBase(rows, cfg, K))
      }
      val base = baseCut.df
      val dp = spark.sparkContext.defaultParallelism
      val b = DedupPipeline.verifyBuildRows
      val verifyParts = (dp * math.max(1L, (nRows + b * dp - 1) / (b * dp))).toInt
      val candidates = DedupPipeline.candidatePairs(base, cfg)
        .repartition(verifyParts, col("a")).dropDuplicates("a", "b")
      val edgesCut = ctx.span("dedup.cand_verify") {
        Checkpoints.cut(DedupPipeline.verifyPairs(candidates, base, cfg, K,
            numParts = Some(verifyParts))
          .union(DedupPipeline.exactStarEdges(rows)))
      }
      val cc = ctx.span("dedup.cc") {
        ConnectedComponents.runCut(spark, edgesCut.df, withAllNodes = false,
          edgesMaterialized = true)
      }
      val assign = ctx.span("dedup.finalize") {
        Checkpoints.cut(rows.select(col("id"))
          .join(cc.df.withColumnRenamed("node", "id").hint("SHUFFLE_HASH"),
            Seq("id"), "left")
          .select(col("id"), coalesce(col("component"), col("id")).as("cluster"))).df
      }
      (rowsCut, baseCut, edgesCut, cc, candidates, assign)
    })
    val t1 = System.currentTimeMillis()
    val (rowsCut, baseCut, edgesCut, cc, candidates, assign) = state
    ctx.tracedPassSeconds = dt
    ctx.attempted += 1
    phases.foreach(p => ctx.groupLayer(p, p, ctx.tracer.last(p)))
    ctx.sparkLayer(phases :+ "pass", t0, t1)
    ctx.layer("cc.jobs", ctx.listener.groups.get("dedup.cc").map(_.jobs)
      .getOrElse(0).toDouble, "count")

    val c = Checks.dedup(Checks.collectPairs(assign, "id", "cluster"), truth)
    val verifiedEdges = edgesCut.df.count()
    val nCand = counts(ctx, rowsCut.df, baseCut.df, candidates)
    finishCounts(ctx, verifiedEdges, c)
    Seq(rowsCut, baseCut, edgesCut, cc).foreach(_.release())
    ctx.releaseSince(before)

    // replay equality: the traced composition must reproduce run()
    val (ra, rm) = ctx.span("dedup.replay")(DedupPipeline.run(spark, input,
      "id", "transcript", cfg, collectMetrics = true))
    val rc = Checks.dedup(Checks.collectPairs(ra, "id", "cluster"), truth)
    ctx.releaseSince(before)
    val traced = (c.clusters, verifiedEdges, nCand,
      ctx.layers("dedup.dropped_buckets")._1.toLong, c.recall)
    val replay = (rm.nClusters, rm.nVerifiedEdges, rm.nCandidatePairs,
      rm.nDroppedBuckets, rc.recall)
    val errs = c.errors ++ guard(c) ++
      (if (traced != replay)
        Seq(s"replay equality: traced $traced != DedupPipeline.run $replay")
      else Nil)
    errs.foreach(e => ctx.error(s"traced pass: $e"))
    if (errs.nonEmpty) ctx.failed += 1
  }
}

/** The production entry `ClipDedup.run` into a fresh work directory, then
  * a resume pass over the same directory, on a dense corpus: large
  * clusters and every clip present twice as an exact copy.
  */
final class DedupDenseJob(clusters: Int, maxDups: Int = 15) {
  import DedupLayers._

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    ctx.notRun ++= Seq("dedup.normalize.", "dedup.sketch.", "dedup.cand_verify.",
      "dedup.cc.", "dedup.finalize.", "matcher.", "kernel.")
    var input: DataFrame = null
    val genTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    ctx.setup(5) {
      if (input != null) input.unpersist(blocking = true)
      val (df, dt) = ctx.time(ctx.span("sources.gen") {
        val one = ClipGen.transcriptTable(spark, ctx.seed, clusters,
            maxDups = maxDups)
          .select(col("clip_id"), col("transcript"), col("cluster_id").as("truth"))
        val df = one.union(one.withColumn("clip_id", concat(col("clip_id"), lit("x"))))
          .cache()
        ctx.items = df.count()
        df
      })
      genTimes += dt
      input = df
    }
    ctx.layer("sources.gen_s", Stats.median(genTimes.toSeq), "s")
    val truth = Checks.collectPairs(
      input.select(xxhash64(col("clip_id")).as("id"), col("truth")), "id", "truth").toMap

    var passNo = 0
    /** Fresh job then resume; spans only on the traced pass. */
    def jobPass(traced: Boolean) = {
      passNo += 1
      val dir = s"${ctx.workDir}/job-$passNo"
      def call(name: String) = {
        def f = ClipDedup.run(spark, input, dir)
        if (traced) ctx.span(name)(f) else f
      }
      val fresh = call("job.run")
      (dir, fresh, call("job.resume"))
    }
    def check(fresh: (DataFrame, Seq[ClipDedup.StageResult]),
        resumed: (DataFrame, Seq[ClipDedup.StageResult])): (DedupCheck, Seq[String]) = {
      def pairs(df: DataFrame) = Checks.collectPairs(
        df.withColumn("id", xxhash64(col("clip_id"))), "id", "cluster_id")
      val c = Checks.dedup(pairs(fresh._1), truth)
      val notResumed = resumed._2.filterNot(_.resumed).map(_.name)
      val resumeErr =
        (if (notResumed.nonEmpty) Seq(s"resume recomputed ${notResumed.mkString(",")}")
        else Nil) ++
        (if (Digest.ofPairs(pairs(resumed._1)) != c.digest)
          Seq("resumed clusters differ from the fresh run") else Nil)
      (c, c.errors ++ resumeErr)
    }
    def drop(dir: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }

    // one fresh job compiles every stage's plans; the resume only reads
    ctx.warmUp(maxPasses = 1, maxSeconds = 0) {
      val before = ctx.persistentIds
      val dir = s"${ctx.workDir}/warm-up"
      ClipDedup.run(spark, input, dir)
      drop(dir)
      ctx.releaseSince(before)
    }

    val guard = new Guard
    var last: DedupCheck = null
    var leaked = -1
    ctx.timedLoop {
      val before = ctx.persistentIds
      (jobPass(traced = false), before)
    } { case ((dir, fresh, resumed), before) =>
      val (c, errs) = check(fresh, resumed)
      drop(dir)
      val n = ctx.releaseSince(before)
      if (leaked < 0) leaked = n
      last = c
      errs ++ guard(c)
    }
    ctx.layer("spark.leaked_rdds", math.max(leaked, 0), "count")
    if (last != null) { ctx.recall = last.recall; ctx.precision = last.precision }

    if (ctx.trace) {
      ctx.listener.reset()
      val before = ctx.persistentIds
      val t0 = System.currentTimeMillis()
      val ((dir, fresh, resumed), dt) = ctx.time(ctx.span("pass")(jobPass(traced = true)))
      val t1 = System.currentTimeMillis()
      ctx.tracedPassSeconds = dt
      ctx.attempted += 1
      ctx.sparkLayer(Seq("pass", "job.run", "job.resume"), t0, t1)
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fresh._2.foreach { s =>
        ctx.layer(s"job.${s.name}.s", s.seconds, "s")
        ctx.layer(s"job.${s.name}.rows", s.rows, "count")
        ctx.layer(s"job.${s.name}.disk_mb",
          fs.getContentSummary(new org.apache.hadoop.fs.Path(s"$dir/${s.name}"))
            .getLength / 1e6, "MB")
      }
      resumed._2.foreach(s => ctx.layer(s"job.resume.${s.name}.s", s.seconds, "s"))
      ctx.layer("job.resume.s", ctx.tracer.last("job.resume"), "s")
      val (c, errs) = check(fresh, resumed)

      // the layers inside the job, measured from outside on its stage tables
      val store = new graft.operators.ParquetStageStore(spark, dir)
      val norms = store.read("norms")
      val sketches = store.read("sketches")
      counts(ctx, norms, sketches, store.read("candidates"))
      val edges = store.read("edges")
      val nEdges = edges.count()
      finishCounts(ctx, nEdges, c)
      ctx.span("cc") {
        val cut = ConnectedComponents.runCut(spark, edges, withAllNodes = false,
          edgesMaterialized = true)
        cut.df.count()
        cut.release()
      }
      org.apache.spark.ListenerDrain(spark.sparkContext)
      ctx.layer("cc.jobs", ctx.listener.groups.get("cc").map(_.jobs)
        .getOrElse(0).toDouble, "count")
      drop(dir)
      ctx.releaseSince(before)
      val all = errs ++ guard(c)
      all.foreach(e => ctx.error(s"traced pass: $e"))
      if (all.nonEmpty) ctx.failed += 1
    }
  }
}
