package perfbench

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.kernel.{Alphabet, LocalVariantModel, SearchParameters}
import graft.operators.VariantMatcher
import graft.sources.SyntheticText

/** `VariantMatcher.broadcastMatcher` over a seeded random lexicon, queried
  * with lexicon entries at 1-2 edits (the shape `MatcherSparkBench` uses).
  * Building and broadcasting the index is set-up; a pass matches every
  * query. No shuffle: this is the `graft.kernel` index, DL and ranking.
  */
final class MatcherLookup(lexSize: Int, nQueries: Int) {
  val params = SearchParameters()

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    ctx.notRun ++= Seq("dedup.", "functions.", "cc.", "job.")
    ctx.items = nQueries
    var state: (Seq[(String, String)], LocalVariantModel,
      VariantMatcher.BroadcastMatcher, DataFrame) = null
    val genTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val buildTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    ctx.setup(3) {
      if (state != null) state._4.unpersist(blocking = true)
      val ((lexicon, queries), g) = ctx.time(ctx.span("sources.gen") {
        val rng = new Random(ctx.seed)
        val lex = (0 until lexSize).map { _ =>
          val len = 4 + rng.nextInt(9)
          String.valueOf(Array.fill(len)(('a' + rng.nextInt(26)).toChar))
        }.distinct
        val qs = (0 until nQueries).map { i =>
          val src = lex(rng.nextInt(lex.size))
          (SyntheticText.corrupt(rng, src, 1 + (i % 2)), src)
        }
        (lex, qs)
      })
      genTimes += g
      val ((model, matcher), b) = ctx.time(ctx.span("matcher.index_build") {
        val m = VariantMatcher.buildModel(Alphabet.simpleLatin,
          lexicon.map(t => (t, None: Option[Long])))
        (m, VariantMatcher.broadcastMatcher(spark, m))
      })
      buildTimes += b
      // four tasks per core, so one heavy partition cannot set the wall time
      val qdf = queries.map(_._1).toDF("query")
        .repartition(math.max(4 * ctx.cpus, 4)).cache()
      qdf.count()
      state = (queries, model, matcher, qdf)
    }
    val (queries, model, matcher, qdf) = state
    ctx.layer("sources.gen_s", Stats.median(genTimes.toSeq), "s")
    ctx.layer("matcher.index_build_s", Stats.median(buildTimes.toSeq), "s")

    def matchAll(df: DataFrame) = matcher(df, params).toDF()
    ctx.warmUp(maxPasses = 4, maxSeconds = 8)(Digest.of(matchAll(qdf)))

    var first: Option[String] = None
    ctx.timedLoop(Digest.of(matchAll(qdf))) { d =>
      if (first.isEmpty) first = Some(d)
      if (first.contains(d)) Nil
      else Seq(s"determinism guard: digest $d differs from ${first.get}")
    }

    // quality, untimed: is the generating entry among the matches / first?
    val bySource = queries.toDF("query", "source").distinct()
    val hits = matchAll(qdf).join(bySource, Seq("query"))
      .groupBy("query")
      .agg(max(when(col("matchText") === col("source"), 1).otherwise(0)).as("hit"),
        max(when(col("rank") === 1 && col("matchText") === col("source"), 1)
          .otherwise(0)).as("top"))
    val q = bySource.select("query").distinct()
      .join(hits, Seq("query"), "left").na.fill(0)
      .agg(avg("hit"), avg("top")).head()
    ctx.recall = q.getDouble(0)
    ctx.precision = q.getDouble(1)

    // Spark results equal the local kernel's on a seeded sample
    val rng = new Random(ctx.seed ^ 0x5eed)
    val sample = Seq.fill(200)(queries(rng.nextInt(queries.size))._1).distinct
    val got = matcher(sample.toDF("query"), params).collect()
      .groupBy(_.query).map { case (k, v) =>
        k -> v.sortBy(_.rank).map(m => (m.matchText, m.score)).toSeq }
    val bad = sample.filterNot { s =>
      val want = model.findVariants(s, params).map(r =>
        (model.text(r.vocabId), r.score(params.freqWeight)))
      got.getOrElse(s, Seq.empty) == want
    }
    if (bad.nonEmpty) {
      ctx.error(s"${bad.size} of ${sample.size} sampled queries differ from " +
        s"LocalVariantModel.findVariants, e.g. '${bad.head}'")
      ctx.failed += 1
    }

    if (ctx.trace) {
      ctx.listener.reset()
      val before = ctx.persistentIds
      val t0 = System.currentTimeMillis()
      val (d, dt) = ctx.time(ctx.span("pass")(ctx.span("matcher.match")(Digest.of(matchAll(qdf)))))
      val t1 = System.currentTimeMillis()
      ctx.layer("spark.leaked_rdds", ctx.releaseSince(before), "count")
      ctx.tracedPassSeconds = dt
      ctx.attempted += 1
      if (!first.contains(d)) {
        ctx.error(s"traced pass: digest $d differs from ${first.getOrElse("-")}")
        ctx.failed += 1
      }
      ctx.sparkLayer(Seq("pass", "matcher.match"), t0, t1)
      val g = ctx.listener.groups.getOrElse("matcher.match", new GroupStats)
      ctx.layer("matcher.task_s_max", Stats.percentile(g.taskSeconds.toSeq, 100), "s")
      ctx.layer("matcher.task_s_p50", Stats.median(g.taskSeconds.toSeq), "s")
      ctx.layer("matcher.matches_per_query",
        d.takeWhile(_ != ':').toLong.toDouble / nQueries, "ratio")
      ctx.layer("matcher.model_mb",
        org.apache.spark.util.SizeEstimator.estimate(model) / 1e6, "MB")

      // the kernel alone, single-threaded on the driver
      val us = ctx.span("kernel.find_variants") {
        queries.take(2000).map { case (s, _) =>
          val t = System.nanoTime()
          model.findVariants(s, params)
          (System.nanoTime() - t) / 1e3
        }
      }
      ctx.layer("kernel.find_variants_us_p50", Stats.percentile(us, 50), "us")
      ctx.layer("kernel.find_variants_us_p99", Stats.percentile(us, 99), "us")
    }
  }
}
