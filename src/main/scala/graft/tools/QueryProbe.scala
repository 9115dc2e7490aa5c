package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.spark.Tables

/** Same-JVM alternating A/B probe for DECLARED-QUERY optimization
  * candidates (round-6 discipline: host throughput swings up to ~2.5x on
  * 10-30 min episodes, so candidate vs incumbent must alternate inside
  * one JVM so window noise hits both arms equally; numbers quoted in
  * OPTIMIZATION_r06.md).
  *
  * Experiments (arg 1):
  *  - e2e_lev : dedup_e2e_clusters verify-edge sub-DAG, full
  *    `levenshtein(ka,kb) <= 6` vs bounded `levenshtein(ka,kb,6) >= 0`
  *    (Spark 3.5+ early-exit DP; identical predicate by the -1 contract).
  *  - jac_pack: dedup_jaccard, string-shingle array_intersect vs
  *    injectively packed int shingles (ascii*2^16+ascii*2^8+ascii —
  *    shingles are [a-z]{1,3} after cleanText, so packing is collision-
  *    free and sizes/intersections are provably identical).
  *
  * Usage: runMain graft.tools.QueryProbe <exp> [reps]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32).
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val exp = args.headOption.getOrElse("e2e_lev")
    val reps = if (args.length > 1) args(1).toInt else 4
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-query-probe")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", graft.spark.GraftExtensions.name)
      .config("spark.local.dir", "/dev/shm/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def timeNoop(label: String, df: => DataFrame): Double = {
      spark.sparkContext.setJobDescription(s"probe: $label")
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def ab(aLabel: String, a: => DataFrame, bLabel: String, b: => DataFrame)
        : Unit = {
      // one untimed warm rep per arm compiles codegen/JIT
      timeNoop(s"warm $aLabel", a); timeNoop(s"warm $bLabel", b)
      val as = collection.mutable.ArrayBuffer[Double]()
      val bs = collection.mutable.ArrayBuffer[Double]()
      for (_ <- 1 to reps) {
        as += timeNoop(aLabel, a)
        bs += timeNoop(bLabel, b)
      }
      System.err.println(f"[probe] $aLabel%-28s min=${as.min}%7.3f " +
        s"reps=${as.map(t => f"$t%.3f").mkString(",")}")
      System.err.println(f"[probe] $bLabel%-28s min=${bs.min}%7.3f " +
        s"reps=${bs.map(t => f"$t%.3f").mkString(",")}")
    }

    exp match {
      case "e2e_lev" =>
        val pairs = graft.SparkEntry.queries("dedup_lsh_pairs")(spark, sfDir)
        val t = Tables.documents(spark, sfDir)
          .select(col("doc_id"),
            substring(graft.functions.TextFns.cleanText(col("text")), 1, 64)
              .as("k"))
        def edges(bounded: Boolean) = {
          val j = pairs
            .join(t.select(col("doc_id").as("a_id"), col("k").as("ka")),
              Seq("a_id"))
            .join(t.select(col("doc_id").as("b_id"), col("k").as("kb")),
              Seq("b_id"))
          val f =
            if (bounded) levenshtein(col("ka"), col("kb"), 6) >= 0
            else levenshtein(col("ka"), col("kb")) <= 6
          j.filter(f).select(col("a_id").as("src"), col("b_id").as("dst"))
        }
        ab("edges full-lev", edges(false), "edges bounded-lev", edges(true))

      case "jac_pack" =>
        import graft.functions.{TextFns => T}
        val base = Tables.documents(spark, sfDir).select(col("doc_id"),
          col("source"), substring(T.cleanText(col("text")), 1, 32).as("k32"))
        val par = spark.sparkContext.defaultParallelism
        def strForm = {
          val t = base.select(col("doc_id"), col("source"),
            array_distinct(T.charShingles(col("k32"), 3)).as("sh"))
          t.as("a").repartition(par).join(t.as("b"),
              col("a.source") === col("b.source") &&
                col("a.doc_id") < col("b.doc_id"))
            .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
              size(array_intersect(col("a.sh"), col("b.sh"))).as("i"),
              size(col("a.sh")).as("na"), size(col("b.sh")).as("nb"))
            .select(col("a_id"), col("b_id"),
              round(col("i").cast("double") /
                (col("na") + col("nb") - col("i")).cast("double"), 6)
                .as("jaccard"))
        }
        def packForm = {
          val packed = transform(T.charShingles(col("k32"), 3), s =>
            ascii(s) * 65536 +
              ascii(substring(s, 2, 1)) * 256 +
              ascii(substring(s, 3, 1)))
          val t = base.select(col("doc_id"), col("source"),
            array_distinct(packed).as("sh"))
          t.as("a").repartition(par).join(t.as("b"),
              col("a.source") === col("b.source") &&
                col("a.doc_id") < col("b.doc_id"))
            .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
              size(array_intersect(col("a.sh"), col("b.sh"))).as("i"),
              size(col("a.sh")).as("na"), size(col("b.sh")).as("nb"))
            .select(col("a_id"), col("b_id"),
              round(col("i").cast("double") /
                (col("na") + col("nb") - col("i")).cast("double"), 6)
                .as("jaccard"))
        }
        ab("jaccard str-shingles", strForm, "jaccard packed-int", packForm)

      case "jac_merge" =>
        // dedup_jaccard per-pair kernel: packed-int array_intersect
        // (incumbent — hash-set build per pair) vs pre-sorted arrays +
        // the native sorted_intersect_count merge scan (allocation-free
        // codegen). Set size is order-independent and the arrays are
        // distinct, so every (i, na, nb) triple — hence every jaccard —
        // is identical.
        import graft.functions.{TextFns => T}
        val base = Tables.documents(spark, sfDir).select(col("doc_id"),
          col("source"), substring(T.cleanText(col("text")), 1, 32).as("k32"))
        val par = spark.sparkContext.defaultParallelism
        val packed = transform(T.charShingles(col("k32"), 3), s =>
          ascii(s) * 65536 +
            ascii(substring(s, 2, 1)) * 256 +
            ascii(substring(s, 3, 1)))
        def form(sorted: Boolean) = {
          val sh =
            if (sorted) sort_array(array_distinct(packed))
            else array_distinct(packed)
          val t = base.select(col("doc_id"), col("source"), sh.as("sh"))
          val iCol =
            if (sorted)
              T.sortedIntersectCount(col("a.sh"), col("b.sh"))
            else size(array_intersect(col("a.sh"), col("b.sh")))
          t.as("a").repartition(par).join(t.as("b"),
              col("a.source") === col("b.source") &&
                col("a.doc_id") < col("b.doc_id"))
            .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
              iCol.as("i"),
              size(col("a.sh")).as("na"), size(col("b.sh")).as("nb"))
            .select(col("a_id"), col("b_id"),
              round(col("i").cast("double") /
                (col("na") + col("nb") - col("i")).cast("double"), 6)
                .as("jaccard"))
        }
        ab("jaccard packed-intersect", form(false),
          "jaccard sorted-merge", form(true))

      case "emb_build" =>
        // EmbDedup verify-join build side: embs built on BOTH joins
        // (pre-round-6 shape) vs pair side built on join 1 + embs only
        // on join 2 (the DedupPipeline.verifyPairs discipline). Both
        // arms share the identical metric-free candidate plan; inner
        // equi-joins, so the result set is identical by construction.
        import graft.operators.EmbDedup
        val cfg = graft.Queries.embCfg
        val corpus = graft.Queries.embTwinCorpus(spark, sfDir)
        def verifySub(buildPairSide: Boolean) = {
          val rows = corpus.select(col("vec_id").as("id"),
            transform(col("emb"), _.cast("double")).as("emb"))
          val keyed = EmbDedup.bandKeys(corpus, "vec_id", "emb", cfg)
          val cand = EmbDedup.pairsFromKeys(keyed, cfg)
          val jo =
            if (buildPairSide)
              cand.hint("SHUFFLE_HASH")
                .join(rows.select(col("id").as("a"), col("emb").as("aemb")),
                  Seq("a"))
                .join(rows.select(col("id").as("b"), col("emb").as("bemb"))
                  .hint("SHUFFLE_HASH"), Seq("b"))
            else {
              val embs = rows.hint("SHUFFLE_HASH")
              cand
                .join(embs.select(col("id").as("a"), col("emb").as("aemb")),
                  Seq("a"))
                .join(embs.select(col("id").as("b"), col("emb").as("bemb")),
                  Seq("b"))
            }
          jo.select(col("a"), col("b"),
              graft.functions.TextFns.cosineSim(col("aemb"),
                col("bemb")).as("cos"))
            .filter(col("cos") >= cfg.cosThreshold)
        }
        ab("emb verify build-embs-x2", verifySub(false),
          "emb verify build-pairs+embs", verifySub(true))

      case other =>
        System.err.println(s"unknown experiment: $other")
    }
    spark.stop()
  }
}
