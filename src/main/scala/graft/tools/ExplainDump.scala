package graft.tools

/** Physical-plan inspection for the operator queries: prints
  * explain("formatted") so scan pruning (ReadSchema/PushedFilters),
  * join strategies (Broadcast/ShuffleHash/SortMerge) and
  * WholeStageCodegen spans can be reviewed per query.
  *
  * Usage: runMain graft.tools.ExplainDump <sfDir> [queryName...]
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q1_agg", "q3_join_topk", "dedup_exact", "emb_ann_lsh",
        "dedup_substring")
    val spark = graft.spark.Sessions.local(4, "ExplainDump")
    spark.sparkContext.setLogLevel("ERROR")
    for (name <- names; fn <- graft.SparkEntry.queries.get(name)) {
      println(s"\n========== $name ==========")
      fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
