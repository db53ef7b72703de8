package graft

/** Plan-inspection main: dumps `explain("formatted")` for the headline
  * queries so scan pruning / pushdown / join strategy / codegen spans
  * can be reviewed per round (output checked into PLANS.md).
  *
  * What to look for (the 100 TB checklist):
  *  - `ReadSchema` lists ONLY referenced columns (column pruning);
  *  - `PushedFilters` carries the query predicates into parquet;
  *  - small dimension sides plan as `BroadcastHashJoin`;
  *  - aggregates show partial (`HashAggregate(keys=… functions=[partial_…`)
  *    before the exchange;
  *  - hot scoring loops sit inside `WholeStageCodegen` spans.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args(1).split(",").toSeq
      else Seq("q_client_txn_counts", "q_monthly_summary", "q_dedup_first",
        "q_ngram_jaccard", "q_knn_cosine", "q_event_windows")
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
