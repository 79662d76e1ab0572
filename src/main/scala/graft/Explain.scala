package graft

/** Plan auditor: prints `explain("formatted")` for the named queries
  * (or a representative default set) so scan pushdown (`PushedFilters`,
  * `ReadSchema`), broadcast choices, and WholeStageCodegen spans can be
  * reviewed. Usage: runMain graft.Explain [sfDir] [query...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("q1_agg", "q2_filter", "q3_join_agg", "q5_multi_join",
        "q20_sliding_alert", "q35_ngram_jaccard", "q36_minhash_lsh",
        "q38_minhash_sig", "q40_knn_brute", "q42_ann_lsh", "q43_ivf_ann",
        "q44_embed_neardup", "q45_decontaminate", "q56_decontaminate_bloom",
        "q61_simhash_neardup")
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries.get(n) match {
        case Some(fn) => fn(spark, sfDir).explain("formatted")
        case None => println(s"unknown query: $n")
      }
    }
    spark.stop()
  }
}
