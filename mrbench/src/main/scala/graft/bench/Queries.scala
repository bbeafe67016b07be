package graft.bench

/** The `suite_floor` query list. */
object Queries {
  /** Queries whose time goes to shuffle, spill, executor CPU or
    * build-phase jobs rather than to the per-job floor.
    */
  val executorHeavy: Set[String] = Set("theil_sen", "duplicate_span_ladder", "assoc_rules",
    "ts_motif", "snm_recall", "q20_volume_supplier", "bigram_surprisal", "lang_id_ngram",
    "boilerplate_ngrams", "kcore", "hits_scores", "ivf_sample_train")

  /** Every 20th `SparkEntry.queries` entry in name order, the executor-heavy
    * ones left out, plus `wordcount_files`, which fails while the
    * reference corpus is absent and stays so that it counts as failed.
    */
  lazy val floor: Seq[String] = {
    val all = graft.SparkEntry.queries.keys.toSeq.sorted.filterNot(executorHeavy)
    (all.indices.filter(_ % 20 == 0).map(all) :+ "wordcount_files").distinct
  }
}
