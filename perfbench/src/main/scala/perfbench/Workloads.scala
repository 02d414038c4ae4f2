package perfbench

/** The named workloads: which engine entries each client loops over, and
  * on which generated fixture. */
object Workloads {
  val olap: Seq[String] = Seq(
    "q01_tpch_q1", "h05_local_supplier", "q30_win_rank", "q46_rollup", "ds14_basket_overlap")
  // ten entries: together they generate more classes than Spark's
  // compiled-code cache holds, so this set recompiles in steady state
  val dialect: Seq[String] = Seq(
    "r04_ref_having", "r06_ref_distinct_join", "r10_ref_in", "r12_ref_orderby_limit",
    "r16_ref_arrays", "r18_ref_union_join", "r116_ref_scalar_subquery_cmp",
    "r127b_ref_correlated_having", "r151_ref_dynamic_frames", "r200_pt_corpus")
  val ops: Seq[String] = Seq(
    "d05_simhash", "t05_char_entropy", "d01_dedup_exact", "s02_cosine_pairs",
    "p03_presto_json_array")

  def apply(name: String, dirs: Map[String, String]): Seq[Main.Client] = name match {
    case "olap_sf1" => Seq(Main.Client("olap", olap, dirs("olap")))
    case "dialect_small" => Seq(Main.Client("short", dialect, dirs("small")))
    case "llm_ops" => Seq(Main.Client("ops", ops, dirs("ops")))
    case "mixed_2clients" =>
      Seq(Main.Client("olap", olap, dirs("olap")), Main.Client("short", dialect, dirs("small")))
  }
}
