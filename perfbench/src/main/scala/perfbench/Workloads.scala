package perfbench

/** The benchmark's workloads: named query sets over the fixed sf0.1
  * fixtures. README.md says why each was chosen and which layer it
  * stresses. */
object Workloads {

  /** HiveQL core: a full scan with aggregation, a cube, and the custom
    * AsOfJoin operator. Stresses `exec`. */
  val olap: Seq[String] = Seq(
    "q1_pricing_summary", "q_agg_cube", "q_join_asof_custom")

  /** Loop and fixed-point pipelines whose Spark jobs run inside the
    * builder. Stresses `build` and `cache`. */
  val iterative: Seq[String] = Seq(
    "q_sim_kmeans_train", "q_sim_ivf_rebalance")

  /** Writes beside reads: copy-on-write DML, partitioned and atomic sinks,
    * format round trips. Stresses `io`. */
  val etlWrite: Seq[String] = Seq(
    "q_dml_merge", "q_sink_dsv2_atomic", "q_load_data", "q_src_csv",
    "q_src_json")

  val all: Map[String, Seq[String]] = Map(
    "olap" -> olap, "iterative" -> iterative, "etl_write" -> etlWrite)
}
