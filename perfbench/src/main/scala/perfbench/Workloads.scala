package perfbench

/** The benchmark's workloads: gate lists over the read-only sf0.1
  * fixtures (TESTDATA.md). Every gate listed here has a DuckDB oracle
  * and writes only under the roots the harness owns (gates that stage
  * files at fixed paths outside the working tree are left out on
  * purpose).
  *
  * @param gates `SparkEntry.queries` names, run in a seed-shuffled
  *              order within each pass
  * @param core  also time the `graft.core.Reservoir` microbenchmark
  *              as one gate of every pass
  */
final case class Workload(name: String, gates: Seq[String], core: Boolean)

object Workloads {

  /** In-run control: no optimisation of the measured layers touches
    * it, so a co-tenant stall moves it and a regression does not. */
  val controls: Seq[String] = Seq("q213_corr_exact")

  /** Name of the pseudo-gate that times the reservoir microbenchmark. */
  val CoreGate = "core_reservoir"

  val all: Seq[Workload] = Seq(
    // the paper's own aggregate: UDA update, serialize and merge plus
    // the shuffle of aggregate state, with little planning; a count()
    // used to prune the UDA out of q13, q14 and q110
    Workload("uda_median", Seq(
      "q13_median_exact", "q14_median_by_flag", "q15_median_events",
      "q20_median_timestamp", "q39_median_string", "q77_running_median",
      "q110_median_string_format"),
      core = true),
    // work done while the frame is built: IndexStore artifacts (the BM25
    // postings, pre-built in set-up), FrameMemo checkpoints and MemCatalog
    // commits, plus the joins a count() used to prune out of q152
    Workload("retrieval_catalog", Seq(
      "q144_bm25_index_serve", "q152_retrieval_eval", "q135_cdc_upsert",
      "q316_catalog_sql_vacuum", "q326_atomic_ctas"),
      core = false))

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))
}
