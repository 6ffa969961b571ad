package graft.perfbench

/** One registry entry the benchmark calls, with the graft layer (module)
  * its function lives in. */
final case class Step(name: String, layer: String)

/** A workload: the steps of one pass. */
final case class Workload(name: String, steps: Seq[Step])

object Workloads {
  /** Layer names follow graft's modules. */
  val layers: Seq[String] = Seq("sources", "etl", "streaming", "timeseries",
    "analytics", "text", "dedup", "similarity", "curate")

  private def steps(layer: String, names: String*): Seq[Step] =
    names.map(Step(_, layer))

  /** The nightly job: CSV staging, casts, partitioned parquet sinks, CDC
    * snapshots and time-series features, then the discovery SQL over the
    * result — write-heavy batch work in the sources/etl/streaming layers. */
  val etlNightly = Workload("etl_nightly",
    steps("etl", "etl_reference_e2e") ++
      steps("timeseries", "ts_resample_daily") ++
      steps("streaming", "cdc_snapshot_versions") ++
      steps("sources", "layout_pruned_checksum") ++
      steps("analytics", "q_pivot_per_day"))

  /** Training-data curation: shuffle- and CPU-heavy text, dedup,
    * similarity and curation kernels over a document corpus; read-only. */
  val curateLlm = Workload("curate_llm",
    steps("curate", "curate_corpus") ++
      steps("dedup", "dedup_simhash") ++
      steps("text", "text_quality") ++
      steps("similarity", "ann_ivf_topk"))

  val all: Seq[Workload] = Seq(etlNightly, curateLlm)

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload $name; expected one of ${all.map(_.name).mkString(", ")}"))
}
