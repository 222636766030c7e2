package perfbench

/** The benchmark's workloads: a named key subset of `graft.SparkEntry.queries`
  * and the data set it runs on (`base` = the engine's sf0.01 test fixture,
  * `x10` = `graft.tools.StressGen` ×10 of it). README.md says why each key
  * subset was chosen. */
final case class Workload(name: String, data: String, keys: Seq[String])

object Workloads {
  val all: Seq[Workload] = Seq(
    // lakehouse DDL/DML/probe statements on GraftCatalog: the per-statement
    // floor (Catalyst phases, AQE stage jobs) plus Avro commits dominate
    Workload("catalog-flows", "base", Seq(
      "catalog_merge_into", "catalog_point_lookup", "catalog_procedures",
      "catalog_agg_pushdown", "catalog_update_mor", "catalog_delete_where")),
    // true Structured Streaming queries under Trigger.AvailableNow: query
    // start/stop, offset and commit logs, and (stream_file_sink's windowed
    // aggregation) state-store commits dominate
    Workload("stream-flows", "base", Seq("stream_file_sink", "stream_table_source")),
    // data-parallel operators on ten times the rows: task execution,
    // shuffle and codegen'd expressions (llm_dedup_near's graft.plans
    // ShinglesK) dominate; includes the paper's own cross-match and
    // angular-distance operators
    Workload("bulk-x10", "x10", Seq(
      "astro_crossmatch_zones", "udf_angular_distance", "agg_groupby_hash",
      "llm_dedup_near")))

  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))
}
