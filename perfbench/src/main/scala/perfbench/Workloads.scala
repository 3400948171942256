package perfbench

/** One workload: a fixed list of `SparkEntry.queries` entries, and how many
  * untimed warm-up passes it needs before its timed passes stop speeding up. */
final case class Workload(ops: Seq[String], warmupPasses: Int)

/** The benchmark's workloads. A pass runs every op of a workload once, in an
  * order permuted by the run's seed. */
object Workloads {
  val all: Map[String, Workload] = Map(
    // namenode requests over the derived state tables: every op registers
    // the state views (model), then runs a find (store), a namespace read
    // (state), a write-set (state Mutations) or a reconciliation dataflow
    // (analytics). Two warm-up passes: the first runs every op cold, and
    // passes after the second agree within a few percent
    "namenode" -> Workload(Seq(
      "p1_indexed_find", "s3_listing", "n8_excess_replicas", "bal1_classify",
      "n13_set_replication"), warmupPasses = 2),
    // raw-table relational and training-data ops: Tables.load (core) and
    // functions only, never DerivedState.register. Their UDF-heavy ops keep
    // speeding up for longer: after two warm-up passes the timed passes
    // still fell by up to 20% within a run, after three they are flat
    "dataops" -> Workload(Seq(
      "q3_shipping_priority", "q9_product_profit", "q18_large_orders",
      "d1_exact_dedup", "d3_simhash", "sim1_knn_brute", "t2_quality_score"),
      warmupPasses = 3),
  )

  /** Every op of every workload, once, sorted. A traced run reports
    * `op.<name>_s` for each, 0 for an op outside its workload, so every
    * traced run prints the same names. */
  val allOps: Seq[String] = all.values.flatMap(_.ops).toSeq.distinct.sorted
}
