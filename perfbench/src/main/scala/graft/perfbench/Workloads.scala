package graft.perfbench

import graft.{QueryDef, SparkEntry}

/** A named set of declared statements. Artifacts the statements read
  * (indexes, staged tables, the chunked events directory) are built on
  * first use, in the untimed warm-up passes that set-up includes. */
final case class Workload(
    name: String,
    statements: Seq[String],
    /** Statements whose definition calls `graft.operators` or
      * `graft.functions`; the rest are plain SQL/DataFrame plans. */
    operatorStatements: Set[String],
    /** Whether the run includes the reference's produce/append/consume loop. */
    ingestLoop: Boolean = false,
    /** Untimed passes over the statements before timing. */
    warmUpPasses: Int = 2) {

  lazy val defs: Seq[QueryDef] = {
    val all = SparkEntry.defs.map(d => d.name -> d).toMap
    statements.map(n => all.getOrElse(n, sys.error(s"$name: unknown statement $n")))
  }
}

object Workloads {

  /** Batch analytics with no streaming and no snapshot table: Catalyst,
    * Spark execution and the engine's operators do the work. Two warm-up
    * passes: after one, the JIT was still compiling and timed passes
    * varied by ±20% between runs. */
  val analytics: Workload = Workload("analytics",
    Seq(
      "q01_scan_count", "q18_groupby_multi_agg", "q21_cube", "q24_ranking",
      "q68_correlated_subquery", "q55_minhash_lsh", "q56_simhash", "q67_ann_ivf"),
    Set("q55_minhash_lsh", "q56_simhash", "q67_ann_ivf"))

  /** The reference's produce/commit/consume loop on a growing snapshot
    * log, then a DSv2 read and a SQL UPDATE over small snapshot tables
    * and a stateful micro-batch replay: the commit path, the snapshot
    * log, DML lowering and the streaming module do the work. One warm-up
    * pass over the statements, after a warm-up ingest loop that already
    * runs Spark's write, scan and aggregate paths. */
  val lakehouse: Workload = Workload("lakehouse",
    Seq(
      "q280_dsv2_read", "q291_sql_update", "q48_stream_dedup"),
    Set.empty,
    ingestLoop = true,
    warmUpPasses = 1)

  val all: Seq[Workload] = Seq(analytics, lakehouse)

  def byName(n: String): Workload =
    all.find(_.name == n).getOrElse(sys.error(
      s"unknown workload '$n' (one of ${all.map(_.name).mkString(", ")})"))
}
