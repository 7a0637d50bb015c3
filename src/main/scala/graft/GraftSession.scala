package graft

import org.apache.spark.sql.SparkSession

/** The session every harness (Bench, Verify, the dev tools, the test
  * suites) runs on, and the cache sweep between their queries. */
object GraftSession {

  /** A local[`cpus`] builder with the pinned confs: one shuffle partition
    * per core, UTC, UI off. Storage-partitioned execution is pinned at
    * build time so the plan environment is identical whether a
    * storage-partitioned query (scan_v2_spj/join_spj, which also set
    * these at runtime for cold/test sessions) has run yet or not —
    * ordering-independent plans across a sweep. */
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.ui.enabled", "false")

  /** Drop query-internal caches between queries: clearCache drops
    * SQL-cache entries (dedup_ngram's shingle set), and the unpersist
    * sweep drops RDD storage blocks clearCache does NOT cover —
    * localCheckpoint()'d edge lists (dedup_cluster/dedup_keep) register
    * as persistent RDDs and would otherwise accumulate for a whole run.
    * The warm frames are exempt, consulted per call, not snapshotted: the
    * graph-ANN tiers warm lazily on first use mid-run, and unpersisting a
    * localCheckpoint orphans every later read of it. */
  def dropCaches(spark: SparkSession): Unit = {
    val keep = operators.Dedup.warmKeepIds ++ operators.Similarity.warmKeepIds
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => keep(id) }
      .values.foreach(_.unpersist(blocking = false))
  }
}
