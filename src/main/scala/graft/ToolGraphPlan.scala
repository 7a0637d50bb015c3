package graft

/** Dev tool: print the formatted physical plan of the graph-ANN hub-probe
  * chain (the internal frame every graph-family query's declared output is
  * derived from — the declared frames themselves are localCheckpoint'd, so
  * their own explain shows only a Scan ExistingRDD). Usage:
  * ToolGraphPlan <sfDir>. (Not part of the driver contract.) */
object ToolGraphPlan {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.Similarity
    Similarity.warmShared(spark, sfDir)
    val t = Similarity.sharedGraphTiers(spark, sfDir)
    val co = Similarity.corpus(spark, sfDir)
    val pr = Similarity.probes(spark, sfDir)
    // The warm cell frame carries the vectors (vec_id, ce, cell) — the
    // entry scoring reads them straight off it (round-19 shape).
    val cellsV = Similarity.sharedAssigned(spark, sfDir)
    println("===== gannHubProbe (warm tiers) =====")
    Similarity.gannHubProbe(pr, co, cellsV,
      t.medoids.select("vec_id", "cell"), t.hubs2, t.hubEdges, t.graph)
      .explain("formatted")
    spark.stop()
  }
}
