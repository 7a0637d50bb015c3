package graft

/** Dev tool: print the formatted physical plan and warm timings for named
  * queries. Usage: ToolExplain <sfDir> <query> [query ...]
  * (Not part of the driver contract.) */
object ToolExplain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = GraftSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.tail.foreach { name =>
      val fn = SparkEntry.queries(name)
      println(s"===== $name =====")
      if (sys.env.get("GRAFT_EXPLAIN").forall(_ == "1")) fn(spark, sfDir).explain("formatted")
      val runs = if (sys.env.get("GRAFT_EXPLAIN_ONLY").contains("1")) 0 else 3
      (1 to runs).foreach { i =>
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        println(f"$name run$i: rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
