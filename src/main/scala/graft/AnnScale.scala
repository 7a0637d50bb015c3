package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measures the ANN index-BUILD scaling claim the fixture cannot show:
  * the in-cell candidate generation behind the graph/semantic-dedup
  * builds is O(V²/cells), so with the oracle-pinned FIXED 8-cell
  * quantizer a 10× corpus measures ~quadratic build cost
  * (BENCH_SCALE.json's sim_graph_ann_maintain / dedup_semantic
  * entries). The PRODUCTION discipline — documented in those QDefs —
  * scales the cell count with the corpus, keeping per-cell population
  * constant. This main measures exactly that: the day-0 build (fit +
  * assignment + in-cell top-M edges) at base scale with 8 cells, at
  * 10× with 8 cells (the fixture's shape), and at 10× with 80 cells
  * (the production shape), printing one JSON line with the three
  * timings. Done-bar: the cells-∝-V 10× ratio is ~linear, the fixed-
  * cells ratio is the quadratic artifact.
  *
  * Usage: AnnScale <baseSfDir> <scaledSfDir>
  */
object AnnScale {

  private def buildOnce(s: SparkSession, dir: String, nCells: Int): Double = {
    import graft.operators.Similarity
    val co = Similarity.corpus(s, dir).select("vec_id", "ce")
      .localCheckpoint() // charge the build, not the parquet read
    val seeds = Tables.embeddings(s, dir)
      .where(col("vec_id") < nCells.toLong)
      .select(col("vec_id").as("cid"),
        col("embedding").cast("array<double>").as("centroid"))
    val t0 = System.nanoTime()
    val fitted = Similarity.ivfFit(co, seeds)
    val assigned = Similarity.assignCell(co, "vec_id", "ce", fitted)
      .localCheckpoint()
    // The quadratic term under test: in-cell pair generation + top-M
    // edge selection (the graph base layer / the semantic-dedup
    // candidate set).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("raw").desc, col("nb").asc)
    val edges = assigned.select(col("vec_id"), col("ce"), col("cell"))
      .join(assigned.select(col("vec_id").as("nb"),
        col("ce").as("nbe"), col("cell")), Seq("cell"))
      .where(col("vec_id") =!= col("nb"))
      .select(col("vec_id"), col("nb"),
        expr("graft_dot(ce, nbe)").as("raw"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 4)
    edges.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args(0)
    val scaledDir = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val s = GraftSession.builder(cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.DotProduct.register(s)
    def minOf2(dir: String, cells: Int): Double = {
      val a = buildOnce(s, dir, cells)
      val b = buildOnce(s, dir, cells)
      math.min(a, b)
    }
    minOf2(baseDir, 8) // JIT/codegen warm-up pass, untimed
    val base8 = minOf2(baseDir, 8)
    val scaled8 = minOf2(scaledDir, 8)
    val scaled80 = minOf2(scaledDir, 80)
    def num(v: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    println(s"""{"metric":"ann_build","base8_sec":${num(base8)},""" +
      s""""scaled8_sec":${num(scaled8)},"scaled80_sec":${num(scaled80)},""" +
      s""""ratio_fixed_cells":${num(scaled8 / base8)},""" +
      s""""ratio_cells_prop":${num(scaled80 / base8)}}""")
    s.stop()
  }
}
