package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Law-check primitives shared by the multi-phase operators. */
object Laws {

  /** The multiset symmetric difference a ⊖ b as ONE signed-count
    * aggregate: every row contributes +1 per a-copy and −1 per b-copy,
    * and a group survives iff its sum is non-zero. Empty ⟺ a ≡ b as
    * multisets — exactly what `a.exceptAll(b).unionAll(b.exceptAll(a))`
    * detected, but in a single exchange instead of two full
    * aggregate+re-expand rewrites (Spark plans each exceptAll as this
    * same signed aggregate followed by a Generate; the laws only need
    * the EMPTINESS, so the re-expansion work was pure overhead). */
  def symDiff(a: DataFrame, b: DataFrame): DataFrame = {
    val keys = a.columns.toIndexedSeq.map(col)
    a.withColumn("__w", lit(1L))
      .unionAll(b.withColumn("__w", lit(-1L)))
      .groupBy(keys: _*)
      .agg(sum("__w").as("__w"))
      .where(col("__w") =!= 0L)
  }

  /** Both net-delta directions of a change (`ins` added, `del` removed)
    * from ONE signed-count pass: the [[symDiff]] groups, checkpointed,
    * each surviving row re-expanded |w| times — multiset-exact, equal to
    * (ins.exceptAll(del), del.exceptAll(ins)) with one aggregate and one
    * checkpoint instead of Spark's two ExceptAll rewrites. */
  def netDelta(ins: DataFrame, del: DataFrame): (DataFrame, DataFrame) = {
    val net = symDiff(ins, del).localCheckpoint()
    def expand(side: Column) = net.where(side)
      .select(ins.columns.toIndexedSeq.map(col) :+
        explode(sequence(lit(1L), abs(col("__w")))).as("__i"): _*)
      .drop("__i")
    (expand(col("__w") > 0L), expand(col("__w") < 0L))
  }
}
