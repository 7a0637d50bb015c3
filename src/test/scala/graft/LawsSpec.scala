package graft

import org.apache.spark.sql.DataFrame

/** The multiset laws every multi-phase operator checks itself with, on
  * small in-memory frames with duplicate rows. */
class LawsSpec extends SparkSpec {

  private def rows(df: DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq

  test("symDiff is empty iff the two frames are equal as multisets") {
    import spark.implicits._
    val a = Seq((1L, "x"), (1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "v")
    val sameReordered =
      Seq((3L, "z"), (1L, "x"), (2L, "y"), (1L, "x")).toDF("k", "v")
    assert(Laws.symDiff(a, sameReordered).isEmpty)
    assert(Laws.symDiff(a, a).isEmpty)
    // same set, different multiplicity: one copy of (1, x) is missing
    val fewer = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "v")
    assert(!Laws.symDiff(a, fewer).isEmpty)
    assert(!Laws.symDiff(fewer, a).isEmpty)
    // same size, one row swapped
    val swapped = Seq((1L, "x"), (1L, "x"), (2L, "y"), (4L, "z")).toDF("k", "v")
    assert(!Laws.symDiff(a, swapped).isEmpty)
  }

  test("netDelta re-expands to exactly ins.exceptAll(del) and del.exceptAll(ins)") {
    import spark.implicits._
    val ins = Seq((1L, "x"), (1L, "x"), (1L, "x"), (2L, "y"), (5L, "q"))
      .toDF("k", "v")
    val del = Seq((1L, "x"), (3L, "z"), (3L, "z"), (5L, "q")).toDF("k", "v")
    val (netIns, netDel) = Laws.netDelta(ins, del)
    assert(netIns.columns.toSeq == Seq("k", "v"))
    assert(netDel.columns.toSeq == Seq("k", "v"))
    assert(rows(netIns) == rows(ins.exceptAll(del)))
    assert(rows(netDel) == rows(del.exceptAll(ins)))
    assert(rows(netIns) == Seq((1L, "x"), (1L, "x"), (2L, "y")))
    assert(rows(netDel) == Seq((3L, "z"), (3L, "z")))
  }
}
