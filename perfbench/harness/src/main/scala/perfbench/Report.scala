package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Turns the raw run record into files the Python side aggregates:
  * `result.json` (header, set-up, passes and one row per query execution,
  * with listener-derived counters for traced executions) and `spans.jsonl`
  * (run → pass → query → build/exec phase → Spark job → stage). */
object Report {
  import Harness.{Exec, Pass, Span}

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")

  def write(out: String, header: Map[String, String], names: Seq[String],
      moduleNames: Seq[String], moduleOf: Map[String, String], verifyFailed: Seq[String],
      setup: collection.Map[String, collection.Seq[Double]], warmStorageBytes: Long,
      passes: Seq[Pass], execs: Seq[Exec], spans: Seq[Span], t: Trace): Unit = {
    val mb = 1024.0 * 1024.0
    val traced = execs.filter(_.traced)
    // Jobs without a query id (threads that did not inherit the local
    // properties) go to the traced execution whose span contains their start.
    def owner(j: Trace.Job): Option[Exec] = j.qid match {
      case Some(id) => traced.find(_.qid == id)
      case None => traced.find(e => j.start >= e.start && j.start <= e.end)
    }
    val jobsOf: Map[String, Seq[Trace.Job]] =
      t.jobs.values.toSeq.flatMap(j => owner(j).map(_.qid -> j)).groupMap(_._1)(_._2)
    def phaseOf(e: Exec, j: Trace.Job): String = j.phase.getOrElse(
      if (j.start < e.buildEnd) "build" else "exec")

    val rows = execs.map { e =>
      val base = Seq("qid" -> q(e.qid), "name" -> q(e.name), "module" -> q(e.module),
        "pass" -> e.pass.toString, "traced" -> e.traced.toString, "ok" -> e.ok.toString,
        "build_s" -> num((e.buildEnd - e.start) / 1e3),
        "exec_s" -> num((e.end - e.buildEnd) / 1e3),
        "wall_s" -> num((e.end - e.start) / 1e3))
      if (!e.traced) obj(base)
      else {
        val js = jobsOf.getOrElse(e.qid, Nil)
        val st = js.flatMap(_.stages).flatMap(t.stages.get)
        val clip = js.map(j => (math.max(j.start.toDouble, e.start).toLong,
          math.min(j.end.toDouble, e.end).toLong))
        val busyMs = Trace.union(clip).toDouble
        val bt = t.batches.filter(b => b.ts >= e.start - 1 && b.ts <= e.end)
        obj(base ++ Seq(
          "jobs" -> js.size.toString,
          "build_jobs" -> js.count(j => phaseOf(e, j) == "build").toString,
          "exec_jobs" -> js.count(j => phaseOf(e, j) == "exec").toString,
          "stages" -> st.size.toString,
          "tasks" -> st.map(_.tasks).sum.toString,
          "job_busy_s" -> num(busyMs / 1e3),
          "driver_self_s" -> num(math.max(0.0, (e.end - e.start) - busyMs) / 1e3),
          "executor_run_s" -> num(st.map(_.runMs).sum / 1e3),
          "shuffle_write_mb" -> num(st.map(_.shuffleWrite).sum / mb),
          "shuffle_read_mb" -> num(st.map(_.shuffleRead).sum / mb),
          "spill_mb" -> num(st.map(_.spill).sum / mb),
          "input_mb" -> num(st.map(_.input).sum / mb),
          "output_mb" -> num(st.map(_.output).sum / mb),
          "rchar_mb" -> num(e.rchar / mb),
          "wchar_mb" -> num(e.wchar / mb),
          "stream_batches" -> bt.size.toString,
          "stream_nodata_batches" -> bt.count(_.inputRows == 0).toString,
          "stream_input_rows" -> bt.map(_.inputRows).sum.toString,
          "stream_state_rows" -> bt.map(_.stateRows).maxOption.getOrElse(0L).toString,
          "stream_batch_ms" -> bt.map(_.durMs.toString).mkString("[", ",", "]")))
      }
    }

    val setupJson = obj(setup.toSeq.map { case (k, v) => k -> v.map(num).mkString("[", ",", "]") })
    val passJson = passes.map(p => obj(Seq("index" -> p.index.toString,
      "traced" -> p.traced.toString, "seconds" -> num(p.seconds),
      "failed" -> p.failed.toString, "load_before" -> num(p.loadBefore),
      "load_after" -> num(p.loadAfter))))
    val result = obj(Seq(
      "header" -> obj(header.toSeq.map { case (k, v) => k -> q(v) }),
      "modules" -> moduleNames.map(q).mkString("[", ",", "]"),
      "queries" -> names.map(n => obj(Seq("name" -> q(n),
        "module" -> q(moduleOf.getOrElse(n, "Other"))))).mkString("[", ",", "]"),
      "verify_failed" -> verifyFailed.map(q).mkString("[", ",", "]"),
      "setup" -> setupJson,
      "warm_storage_mb" -> num(warmStorageBytes / mb),
      "passes" -> passJson.mkString("[", ",", "]"),
      "execs" -> rows.mkString("[\n", ",\n", "]")))
    Files.write(Paths.get(s"$out/result.json"), result.getBytes(StandardCharsets.UTF_8))

    // Span file: harness spans plus, for traced executions, one span per
    // Spark job under its phase span and one per stage under its job.
    val sb = new StringBuilder
    def line(id: String, parent: String, name: String, qid: String, a: Double, b: Double): Unit =
      sb ++= obj(Seq("id" -> q(id), "parent" -> q(parent), "name" -> q(name),
        "qid" -> q(qid), "start_ms" -> num(a), "end_ms" -> num(b))) += '\n'
    spans.foreach(s => line(s.id.toString, s.parent.toString, s.name, s.qid, s.start, s.end))
    val phaseSpan: Map[(String, String), Int] = spans.collect {
      case s if s.name == "build" || s.name == "exec" => (s.qid, s.name) -> s.id
    }.toMap
    traced.foreach { e =>
      jobsOf.getOrElse(e.qid, Nil).foreach { j =>
        val parent = phaseSpan.get((e.qid, phaseOf(e, j))).map(_.toString).getOrElse("")
        line(s"job${j.id}", parent, s"job ${j.id}", e.qid, j.start.toDouble, j.end.toDouble)
        j.stages.foreach { s =>
          t.stageSpan.get(s).foreach { case (a, b) =>
            line(s"stage${s}", s"job${j.id}", s"stage $s", e.qid, a.toDouble, b.toDouble)
          }
        }
      }
    }
    Files.write(Paths.get(s"$out/spans.jsonl"), sb.toString.getBytes(StandardCharsets.UTF_8))
  }

  /** The two files `graft.Verify` writes beside its outputs, so
    * `tools/check.py` can check the verify dir as it checks Verify's:
    * `oracle_sql.json` (the oracle SQL of the run's queries) and
    * `declared.json` (every query run, so a missing output is a failure). */
  def writeVerifyManifest(dir: String, names: Seq[String], oracleSql: Map[String, String]): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(s"$dir/oracle_sql.json"),
      obj(oracleSql.toSeq.sortBy(_._1).map { case (k, v) => k -> q(v) }).getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(s"$dir/declared.json"),
      names.sorted.map(q).mkString("[", ",", "]").getBytes(StandardCharsets.UTF_8))
  }
}
