package perfbench

import graft.{QDef, SparkEntry}
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One benchmark run in one JVM: set-up (which includes an untimed verify
  * pass and an untimed warm-up pass), then closed-loop timed passes over
  * the workload's queries: at least [[MinPasses]], and more while one more
  * pass of the median length so far still ends within the requested
  * seconds. Each query is timed in two phases, each
  * a call into a public function: build (`SparkEntry.queries(name)(spark,
  * dir)`, which plans and runs any eager law checks and commits) and exec
  * (the noop-sink write of the returned DataFrame).
  *
  * With `trace=1` the timed passes mix traced passes (a SparkListener and
  * a StreamingQueryListener installed) and untraced ones, so one run
  * reports both the per-layer numbers and the tracing overhead.
  *
  * Usage (normally started by perfbench/run.py):
  *   Harness data=DIR out=DIR queries=FILE seed=N seconds=S trace=0|1
  *           cpus=N local_dir=DIR
  *   Harness list
  */
object Harness {

  /** Fewest timed passes in a run. With three, a five-query workload has 15
    * latencies and its tail percentile (3 beyond) falls exactly between the
    * slowest query's samples and the next one's, where it swung by a
    * quarter from run to run; with four it falls among one query's samples.
    * A traced run then also has two traced and two untraced passes. */
  val MinPasses = 4

  /** Module name → its declared queries, mirroring `SparkEntry.all`. */
  def modules: Seq[(String, Seq[QDef])] = Seq(
    "Scans" -> graft.operators.Scans.defs,
    "TableOps" -> graft.operators.TableOps.defs,
    "FrameOps" -> graft.operators.FrameOps.defs,
    "Filters" -> graft.operators.Filters.defs,
    "Joins" -> graft.operators.Joins.defs,
    "Aggregates" -> graft.operators.Aggregates.defs,
    "Windows" -> graft.operators.Windows.defs,
    "SetOps" -> graft.operators.SetOps.defs,
    "Scalars" -> graft.operators.Scalars.defs,
    "TextOps" -> graft.operators.TextOps.defs,
    "Dedup" -> graft.operators.Dedup.defs,
    "Similarity" -> graft.operators.Similarity.defs,
    "Graph" -> graft.operators.Graph.defs,
    "StreamingOps" -> graft.operators.StreamingOps.defs,
    "Extensibility" -> graft.operators.Extensibility.defs,
    "Multimodal" -> graft.multimodal.Multimodal.defs)

  final case class Span(id: Int, parent: Int, name: String, qid: String,
      start: Double, end: Double)
  final case class Exec(qid: String, name: String, module: String, pass: Int,
      traced: Boolean, start: Double, buildEnd: Double, end: Double,
      ok: Boolean, rchar: Long, wchar: Long)
  final case class Pass(index: Int, traced: Boolean, seconds: Double,
      failed: Int, loadBefore: Double, loadAfter: Double)

  private val wallBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution, on the same clock
    * as Spark's listener event times. */
  def nowMs(): Double = wallBase + (System.nanoTime() - nanoBase) / 1e6

  /** Logs a step of the run with its time since the JVM started. */
  def mark(step: String): Unit = System.err.println(
    f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.2f s: $step")

  def procIo(): (Long, Long) =
    try {
      val kv = scala.io.Source.fromFile("/proc/self/io").getLines()
        .map(_.split(":\\s*")).collect { case Array(k, v) => k -> v.trim.toLong }.toMap
      (kv.getOrElse("rchar", 0L), kv.getOrElse("wchar", 0L))
    } catch { case _: Throwable => (0L, 0L) }

  def main(args: Array[String]): Unit = {
    // `list`: print "<module>\t<query>" for every declared query, in
    // `SparkEntry.all` order, and stop — the workload files are checked
    // against this.
    if (args.headOption.contains("list")) {
      modules.foreach { case (m, ds) => ds.foreach(d => println(s"$m\t${d.name}")) }
      return
    }
    val cfg = args.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val dir = cfg("data")
    val out = cfg("out")
    val seed = cfg("seed").toLong
    val traceOn = cfg("trace") == "1"
    val seconds = cfg("seconds").toDouble
    val cpus = cfg("cpus")
    val moduleOf: Map[String, String] =
      modules.flatMap { case (m, ds) => ds.map(_.name -> m) }.toMap
    val names = scala.io.Source.fromFile(cfg("queries")).getLines()
      .map(_.trim).filter(_.nonEmpty).toVector
    val fns = SparkEntry.queries
    val unknown = names.filterNot(fns.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    val spans = mutable.ArrayBuffer.empty[Span]
    var nextSpan = 0
    def span[A](name: String, parent: Int, qid: String = "")(body: Int => A): A = {
      nextSpan += 1
      val id = nextSpan
      val a = nowMs()
      try body(id) finally spans += Span(id, parent, name, qid, a, nowMs())
    }
    val setupTimes = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def timed[A](key: String, parent: Int)(body: => A): A = {
      val t0 = System.nanoTime()
      val a = span(key, parent)(_ => body)
      setupTimes.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
      a
    }

    val runSpan = { nextSpan += 1; nextSpan }
    val runStart = nowMs()
    val spark = timed("setup.session_s", runSpan) {
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.sources.v2.bucketing.enabled", "true")
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", cfg("local_dir"))
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    val sc = spark.sparkContext
    mark("session started")

    def keepIds: Set[Int] = Dedup.warmKeepIds ++ Similarity.warmKeepIds
    def dropCaches(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.filterNot { case (id, _) => keepIds(id) }
        .values.foreach(_.unpersist(blocking = true))
    }
    // A workload whose queries consume any warm standing artifact sets up
    // all three, so its set-up time covers every warm step even when its
    // timed set leaves out the (long) graph-ANN queries. Other workloads
    // warm nothing.
    val warmOn = names.exists(n =>
      Dedup.sharedFamily(n) || Similarity.sharedFamily(n) || Similarity.graphFamily(n))
    def warmCycle(): Unit = if (warmOn) {
      timed("setup.Dedup.warmShared_s", runSpan)(Dedup.warmShared(spark, dir))
      timed("setup.Similarity.warmShared_s", runSpan)(Similarity.warmShared(spark, dir))
      timed("setup.Similarity.warmGraphShared_s", runSpan)(Similarity.warmGraphShared(spark, dir))
    }
    def setProps(qid: String, phase: String): Unit = {
      sc.setLocalProperty(Trace.QidKey, qid)
      sc.setLocalProperty(Trace.PhaseKey, phase)
    }

    // Set-up: the warm standing artifacts, then the JIT warm-up, then a
    // second warm cycle so the warm part of set-up time is a median of two
    // samples rather than one. A traced run installs the listeners for the
    // verify pass too, so its outputs are produced under tracing.
    val trace = new Trace
    var drainTimeouts = 0
    def listen(on: Boolean): Unit = if (traceOn) {
      if (on) { sc.addSparkListener(trace.spark); spark.streams.addListener(trace.streaming) }
      else {
        // A removed listener gets none of the events still queued for it.
        if (!trace.drain(sc)) drainTimeouts += 1
        sc.removeSparkListener(trace.spark); spark.streams.removeListener(trace.streaming)
      }
    }
    warmCycle()
    mark("first warm cycle done")
    val verifyDir = s"$out/verify"
    val verifyFailed = mutable.ArrayBuffer.empty[String]
    listen(true)
    // JIT warm-up: the verify pass, then one untimed pass written to the
    // noop sink as the timed passes are. Without that pass the first timed
    // pass ran 15-20% slower than the later ones.
    timed("setup.jit_warm_s", runSpan) {
      names.foreach { n =>
        setProps(s"verify:$n", "verify")
        try fns(n)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$verifyDir/$n")
        catch { case t: Throwable =>
          verifyFailed += n
          System.err.println(s"[perfbench] verify $n FAILED: ${t.getClass.getName}: ${t.getMessage}")
        }
        setProps(null, null)
        dropCaches()
      }
      mark("verify pass done")
      names.foreach { n =>
        try fns(n)(spark, dir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
        dropCaches()
      }
      mark("warm-up pass done")
    }
    listen(false)
    if (warmOn) {
      Dedup.clearWarm(); Similarity.clearWarm()
      dropCaches()
      warmCycle()
    }
    dropCaches()
    mark("set-up done")
    val warmStorageBytes = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

    // Timed passes: closed loop, one client, the seed permutes the order.
    val execs = mutable.ArrayBuffer.empty[Exec]
    val passes = mutable.ArrayBuffer.empty[Pass]
    val loadBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    def morePasses: Boolean = passes.size < MinPasses || {
      val ts = passes.map(_.seconds).sorted
      ts.sum + ts(ts.size / 2) <= seconds
    }
    while (morePasses) {
      val p = passes.size
      // Untraced, traced, traced, untraced: both kinds get an early and a
      // late pass, so a first pass that still runs slow does not count as
      // tracing overhead.
      val traced = traceOn && (p % 4 == 1 || p % 4 == 2)
      val order = new scala.util.Random(seed * 1000003L + p).shuffle(names)
      if (traced) listen(true)
      val load0 = loadBean.getSystemLoadAverage
      val t0 = System.nanoTime()
      var failed = 0
      span(s"pass$p", runSpan) { ps =>
        order.foreach { n =>
          val qid = s"p$p:$n"
          span("query", ps, qid) { qs =>
            val io0 = if (traced) procIo() else (0L, 0L)
            val a = nowMs()
            var b = a
            val ok =
              try {
                setProps(qid, "build")
                val df: DataFrame = span("build", qs, qid)(_ => fns(n)(spark, dir))
                b = nowMs()
                setProps(qid, "exec")
                span("exec", qs, qid)(_ => df.write.format("noop").mode("overwrite").save())
                true
              } catch { case t: Throwable =>
                failed += 1
                System.err.println(s"[perfbench] $qid FAILED: ${t.getClass.getName}: ${t.getMessage}")
                false
              } finally setProps(null, null)
            val c = nowMs()
            if (b == a) b = c
            val io1 = if (traced) procIo() else (0L, 0L)
            execs += Exec(qid, n, moduleOf.getOrElse(n, "Other"), p, traced, a, b, c, ok,
              io1._1 - io0._1, io1._2 - io0._2)
          }
          dropCaches()
        }
      }
      val dt = (System.nanoTime() - t0) / 1e9
      if (traced) listen(false)
      passes += Pass(p, traced, dt, failed, load0, loadBean.getSystemLoadAverage)
    }
    val runEnd = nowMs()
    mark("timed passes done")
    val header = Map(
      "cpus" -> cpus,
      "trace_drain_timeouts" -> drainTimeouts.toString,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "driver_heap_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
      "spark_version" -> spark.version,
      "jdk_version" -> System.getProperty("java.version"))
    spans += Span(runSpan, 0, "run", "", runStart, runEnd)
    val oracle = SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }

    Report.write(out, header, names, modules.map(_._1), moduleOf, verifyFailed.toSeq,
      setupTimes, warmStorageBytes, passes.toSeq, execs.toSeq, spans.toSeq, trace)
    Report.writeVerifyManifest(verifyDir, names, oracle)
    mark("report written")
    // Neither stop the session (about 4 s after the lakehouse queries) nor
    // run the shutdown hooks: Spark's deletes each temporary dir the run
    // made with its own `rm` process, about 11 s after the lakehouse
    // queries. Every listener was drained and removed after its pass, and
    // the run's temporary files all sit in one dir that perfbench/run.py
    // removes.
    Runtime.getRuntime.halt(0)
  }
}
