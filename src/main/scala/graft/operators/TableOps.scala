package graft.operators

import graft.Rnd.rnd
import graft.{QDef, Tables => T}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Scans.{freshRunTmpPath, runTmpPath}

/** The commit-log TABLE family (split out of Scans.scala in round 18 —
  * zero behavior change; the lakehouse DML/metadata operators over
  * graft.sources.CommitLog: compaction, stats, time travel, WAP,
  * multi-table txns, CDF, restore, optimize, DV DML, constraints,
  * schema/colmap/tags, skipping, checkpoints, bloom indexes, gencols,
  * partition evolution).
  */
object TableOps {

  val defs: Seq[QDef] = Seq(
    // Small-file compaction planner — the lakehouse maintenance pass that
    // turns a write-amplified partition (thousands of tiny files from
    // streaming/CDC ingest) into a rewrite schedule of ~target-size output
    // files. The per-day ingest slices of each order month stand in for
    // the file listing (file bytes ∝ row count — the proxy a catalog's
    // listing provides); within each table-partition files are laid along
    // a cumulative-byte axis and output bin = bytes-before div target —
    // the one-pass windowed form of greedy packing (every bin lands in
    // [target, target+max_file) except the last, same guarantee OPTIMIZE
    // gives, without first-fit's sequential dependence). All integer
    // arithmetic. Scale shape: the planner runs on FILE METADATA — rows =
    // file count, shuffled once on the partition key; the window state is
    // one running sum; the data itself is never read. The emitted
    // (partition, bin) schedule is exactly what the rewrite job's
    // repartitionByRange consumes.
    QDef(
      "table_compact",
      (s, dir) => {
        val target = graft.GraftConfig.CompactTargetBytes
        val files = T.orders(s, dir)
          .groupBy(substring(col("o_orderdate").cast("string"), 1, 7).as("mon"),
            col("o_orderdate").cast("string").as("fday"))
          .agg((count(lit(1)) * 100L).as("bytes"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("mon").orderBy("fday")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        files
          .withColumn("cum", sum("bytes").over(w))
          .withColumn("bin", expr(s"(cum - bytes) div $target"))
          .groupBy("mon", "bin")
          .agg(count(lit(1)).as("n_files"), sum("bytes").as("bin_bytes"),
            min("fday").as("first_file"), max("fday").as("last_file"))
          .orderBy("mon", "bin")
      },
      Some(s"""WITH files AS (
              |  SELECT substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS mon,
              |    CAST(o_orderdate AS VARCHAR) AS fday,
              |    count(*) * 100 AS bytes
              |  FROM orders GROUP BY 1, 2),
              |laid AS (
              |  SELECT mon, fday, bytes,
              |    (CAST(sum(bytes) OVER (PARTITION BY mon ORDER BY fday
              |       ROWS UNBOUNDED PRECEDING) AS BIGINT) - bytes)
              |      // ${graft.GraftConfig.CompactTargetBytes} AS bin
              |  FROM files)
              |SELECT mon, bin, count(*) AS n_files,
              |  CAST(sum(bytes) AS BIGINT) AS bin_bytes,
              |  min(fday) AS first_file, max(fday) AS last_file
              |FROM laid GROUP BY mon, bin ORDER BY mon, bin""".stripMargin)),

    // ANALYZE-style catalog statistics — the per-column numbers a
    // cost-based optimizer feeds on: row count (join reordering), NDV
    // (aggregation estimates, broadcast decisions), min/max (range/partition
    // pruning), null count (filter selectivity). One row out per tracked
    // column; `pos_value` (value where > 0, else null) is a derived column
    // whose nulls exercise the null-count path on fixtures that ship
    // without any. Everything computes in ONE corpus pass: counts/min/max
    // are algebraic partial aggregates, and the multi-column exact NDVs
    // plan as Spark's Expand (one duplicated stream per distinct column)
    // with map-side partials. Scale: at 100 TB the exact NDVs swap for HLL
    // sketches (`agg_approx_distinct` demonstrates the machinery), making
    // the whole pass pure single-scan partial aggregation; output stays
    // O(columns) rows regardless of table size — the stats table itself is
    // a catalog artifact, refreshed per partition on ingest and merged.
    QDef(
      "table_stats",
      (s, dir) => {
        val e = T.events(s, dir)
          .withColumn("pos_value", when(col("value") > 0.0, col("value")))
        val ag = e.agg(
          count(lit(1)).as("n_rows"),
          count(col("event_id")).as("nn_event_id"),
          countDistinct(col("event_id")).as("ndv_event_id"),
          min(col("event_id")).cast("double").as("min_event_id"),
          max(col("event_id")).cast("double").as("max_event_id"),
          count(col("user_id")).as("nn_user_id"),
          countDistinct(col("user_id")).as("ndv_user_id"),
          min(col("user_id")).cast("double").as("min_user_id"),
          max(col("user_id")).cast("double").as("max_user_id"),
          count(col("value")).as("nn_value"),
          countDistinct(col("value")).as("ndv_value"),
          rnd(min(col("value")), 6).as("min_value"),
          rnd(max(col("value")), 6).as("max_value"),
          count(col("pos_value")).as("nn_pos_value"),
          countDistinct(col("pos_value")).as("ndv_pos_value"),
          rnd(min(col("pos_value")), 6).as("min_pos_value"),
          rnd(max(col("pos_value")), 6).as("max_pos_value"),
          count(col("event_type")).as("nn_event_type"),
          countDistinct(col("event_type")).as("ndv_event_type"),
          min(col("event_type")).as("smin_event_type"),
          max(col("event_type")).as("smax_event_type"))
        def numRow(name: String) = struct(
          lit(name).as("col_name"), col("n_rows"),
          (col("n_rows") - col(s"nn_$name")).as("n_nulls"),
          col(s"ndv_$name").as("ndv"),
          col(s"min_$name").as("min_num"), col(s"max_$name").as("max_num"),
          lit(null).cast("string").as("min_str"),
          lit(null).cast("string").as("max_str"))
        def strRow(name: String) = struct(
          lit(name).as("col_name"), col("n_rows"),
          (col("n_rows") - col(s"nn_$name")).as("n_nulls"),
          col(s"ndv_$name").as("ndv"),
          lit(null).cast("double").as("min_num"),
          lit(null).cast("double").as("max_num"),
          col(s"smin_$name").as("min_str"), col(s"smax_$name").as("max_str"))
        ag.select(explode(array(
            numRow("event_id"), numRow("user_id"), numRow("value"),
            numRow("pos_value"), strRow("event_type"))).as("r"))
          .select("r.*")
          .orderBy("col_name")
      },
      Some("""WITH e AS (
             |  SELECT event_id, user_id, event_type, value,
             |    CASE WHEN value > 0.0 THEN value END AS pos_value
             |  FROM events),
             |a AS (
             |  SELECT count(*) AS n_rows,
             |    count(event_id) AS nn_event_id,
             |    count(DISTINCT event_id) AS ndv_event_id,
             |    CAST(min(event_id) AS DOUBLE) AS min_event_id,
             |    CAST(max(event_id) AS DOUBLE) AS max_event_id,
             |    count(user_id) AS nn_user_id,
             |    count(DISTINCT user_id) AS ndv_user_id,
             |    CAST(min(user_id) AS DOUBLE) AS min_user_id,
             |    CAST(max(user_id) AS DOUBLE) AS max_user_id,
             |    count(value) AS nn_value,
             |    count(DISTINCT value) AS ndv_value,
             |    floor((min(value)) * 1e6 + 0.5) / 1e6 AS min_value,
             |    floor((max(value)) * 1e6 + 0.5) / 1e6 AS max_value,
             |    count(pos_value) AS nn_pos_value,
             |    count(DISTINCT pos_value) AS ndv_pos_value,
             |    floor((min(pos_value)) * 1e6 + 0.5) / 1e6 AS min_pos_value,
             |    floor((max(pos_value)) * 1e6 + 0.5) / 1e6 AS max_pos_value,
             |    count(event_type) AS nn_event_type,
             |    count(DISTINCT event_type) AS ndv_event_type,
             |    min(event_type) AS smin_event_type,
             |    max(event_type) AS smax_event_type
             |  FROM e)
             |SELECT col_name, CAST(n_rows AS BIGINT) AS n_rows,
             |  CAST(n_nulls AS BIGINT) AS n_nulls, CAST(ndv AS BIGINT) AS ndv,
             |  min_num, max_num, min_str, max_str
             |FROM (
             |  SELECT 'event_id' AS col_name, n_rows,
             |    n_rows - nn_event_id AS n_nulls, ndv_event_id AS ndv,
             |    min_event_id AS min_num, max_event_id AS max_num,
             |    CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
             |  FROM a
             |  UNION ALL
             |  SELECT 'user_id', n_rows, n_rows - nn_user_id, ndv_user_id,
             |    min_user_id, max_user_id, NULL, NULL FROM a
             |  UNION ALL
             |  SELECT 'value', n_rows, n_rows - nn_value, ndv_value,
             |    min_value, max_value, NULL, NULL FROM a
             |  UNION ALL
             |  SELECT 'pos_value', n_rows, n_rows - nn_pos_value, ndv_pos_value,
             |    min_pos_value, max_pos_value, NULL, NULL FROM a
             |  UNION ALL
             |  SELECT 'event_type', n_rows, n_rows - nn_event_type, ndv_event_type,
             |    NULL, NULL, smin_event_type, smax_event_type FROM a)
             |ORDER BY col_name""".stripMargin)),

    // Equi-height histogram — table_stats' companion catalog artifact (the
    // selectivity structure ANALYZE ... FOR COLUMNS builds): HistBuckets
    // buckets over l_quantity, each targeting n/B rows, with every DISTINCT
    // VALUE wholly assigned to the bucket containing its first row rank
    // (a value cannot split across buckets, the standard CBO compromise —
    // a heavy value overfills its bucket rather than lying about bounds).
    // Built the way an engine actually builds it at scale: ONE corpus pass
    // collapses rows to (value, count) partial aggregates — the cumsum
    // window then runs over the BOUNDED distinct-value aggregate (NDV
    // rows, never corpus rows; the repo's global-window-only-on-bounded-
    // data rule), and bucket assignment is pure integer arithmetic on
    // 0-based first-row ranks, so boundaries are engine-exact. At high-NDV
    // columns production swaps the exact value counts for a quantile
    // sketch (agg_approx_pctile demonstrates the machinery); the histogram
    // stays O(buckets) rows at any table size.
    QDef(
      "table_histogram",
      (s, dir) => {
        val b = graft.GraftConfig.HistBuckets
        val vc = T.lineitem(s, dir)
          .select(col("l_quantity").cast("long").as("v"))
          .groupBy("v").agg(count(lit(1)).as("c"))
        val W = org.apache.spark.sql.expressions.Window
        val w = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
        // Grand total from a full-frame window over the SAME bounded
        // aggregate — a separate .agg would inline a second corpus scan
        // into the plan (the pipeline_mix lesson; pinned below).
        val wAll = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        vc.withColumn("cum", sum("c").over(w))
          .withColumn("n", sum("c").over(wAll))
          .withColumn("bucket", expr(s"((cum - c) * $b) div n"))
          .groupBy("bucket")
          .agg(min("v").as("lo"), max("v").as("hi"),
            sum("c").cast("long").as("n_rows"), count(lit(1)).as("n_values"))
          .orderBy("bucket")
      },
      Some(s"""WITH vc AS (
              |  SELECT CAST(l_quantity AS BIGINT) AS v, count(*) AS c
              |  FROM lineitem GROUP BY 1),
              |cu AS (
              |  SELECT v, c,
              |    CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
              |    CAST(sum(c) OVER () AS BIGINT) AS n
              |  FROM vc),
              |bk AS (
              |  SELECT v, c, ((cum - c) * ${graft.GraftConfig.HistBuckets}) // n AS bucket
              |  FROM cu)
              |SELECT bucket, min(v) AS lo, max(v) AS hi,
              |  CAST(sum(c) AS BIGINT) AS n_rows, count(*) AS n_values
              |FROM bk GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // Snapshot read-as-of (time travel) — the lakehouse read that
    // table_merge/table_scd2 imply but never demonstrate: two committed
    // generations under one root (g=1 the base snapshot, g=2 a delta of
    // upserts + tombstones), each PUBLISHED to a JSON transaction log
    // (`_log/0000000N.json`, one `add` action per data file — the
    // Delta/Iceberg commit shape; sources/CommitLog.scala), then the
    // table reconstructed AS OF each version BY THE LOG: the as-of file
    // list is resolved from commits ≤ v (driver-side metadata, KBs — the
    // PROTOCOL VERSION GATING (Delta's protocol action, reader half): a
    // table that starts using log features an older reader would silently
    // MISINTERPRET raises its minimum reader version, and the old reader
    // REFUSES — the alternative to refusal is wrong results (ignore
    // deletion vectors → resurrected rows; ignore per-file specs → wrong
    // pruning). The facet is latest-wins, as-of versioned (snapshots
    // BEFORE the bump stay readable — exactly Delta's per-snapshot
    // protocol), checkpoint-carried (CommitLogSpec), and enforced on the
    // DATA READ surface only, so metadata tooling keeps working. The
    // refusal is observed in-query and declared in the output; the
    // pre-bump snapshot's rollup is the data-derived half of the oracle.
    QDef(
      "table_protocol",
      (s, dir) => {
        import graft.sources.CommitLog
        val root = freshRunTmpPath(s, "graft_protocol_")
        T.orders(s, dir).where(col("o_orderkey") % 9L === 0L)
          .select(col("o_orderkey").as("key"), col("o_orderstatus").as("status"),
            expr("cast(floor(o_totalprice * 1e2 + 0.5) as bigint)").as("cents"))
          .coalesce(2).write.mode("overwrite").parquet(s"$root/g=1")
        CommitLog.commit(root, 1L, "g=1")
        val v1 = CommitLog.readAsOf(s, root, 1L)
          .groupBy("status")
          .agg(count(lit(1)).as("n"), sum("cents").cast("long").as("sum_cents"))
        CommitLog.setMinReader(root, 2L, CommitLog.SupportedReaderVersion + 1L)
        val refused =
          try { CommitLog.readAsOf(s, root, Long.MaxValue).count(); 0L }
          catch { case _: UnsupportedOperationException => 1L }
        require(refused == 1L,
          "a reader below the table's protocol must refuse, not misread")
        require(CommitLog.readAsOf(s, root, 1L).count() > 0L,
          "the pre-bump snapshot must stay readable (as-of protocol)")
        v1.withColumn("refused_latest", lit(1L))
          .withColumn("reader_version", lit(CommitLog.SupportedReaderVersion))
          .withColumn("required_version",
            lit(CommitLog.SupportedReaderVersion + 1L))
          .orderBy("status")
      },
      Some("""SELECT o_orderstatus AS status, count(*) AS n,
             |  CAST(sum(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
             |    AS sum_cents,
             |  CAST(1 AS BIGINT) AS refused_latest,
             |  CAST(2 AS BIGINT) AS reader_version,
             |  CAST(3 AS BIGINT) AS required_version
             |FROM orders WHERE o_orderkey % 9 = 0
             |GROUP BY o_orderstatus ORDER BY status""".stripMargin)),

    // PROTOCOL VERSION GATING — WRITER HALF (Delta's `minWriterVersion`):
    // the reader floor alone cannot protect a multi-engine table — a
    // STALE WRITER that commits to a table whose features it does not
    // understand corrupts the log for everyone (drops meta facets its
    // checkpoints don't serialize, compacts away files a newer feature
    // references, violates invariants it cannot see). So the table also
    // declares a WRITER floor, and a writer below it REFUSES to commit —
    // refusal costs O(1) metadata, the alternative is log corruption. The
    // split-halves law is the point: under a raised WRITER floor every
    // mutating surface refuses (commits, meta facets, DV attach, vacuum)
    // while the READ path keeps serving — the exact dual of
    // `table_protocol`, where a raised reader floor refuses reads while
    // metadata tooling keeps working. Floor restore (feature rollback) is
    // a latest-wins republish by a CAPABLE writer, after which the stale
    // engine's appends land again; both the refusal and the post-restore
    // append are observed in-query and declared in the output, and the
    // two committed generations' rollup is the data-derived oracle half.
    QDef(
      "table_protocol_writer",
      (s, dir) => {
        import graft.sources.CommitLog
        val root = freshRunTmpPath(s, "graft_protow_")
        val o = T.orders(s, dir)
          .select(col("o_orderkey").as("key"), col("o_orderstatus").as("status"),
            expr("cast(floor(o_totalprice * 1e2 + 0.5) as bigint)").as("cents"))
        // v1: the PRE-BUMP write — it must land (the floor is not yet raised).
        o.where(col("key") % 11L === 0L)
          .coalesce(1).write.mode("overwrite").parquet(s"$root/g=1")
        CommitLog.commit(root, 1L, "g=1")
        // A NEWER engine raises the writer floor for a feature it owns.
        CommitLog.setMinWriter(root, 2L, CommitLog.SupportedWriterVersion + 1L,
          asWriterVersion = CommitLog.SupportedWriterVersion + 1L)
        // This engine's append attempt must REFUSE — and land NOTHING.
        val refused =
          try { CommitLog.commitFiles(root, 3L, Nil, Nil); 0L }
          catch { case _: UnsupportedOperationException => 1L }
        require(refused == 1L,
          "a writer below the table's writer protocol must refuse to commit")
        require(CommitLog.latestVersion(root) == 2L,
          "the refused commit must not have landed anything")
        // The split-halves law: reads stay OPEN under a raised writer floor.
        require(CommitLog.readAsOf(s, root, Long.MaxValue).count() > 0L,
          "a raised WRITER floor must never gate the read path")
        // Feature rollback: a capable writer restores the floor; the
        // stale engine's append then lands.
        CommitLog.setMinWriter(root, 3L, CommitLog.SupportedWriterVersion,
          asWriterVersion = CommitLog.SupportedWriterVersion + 1L)
        o.where(col("key") % 11L === 1L)
          .coalesce(1).write.mode("overwrite").parquet(s"$root/g=2")
        CommitLog.commit(root, 4L, "g=2")
        CommitLog.readAsOf(s, root, Long.MaxValue)
          .groupBy("status")
          .agg(count(lit(1)).as("n"), sum("cents").cast("long").as("sum_cents"))
          .withColumn("refused_commit", lit(1L))
          .withColumn("writer_version", lit(CommitLog.SupportedWriterVersion))
          .withColumn("required_version",
            lit(CommitLog.SupportedWriterVersion + 1L))
          .orderBy("status")
      },
      Some("""SELECT o_orderstatus AS status, count(*) AS n,
             |  CAST(sum(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
             |    AS sum_cents,
             |  CAST(1 AS BIGINT) AS refused_commit,
             |  CAST(3 AS BIGINT) AS writer_version,
             |  CAST(4 AS BIGINT) AS required_version
             |FROM orders WHERE o_orderkey % 11 <= 1
             |GROUP BY o_orderstatus ORDER BY status""".stripMargin)),

    // DESCRIBE HISTORY — the table's audit surface (Delta's DESCRIBE
    // HISTORY reduced to the log essentials): one row per commit with the
    // in-commit timestamp, action counts, the txn marker where a writer
    // stamped one, and the running live-file count. Everything resolves
    // from the commitInfo HEAD LINES only — O(commits) driver metadata,
    // never an action list, never a data file — which is why auditing a
    // 100 TB table costs KB. The schedule exercises the three commit
    // kinds (append, compaction with removes, txn-stamped ingest), each
    // count derived from fixed arithmetic the oracle recomputes, and the
    // load-bearing require ties the ledger to REALITY: the log's own
    // snapshot resolution must agree with the history's cumulative
    // add−remove arithmetic.
    QDef(
      "table_history",
      (s, dir) => {
        import graft.sources.CommitLog
        val root = freshRunTmpPath(s, "graft_history_")
        val o = T.orders(s, dir)
          .select(col("o_orderkey").as("key"), col("o_totalprice").as("val"))
        def stage(v: Long, nFiles: Int): Seq[String] = {
          o.where(col("key") % 6L === (v - 1L) % 6L).repartition(nFiles)
            .write.mode("overwrite").parquet(s"$root/s$v")
          val d = java.nio.file.Paths.get(s"$root/s$v")
          val st = java.nio.file.Files.list(d)
          try {
            import scala.jdk.CollectionConverters._
            st.iterator().asScala.map(_.getFileName.toString)
              .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
              .map(n => s"s$v/$n").toVector.sorted
          } finally st.close()
        }
        // v1..v4: appends of (v % 3) + 1 files at stamp v·1000.
        val gens = (1L to 4L).map { v =>
          val adds = stage(v, ((v % 3L) + 1L).toInt)
          CommitLog.commitFiles(root, v, adds = adds, removes = Nil,
            ts = v * 1000L)
          v -> adds
        }.toMap
        // v5: compaction — one file replaces v1's two.
        CommitLog.commitFiles(root, 5L, adds = stage(5L, 1),
          removes = gens(1L), ts = 5000L)
        // v6: a txn-stamped ingest (the exactly-once writer's shape).
        require(CommitLog.tryCommit(root, 6L, "s6",
          addsKnown = Some(stage(6L, 1)), ts = 6000L, txn = "ingest/42"),
          "single-writer v6 commit lost a race on a fresh root")
        val h = CommitLog.history(root)
        require(h.map(_._1) == (1L to 6L), s"history out of order: $h")
        require(h.map(_._2) == (1L to 6L).map(_ * 1000L),
          "in-commit timestamps must surface exactly")
        import s.implicits._
        val hdf = h.toDF("version", "ts", "n_adds", "n_removes", "txn")
        val W = org.apache.spark.sql.expressions.Window.orderBy("version")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        val out = hdf.withColumn("n_live",
          sum(col("n_adds") - col("n_removes")).over(W).cast("long"))
          .orderBy("version")
        // The ledger must agree with the log's OWN snapshot resolution.
        require(CommitLog.filesAsOf(root, Long.MaxValue).size.toLong ==
          out.agg(max("n_live")).head.getLong(0),
          "history arithmetic diverged from snapshot resolution")
        out
      },
      Some("""WITH h AS (
             |  SELECT v,
             |    CASE WHEN v >= 5 THEN 1 ELSE (v % 3) + 1 END AS n_adds,
             |    CASE WHEN v = 5 THEN 2 ELSE 0 END AS n_removes,
             |    CASE WHEN v = 6 THEN 'ingest/42' ELSE '' END AS txn
             |  FROM generate_series(1, 6) t(v))
             |SELECT v AS version, CAST(v * 1000 AS BIGINT) AS ts,
             |  CAST(n_adds AS BIGINT) AS n_adds,
             |  CAST(n_removes AS BIGINT) AS n_removes, txn,
             |  CAST(sum(n_adds - n_removes) OVER (ORDER BY v) AS BIGINT) AS n_live
             |FROM h ORDER BY version""".stripMargin)),

    // same place Delta resolves snapshots), so a version-1 reader never
    // opens generation 2's files, and — the guarantee directory listing
    // cannot give — a data file not in the log does not exist
    // (uncommitted writer debris is invisible; CommitLogSpec proves it by
    // tampering). The DATA read stays one distributed parquet scan over
    // the resolved files (basePath keeps the g partition column).
    // Reconstruction is latest-generation-wins per key as ONE max-struct
    // aggregate (map-side partial, no window, no sort — generation is
    // distinct per key within a commit, so the struct compare on g
    // decides), then tombstones drop. Output pins the exact surviving
    // row set per version (count + key checksum + value-cents checksum);
    // the oracle reconstructs each snapshot via UNION ALL + anti-join.
    // At 100 TB: one partial-agg pass over the as-of file set; a
    // compacted base (table_compact) keeps the commit count bounded.
    QDef(
      "table_timetravel",
      (s, dir) => {
        val root = freshRunTmpPath(s, "graft_timetravel_")
        val o = T.orders(s, dir)
        // g=1: base snapshot (no tombstones in an initial commit).
        o.where(col("o_orderkey") % 4L =!= 0L)
          .select(col("o_orderkey").as("key"),
            col("o_totalprice").as("val"), lit(false).as("deleted"))
          .write.mode("overwrite").parquet(s"$root/g=1")
        graft.sources.CommitLog.commit(root, 1L, "g=1")
        // g=2: delta commit — upserts (×1.1 repriced) + delete markers.
        o.where(col("o_orderkey") % 3L === 0L)
          .select(col("o_orderkey").as("key"),
            rnd(col("o_totalprice") * 1.1, 2).as("val"),
            (col("o_orderkey") % 21L === 0L).as("deleted"))
          .write.mode("overwrite").parquet(s"$root/g=2")
        graft.sources.CommitLog.commit(root, 2L, "g=2")
        def asOf(v: Long) = graft.sources.CommitLog.readAsOf(s, root, v)
          .groupBy("key")
          .agg(max(struct(col("g"), col("deleted"), col("val"))).as("m"))
          .where(!col("m.deleted"))
          .agg(count(lit(1)).as("n_keys"),
            sum(col("key")).cast("long").as("sum_key"),
            sum(expr("cast(floor(m.val * 1e2 + 0.5) as bigint)"))
              .cast("long").as("sum_cents"))
          .select(lit(v).as("as_of"), col("n_keys"), col("sum_key"), col("sum_cents"))
        asOf(1L).unionAll(asOf(2L)).orderBy("as_of")
      },
      Some("""WITH g1 AS (
             |  SELECT o_orderkey AS key, o_totalprice AS val, FALSE AS deleted
             |  FROM orders WHERE o_orderkey % 4 <> 0),
             |g2 AS (
             |  SELECT o_orderkey AS key,
             |    floor((o_totalprice * 1.1) * 1e2 + 0.5) / 1e2 AS val,
             |    o_orderkey % 21 = 0 AS deleted
             |  FROM orders WHERE o_orderkey % 3 = 0),
             |snap1 AS (SELECT key, val FROM g1 WHERE NOT deleted),
             |snap2 AS (
             |  SELECT key, val FROM g2 WHERE NOT deleted
             |  UNION ALL
             |  SELECT g1.key, g1.val FROM g1
             |  WHERE NOT g1.deleted AND NOT EXISTS (
             |    SELECT 1 FROM g2 WHERE g2.key = g1.key)),
             |s1 AS (
             |  SELECT CAST(1 AS BIGINT) AS as_of, count(*) AS n_keys,
             |    CAST(sum(key) AS BIGINT) AS sum_key,
             |    CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |  FROM snap1),
             |s2 AS (
             |  SELECT CAST(2 AS BIGINT) AS as_of, count(*) AS n_keys,
             |    CAST(sum(key) AS BIGINT) AS sum_key,
             |    CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |  FROM snap2)
             |SELECT * FROM s1 UNION ALL SELECT * FROM s2 ORDER BY as_of""".stripMargin)),

    // Schema EVOLUTION across commits — the read contract that lets a
    // 100 TB table grow a column without rewriting history: commit 1
    // writes (key, val, ver); commit 2 ADDS a `tag` column. The snapshot
    // schema is the union across the as-of file set (CommitLog.readAsOf
    // merges schemas), with the new column NULL for pre-evolution files —
    // no backfill, no rewrite, old readers unaffected. Latest-commit-wins
    // reconstruction then rolls up by coalesce(tag, 'legacy'), so the
    // output pins exactly which keys still carry pre-evolution rows vs
    // evolved ones — a wrong merge (column dropped, or nulls filled
    // wrong) cannot hash-match. At scale: evolution is a metadata event;
    // the only cost is reading one more footer shape at planning.
    QDef(
      "table_schema_evolve",
      (s, dir) => {
        val root = freshRunTmpPath(s, "graft_evolve_")
        val o = T.orders(s, dir)
        o.where(col("o_orderkey") % 5L === 3L)
          .select(col("o_orderkey").as("key"),
            col("o_totalprice").as("val"), lit(1L).as("ver"))
          .coalesce(1).write.mode("overwrite").parquet(s"$root/g=1")
        graft.sources.CommitLog.commit(root, 1L, "g=1")
        o.where(col("o_orderkey") % 3L === 1L)
          .select(col("o_orderkey").as("key"),
            rnd(col("o_totalprice") * 1.05, 2).as("val"), lit(2L).as("ver"),
            concat(lit("p"), (col("o_orderkey") % 4L).cast("string")).as("tag"))
          .coalesce(1).write.mode("overwrite").parquet(s"$root/g=2")
        graft.sources.CommitLog.commit(root, 2L, "g=2")
        graft.sources.CommitLog.readAsOf(s, root, Long.MaxValue)
          .groupBy("key")
          .agg(max(struct(col("ver"), col("val"), col("tag"))).as("m"))
          .select(col("key"), col("m.val").as("val"), col("m.tag").as("tag"))
          .groupBy(coalesce(col("tag"), lit("legacy")).as("tag"))
          .agg(count(lit(1)).as("n_keys"),
            sum(expr("cast(floor(val * 1e2 + 0.5) as bigint)"))
              .cast("long").as("sum_cents"))
          .orderBy("tag")
      },
      Some("""WITH g1 AS (
             |  SELECT o_orderkey AS key, o_totalprice AS val,
             |    CAST(NULL AS VARCHAR) AS tag
             |  FROM orders WHERE o_orderkey % 5 = 3),
             |g2 AS (
             |  SELECT o_orderkey AS key,
             |    floor((o_totalprice * 1.05) * 1e2 + 0.5) / 1e2 AS val,
             |    'p' || CAST(o_orderkey % 4 AS VARCHAR) AS tag
             |  FROM orders WHERE o_orderkey % 3 = 1),
             |latest AS (
             |  SELECT key, val, tag FROM g2
             |  UNION ALL
             |  SELECT g1.key, g1.val, g1.tag FROM g1
             |  WHERE NOT EXISTS (SELECT 1 FROM g2 WHERE g2.key = g1.key))
             |SELECT coalesce(tag, 'legacy') AS tag, count(*) AS n_keys,
             |  CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |FROM latest GROUP BY 1 ORDER BY 1""".stripMargin)),

    // SHALLOW CLONE — the zero-copy table fork the commit log's by-
    // reference file resolution buys (Delta/Iceberg CLONE): the clone's
    // log points at the source's data files by absolute path (a few KB of
    // metadata for a table of any size — `require`d: no data directory
    // exists under the clone after cloning), then the clone DIVERGES with
    // its own upsert/tombstone commit while the source is untouched. The
    // generation column rides IN the rows (not directory names) because a
    // cloned snapshot spans roots. Both tables' latest snapshots are read
    // back through the same log resolution and must hash-match DuckDB's
    // independent reconstruction — a clone that mutated its source, or a
    // divergence that leaked into it, cannot pass. CommitLogSpec
    // additionally pins that VACUUM on the clone never deletes borrowed
    // source files.
    QDef(
      "table_clone",
      (s, dir) => {
        val src = freshRunTmpPath(s, "graft_clone_src_")
        val dst = freshRunTmpPath(s, "graft_clone_dst_")
        val o = T.orders(s, dir)
        o.where(col("o_orderkey") % 6L =!= 0L)
          .select(col("o_orderkey").as("key"), col("o_totalprice").as("val"),
            lit(false).as("deleted"), lit(1L).as("ver"))
          .coalesce(1).write.mode("overwrite").parquet(s"$src/g=1")
        graft.sources.CommitLog.commit(src, 1L, "g=1")
        graft.sources.CommitLog.cloneTable(src, dst)
        require(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dst/g=1")),
          "shallow clone copied data files — it must copy metadata only")
        // Diverge the clone: repriced upserts + tombstones, its own commit.
        o.where(col("o_orderkey") % 4L === 0L)
          .select(col("o_orderkey").as("key"),
            rnd(col("o_totalprice") * 1.2, 2).as("val"),
            (col("o_orderkey") % 8L === 0L).as("deleted"), lit(2L).as("ver"))
          .coalesce(1).write.mode("overwrite").parquet(s"$dst/g=2")
        graft.sources.CommitLog.commit(dst, 2L, "g=2")
        def snap(root: String, label: String) =
          graft.sources.CommitLog.readAsOf(s, root, Long.MaxValue)
            .groupBy("key")
            .agg(max(struct(col("ver"), col("deleted"), col("val"))).as("m"))
            .where(!col("m.deleted"))
            .agg(count(lit(1)).as("n_keys"),
              sum(col("key")).cast("long").as("sum_key"),
              sum(expr("cast(floor(m.val * 1e2 + 0.5) as bigint)"))
                .cast("long").as("sum_cents"))
            .select(lit(label).as("tbl"), col("n_keys"), col("sum_key"),
              col("sum_cents"))
        snap(src, "source").unionAll(snap(dst, "clone")).orderBy("tbl")
      },
      Some("""WITH g1 AS (
             |  SELECT o_orderkey AS key, o_totalprice AS val, FALSE AS deleted
             |  FROM orders WHERE o_orderkey % 6 <> 0),
             |g2 AS (
             |  SELECT o_orderkey AS key,
             |    floor((o_totalprice * 1.2) * 1e2 + 0.5) / 1e2 AS val,
             |    o_orderkey % 8 = 0 AS deleted
             |  FROM orders WHERE o_orderkey % 4 = 0),
             |src AS (SELECT key, val FROM g1 WHERE NOT deleted),
             |cl AS (
             |  SELECT key, val FROM g2 WHERE NOT deleted
             |  UNION ALL
             |  SELECT g1.key, g1.val FROM g1
             |  WHERE NOT g1.deleted AND NOT EXISTS (
             |    SELECT 1 FROM g2 WHERE g2.key = g1.key)),
             |a AS (
             |  SELECT 'source' AS tbl, count(*) AS n_keys,
             |    CAST(sum(key) AS BIGINT) AS sum_key,
             |    CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |  FROM src),
             |b AS (
             |  SELECT 'clone' AS tbl, count(*) AS n_keys,
             |    CAST(sum(key) AS BIGINT) AS sum_key,
             |    CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |  FROM cl)
             |SELECT * FROM a UNION ALL SELECT * FROM b ORDER BY tbl""".stripMargin)),

    // WRITE-AUDIT-PUBLISH [PK — Iceberg's WAP / Delta's blessed staging
    // pattern: new data lands on an AUDIT BRANCH first, quality gates run
    // against the branch snapshot, and only a passing batch is PUBLISHED —
    // a metadata-only fast-forward that adopts the audited files by
    // reference; readers on main can NEVER observe unaudited rows]. The
    // branch is a zero-copy shallow clone (cloneTable's absolute-path
    // by-reference log) holding METADATA ONLY; the staged batch's DATA
    // FILES land under MAIN'S OWN ROOT (a staging generation dir, the
    // Iceberg/Delta shape: data files live under the table location from
    // the start, branches and publishes are purely metadata), so main's
    // published snapshot never depends on a disposable branch directory
    // surviving. Both outcomes run: a clean batch audits green and
    // publishes (published snapshot ≡ audited branch snapshot, require'd
    // as aggregates) — publish adopts the IN-ROOT files and moves zero
    // bytes; and a POISONED batch (negative totals injected) trips the
    // audit and ABORTS — the abort deletes exactly the staged generation
    // dir plus the branch's log and provably cannot touch a file main
    // references (disjoint generation dirs). The visibility law is the
    // load-bearing require: main's version is UNCHANGED while the branch
    // stages and audits. Scale: the branch costs O(log) metadata
    // regardless of table size, the audit is one distributed scan of the
    // STAGED files only, and publish moves zero bytes — exactly why WAP
    // is the pattern for 100 TB ingest gates.
    QDef(
      "table_wap",
      (s, dir) => {
        import graft.sources.CommitLog
        val main = freshRunTmpPath(s, "graft_wap_main_")
        val br = freshRunTmpPath(s, "graft_wap_br1_")
        val br2 = freshRunTmpPath(s, "graft_wap_br2_")
        val o = T.orders(s, dir)
        def cents(df: org.apache.spark.sql.DataFrame, label: String) =
          df.agg(count(lit(1)).cast("long").as("n_rows"),
            sum(expr("cast(floor(val * 1e2 + 0.5) as bigint)"))
              .cast("long").as("sum_cents"))
            .select(lit(label).as("phase"), col("n_rows"), col("sum_cents"))
        def stagedFiles(sub: String): Seq[String] = {
          import scala.jdk.CollectionConverters._
          val base = java.nio.file.Paths.get(main)
          val st = java.nio.file.Files.walk(base.resolve(sub))
          try st.iterator().asScala
            .filter(p => p.getFileName.toString.endsWith(".parquet")
              && !p.getFileName.toString.startsWith("."))
            .map(p => base.relativize(p).toString).toVector.sorted
          finally st.close()
        }
        // v1 on main: the already-published base batch.
        o.where(col("o_orderkey") % 3L === 0L)
          .select(col("o_orderkey").as("key"), col("o_totalprice").as("val"))
          .coalesce(1).write.mode("overwrite").parquet(s"$main/gen1")
        CommitLog.commit(main, 1L, "gen1")
        // WAP cycle 1: branch (metadata), stage IN MAIN'S ROOT, audit
        // via the branch snapshot, publish by adopting the in-root files.
        CommitLog.cloneTable(main, br)
        o.where(col("o_orderkey") % 3L === 1L)
          .select(col("o_orderkey").as("key"), col("o_totalprice").as("val"))
          .coalesce(1).write.mode("overwrite").parquet(s"$main/staging/gen2")
        val gen2 = stagedFiles("staging/gen2")
        CommitLog.commitFiles(br, 2L, gen2.map(f => s"$main/$f"), Nil)
        val branchSnap = CommitLog.readAsOf(s, br, Long.MaxValue)
        val audit1 = branchSnap
          .agg(count(lit(1)).as("n"),
            sum(when(col("key").isNull || col("val") <= 0.0, 1L)
              .otherwise(0L)).as("bad")).head
        require(audit1.getLong(1) == 0L, "WAP audit failed on a clean batch")
        // Visibility law: main is untouched while the branch audits
        // (the staged files exist under main's root but NO main commit
        // references them yet — invisible to every main reader).
        require(CommitLog.latestVersion(main) == 1L,
          "staging on the audit branch leaked a commit into main")
        // Publish: adopt the audited IN-ROOT files — a metadata-only
        // fast-forward, no byte moves, no cross-root references.
        CommitLog.commitFiles(main, 2L, gen2, Nil)
        val published = CommitLog.readAsOf(s, main, Long.MaxValue)
        val pubAgg = cents(published, "3_published").head
        require(pubAgg.getLong(1) == audit1.getLong(0),
          "published snapshot diverged from the audited branch")
        // The branch is now disposable: delete it whole and re-read main —
        // the published snapshot must not depend on the branch surviving.
        graft.FsUtil.deleteRecursively(new java.io.File(br))
        require(cents(CommitLog.readAsOf(s, main, Long.MaxValue), "x")
            .head.getLong(1) == audit1.getLong(0),
          "published snapshot depended on the disposable branch directory")
        // WAP cycle 2: a poisoned batch trips the audit and aborts.
        CommitLog.cloneTable(main, br2)
        o.where(col("o_orderkey") % 3L === 2L)
          .select(col("o_orderkey").as("key"),
            when(col("o_orderkey") % 5L === 0L, -col("o_totalprice"))
              .otherwise(col("o_totalprice")).as("val"))
          .coalesce(1).write.mode("overwrite").parquet(s"$main/staging/gen3")
        val gen3 = stagedFiles("staging/gen3")
        CommitLog.commitFiles(br2, CommitLog.latestVersion(br2) + 1L,
          gen3.map(f => s"$main/$f"), Nil)
        val rejected = CommitLog.readAsOf(s, br2, Long.MaxValue)
          .where(col("val") <= 0.0)
        val rejAgg = cents(rejected, "4_audit_rejected").head
        require(rejAgg.getLong(1) > 0L, "the poisoned batch must trip the audit")
        // ABORT: delete exactly the staged generation + the branch log.
        // Disjointness law first: nothing main references is in the blast
        // radius (the same check a production abort runs before cleanup).
        val mainLive = CommitLog.filesAsOf(main, Long.MaxValue).toSet
        require(gen3.forall(f => !mainLive.contains(f)),
          "abort blast radius intersected main's live file set")
        graft.FsUtil.deleteRecursively(
          new java.io.File(s"$main/staging/gen3"))
        graft.FsUtil.deleteRecursively(new java.io.File(br2))
        require(CommitLog.latestVersion(main) == 2L,
          "an aborted audit branch mutated main's log")
        require(cents(CommitLog.readAsOf(s, main, Long.MaxValue), "x")
            .head.getLong(1) == audit1.getLong(0),
          "aborting the poisoned generation corrupted main")
        cents(o.where(col("o_orderkey") % 3L === 0L)
            .select(col("o_totalprice").as("val")), "1_base")
          .unionAll(cents(branchSnap.select(col("val")), "2_branch_audited"))
          .unionAll(cents(published.select(col("val")), "3_published"))
          .unionAll(s.range(1L).select(lit("4_audit_rejected").as("phase"),
            lit(rejAgg.getLong(1)).as("n_rows"),
            lit(rejAgg.getLong(2)).as("sum_cents")))
          .unionAll(cents(CommitLog.readAsOf(s, main, Long.MaxValue)
            .select(col("val")), "5_after_abort"))
          .orderBy("phase")
      },
      Some("""WITH a AS (
             |  SELECT o_orderkey AS key, o_totalprice AS val FROM orders
             |  WHERE o_orderkey % 3 = 0),
             |b AS (
             |  SELECT o_orderkey AS key, o_totalprice AS val FROM orders
             |  WHERE o_orderkey % 3 = 1),
             |c AS (
             |  SELECT o_orderkey AS key,
             |    CASE WHEN o_orderkey % 5 = 0 THEN -o_totalprice
             |         ELSE o_totalprice END AS val
             |  FROM orders WHERE o_orderkey % 3 = 2),
             |ab AS (SELECT val FROM a UNION ALL SELECT val FROM b)
             |SELECT '1_base' AS phase, CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
             |    AS sum_cents FROM a
             |UNION ALL
             |SELECT '2_branch_audited', CAST(count(*) AS BIGINT),
             |  CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
             |  FROM ab
             |UNION ALL
             |SELECT '3_published', CAST(count(*) AS BIGINT),
             |  CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
             |  FROM ab
             |UNION ALL
             |SELECT '4_audit_rejected', CAST(count(*) AS BIGINT),
             |  CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
             |  FROM c WHERE val <= 0.0
             |UNION ALL
             |SELECT '5_after_abort', CAST(count(*) AS BIGINT),
             |  CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
             |  FROM ab
             |ORDER BY phase""".stripMargin)),

    // CROSS-TABLE ATOMIC COMMIT [PK — the Iceberg REST-catalog multi-
    // table transaction shape: the nightly pipeline commits a CURVE table
    // and a derived per-object STATE table; with independent logs a
    // reader can land between the two commits and see them at MIXED
    // versions — state that does not aggregate its own curves]. The fix
    // is a CATALOG level above both logs: each txn PREPARES by
    // committing to the participant tables' own logs (those versions are
    // invisible to anyone resolving through the catalog), then ONE
    // setTags commit on the catalog publishes the whole pin-set (curves
    // → v, state → v) in a single atomic file-create — readers resolve
    // versions via CommitLog.pinnedVersions and can never observe the
    // pair torn. The query drives a full txn with BOTH crash points
    // exercised: after the curve prepare (catalog readers still get the
    // old consistent pair — require'd, with the load-bearing
    // counter-require that the TORN pair provably violates the
    // state-aggregates-curves invariant), and after both prepares but
    // before publish (still the old pair). Publish flips both pins at
    // once; a duplicate publish of the same txn version fails cleanly
    // (the create-if-absent log), which is what makes crash RECOVERY
    // idempotent: re-drive the txn, and whoever publishes second gets a
    // conflict, not a double-apply. Scale: the catalog commit is O(1)
    // metadata regardless of how many tables or bytes the txn touched —
    // the same reason a REST catalog can coordinate thousand-table
    // transactions.
    QDef(
      "table_txn_multi",
      (s, dir) => {
        import graft.sources.CommitLog
        val root = freshRunTmpPath(s, "graft_txnmulti_")
        val (curves, state, cat) =
          (s"$root/curves", s"$root/state", s"$root/catalog")
        val o = T.orders(s, dir)
          .select(col("o_orderkey").as("key"), col("o_totalprice").as("val"))
        def stateOf(df: org.apache.spark.sql.DataFrame) =
          df.groupBy((col("key") % 8L).as("bucket"))
            .agg(count(lit(1)).as("n"),
              sum(expr("cast(floor(val * 1e2 + 0.5) as bigint)"))
                .cast("long").as("cents"))
        // v1 on both tables + the catalog pinning the pair (1, 1).
        o.where(col("key") % 3L =!= 0L)
          .coalesce(2).write.mode("overwrite").parquet(s"$curves/gen1")
        CommitLog.commit(curves, 1L, "gen1")
        stateOf(CommitLog.readAsOf(s, curves, 1L))
          .coalesce(1).write.mode("overwrite").parquet(s"$state/gen1")
        CommitLog.commit(state, 1L, "gen1")
        CommitLog.setTags(cat, 1L, Seq("curves" -> 1L, "state" -> 1L))
        def pair(): (Long, Long) = {
          val p = CommitLog.pinnedVersions(cat)
          (p("curves"), p("state"))
        }
        def invariant(vc: Long, vs: Long): Boolean = {
          val fromCurves = stateOf(CommitLog.readAsOf(s, curves, vc))
          val stored = CommitLog.readAsOf(s, state, vs)
            .select("bucket", "n", "cents")
          graft.Laws.symDiff(fromCurves, stored).isEmpty
        }
        // TXN: prepare the curve append (the nightly batch).
        o.where(col("key") % 3L === 0L)
          .coalesce(1).write.mode("overwrite").parquet(s"$curves/gen2")
        CommitLog.commit(curves, 2L, "gen2")
        // CRASH POINT 1 — between the two table commits. Catalog readers
        // still resolve the OLD pair, which still satisfies the invariant;
        // the torn pair provably does not (the fixture's load-bearing
        // counter-require: pinning is correctness, not hygiene).
        require(pair() == (1L, 1L),
          "a table prepare leaked into the catalog before publish")
        require(invariant(1L, 1L),
          "the catalog-resolved pair broke the state≡agg(curves) invariant")
        require(!invariant(2L, 1L),
          "fixture must demonstrate the torn pair is actually inconsistent")
        // Prepare the state refresh (full recompute at curves v2; the
        // state table's generation is replaced, not appended).
        stateOf(CommitLog.readAsOf(s, curves, 2L))
          .coalesce(1).write.mode("overwrite").parquet(s"$state/gen2")
        CommitLog.commit(state, 2L, "gen2",
          removes = CommitLog.filesAsOf(state, 1L))
        // CRASH POINT 2 — both prepared, publish not yet run: readers
        // still get the old pair, still consistent.
        require(pair() == (1L, 1L),
          "an unpublished txn became visible through the catalog")
        require(invariant(1L, 1L), "pre-publish reads lost consistency")
        // PUBLISH: both pins flip in one atomic catalog commit.
        CommitLog.setTags(cat, 2L, Seq("curves" -> 2L, "state" -> 2L))
        require(pair() == (2L, 2L), "publish did not advance the pin pair")
        require(invariant(2L, 2L),
          "the published pair broke the state≡agg(curves) invariant")
        // Idempotent recovery: a second publish of the SAME txn version
        // conflicts instead of double-applying.
        val dup = try {
          CommitLog.setTags(cat, 2L, Seq("curves" -> 2L, "state" -> 2L))
          false
        } catch { case _: IllegalStateException => true }
        require(dup, "a duplicate publish must conflict, not double-apply")
        // Phase snapshots stay LAZY (round-17 fixed-overhead audit: the
        // eager form ran six tiny driver jobs; the declared output's one
        // materialization now computes all three phases). Time travel
        // keeps v1 readable after the v2 removes — no vacuum ran.
        def snap(label: String, vc: Long, vs: Long) =
          CommitLog.readAsOf(s, curves, vc)
            .agg(count(lit(1)).cast("long").as("n_rows"))
            .crossJoin(CommitLog.readAsOf(s, state, vs)
              .agg(count(lit(1)).cast("long").as("n_buckets"),
                sum("cents").cast("long").as("sum_cents")))
            .select(lit(label).as("phase"), lit(vc).as("curves_v"),
              lit(vs).as("state_v"), col("n_rows"), col("n_buckets"),
              col("sum_cents"))
        snap("1_initial", 1L, 1L)
          .unionAll(snap("2_prepared_crash", 1L, 1L))
          .unionAll(snap("3_published", 2L, 2L))
          .orderBy("phase")
      },
      Some("""WITH c1 AS (
             |  SELECT o_orderkey AS key, o_totalprice AS val FROM orders
             |  WHERE o_orderkey % 3 <> 0),
             |call AS (
             |  SELECT o_orderkey AS key, o_totalprice AS val FROM orders),
             |s1 AS (
             |  SELECT key % 8 AS bucket,
             |    CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
             |      AS cents
             |  FROM c1 GROUP BY 1),
             |s2 AS (
             |  SELECT key % 8 AS bucket,
             |    CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
             |      AS cents
             |  FROM call GROUP BY 1)
             |SELECT '1_initial' AS phase, CAST(1 AS BIGINT) AS curves_v,
             |  CAST(1 AS BIGINT) AS state_v,
             |  (SELECT count(*) FROM c1) AS n_rows,
             |  (SELECT count(*) FROM s1) AS n_buckets,
             |  (SELECT CAST(sum(cents) AS BIGINT) FROM s1) AS sum_cents
             |UNION ALL
             |SELECT '2_prepared_crash', 1, 1,
             |  (SELECT count(*) FROM c1), (SELECT count(*) FROM s1),
             |  (SELECT CAST(sum(cents) AS BIGINT) FROM s1)
             |UNION ALL
             |SELECT '3_published', 2, 2,
             |  (SELECT count(*) FROM call), (SELECT count(*) FROM s2),
             |  (SELECT CAST(sum(cents) AS BIGINT) FROM s2)
             |ORDER BY phase""".stripMargin)),

    // VACUUM — the physical-cleanup half of the commit-log story
    // (table_timetravel reads BY the log; vacuum deletes what the log does
    // not reference): two committed generations plus a whole generation
    // WRITTEN BUT NEVER COMMITTED — the crashed-writer failure mode vacuum
    // exists for. CommitLog.vacuum (sources/CommitLog.scala) diffs the
    // directory listing against the log's add-set and deletes the orphans
    // — driver-side metadata + file ops, exactly Delta's VACUUM. The
    // query's two proofs: EFFECTIVENESS is a hard `require` on the vacuum
    // report (coalesce(1) writes make the counts exact: 2 live files kept,
    // 1 orphan removed — a miscounting vacuum fails the query, not just a
    // spec); SAFETY is the oracle — both as-of snapshots are read AFTER
    // the vacuum and must still hash-match DuckDB's reconstruction from
    // orders alone, so a vacuum that touched one live file cannot pass.
    // CommitLogSpec additionally pins the FS-level before/after listing.
    // At 100 TB the decision set is the same log-vs-listing diff; only
    // the deletes fan out.
    QDef(
      "table_vacuum",
      (s, dir) => {
        val root = freshRunTmpPath(s, "graft_vacuum_")
        val o = T.orders(s, dir)
        o.where(col("o_orderkey") % 7L =!= 0L)
          .select(col("o_orderkey").as("key"),
            col("o_totalprice").as("val"), lit(false).as("deleted"))
          .coalesce(1).write.mode("overwrite").parquet(s"$root/g=1")
        graft.sources.CommitLog.commit(root, 1L, "g=1")
        o.where(col("o_orderkey") % 5L === 0L)
          .select(col("o_orderkey").as("key"),
            rnd(col("o_totalprice") * 0.9, 2).as("val"),
            (col("o_orderkey") % 35L === 0L).as("deleted"))
          .coalesce(1).write.mode("overwrite").parquet(s"$root/g=2")
        graft.sources.CommitLog.commit(root, 2L, "g=2")
        // Crashed writer: a full generation on disk, no commit.
        o.where(col("o_orderkey") % 11L === 0L)
          .select(col("o_orderkey").as("key"),
            col("o_totalprice").as("val"), lit(false).as("deleted"))
          .coalesce(1).write.mode("overwrite").parquet(s"$root/g=3")
        val (kept, removed) = graft.sources.CommitLog.vacuum(root)
        require(kept == 2L && removed == 1L,
          s"vacuum report ($kept kept, $removed removed) != expected (2, 1)")
        def asOf(v: Long) = graft.sources.CommitLog.readAsOf(s, root, v)
          .groupBy("key")
          .agg(max(struct(col("g"), col("deleted"), col("val"))).as("m"))
          .where(!col("m.deleted"))
          .agg(count(lit(1)).as("n_keys"),
            sum(col("key")).cast("long").as("sum_key"),
            sum(expr("cast(floor(m.val * 1e2 + 0.5) as bigint)"))
              .cast("long").as("sum_cents"))
          .select(lit(v).as("as_of"), col("n_keys"), col("sum_key"), col("sum_cents"))
        asOf(1L).unionAll(asOf(2L)).orderBy("as_of")
      },
      Some("""WITH g1 AS (
             |  SELECT o_orderkey AS key, o_totalprice AS val, FALSE AS deleted
             |  FROM orders WHERE o_orderkey % 7 <> 0),
             |g2 AS (
             |  SELECT o_orderkey AS key,
             |    floor((o_totalprice * 0.9) * 1e2 + 0.5) / 1e2 AS val,
             |    o_orderkey % 35 = 0 AS deleted
             |  FROM orders WHERE o_orderkey % 5 = 0),
             |snap1 AS (SELECT key, val FROM g1 WHERE NOT deleted),
             |snap2 AS (
             |  SELECT key, val FROM g2 WHERE NOT deleted
             |  UNION ALL
             |  SELECT g1.key, g1.val FROM g1
             |  WHERE NOT g1.deleted AND NOT EXISTS (
             |    SELECT 1 FROM g2 WHERE g2.key = g1.key)),
             |s1 AS (
             |  SELECT CAST(1 AS BIGINT) AS as_of, count(*) AS n_keys,
             |    CAST(sum(key) AS BIGINT) AS sum_key,
             |    CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |  FROM snap1),
             |s2 AS (
             |  SELECT CAST(2 AS BIGINT) AS as_of, count(*) AS n_keys,
             |    CAST(sum(key) AS BIGINT) AS sum_key,
             |    CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |  FROM snap2)
             |SELECT * FROM s1 UNION ALL SELECT * FROM s2 ORDER BY as_of""".stripMargin)),

    // CHANGE FEED — the incremental-consumer read the remove-action log
    // enables (Delta CDF's snapshot-diff shape): version 2 APPENDS a
    // generation (feed: inserts only — `require`d), version 3 REWRITES it
    // repriced (adds g=3, removes g=2 in ONE atomic commit; feed: deletes
    // of the old rows + inserts of the new). CommitLog.changesAt resolves
    // each version's (added, removed) file sets purely from the log — the
    // downstream reader then scans ONLY the changed files, never the
    // table: at 100 TB a consumer replaying version N reads
    // O(files-changed-at-N), which is what makes incremental downstream
    // pipelines (index maintenance, aggregate refresh, replication)
    // affordable. Rollups are per-(version, change) with the cents
    // fixed-point, so a feed that misses a file, double-counts a rewrite,
    // or mixes up adds/removes cannot hash-match.
    QDef(
      "table_changefeed",
      (s, dir) => {
        import graft.sources.CommitLog
        val root = freshRunTmpPath(s, "graft_cdf_")
        val o = T.orders(s, dir)
        o.where(col("o_orderkey") % 2L === 1L)
          .select(col("o_orderkey").as("key"), col("o_totalprice").as("val"))
          .coalesce(1).write.mode("overwrite").parquet(s"$root/g=1")
        CommitLog.commit(root, 1L, "g=1")
        o.where(col("o_orderkey") % 6L === 2L)
          .select(col("o_orderkey").as("key"), col("o_totalprice").as("val"))
          .coalesce(1).write.mode("overwrite").parquet(s"$root/g=2")
        CommitLog.commit(root, 2L, "g=2")
        o.where(col("o_orderkey") % 6L === 2L)
          .select(col("o_orderkey").as("key"),
            rnd(col("o_totalprice") * 1.05, 2).as("val"))
          .coalesce(1).write.mode("overwrite").parquet(s"$root/g=3")
        CommitLog.commit(root, 3L, "g=3",
          removes = CommitLog.filesAsOf(root, 2L).filter(_.startsWith("g=2/")))
        require(CommitLog.changesAt(root, 2L)._2.isEmpty,
          "an append's change feed must contain no deletes")
        val (a3, r3) = CommitLog.changesAt(root, 3L)
        require(a3.nonEmpty && r3.nonEmpty,
          "a rewrite's change feed must contain both inserts and deletes")
        def rollup(v: Long, change: String, fs: Seq[String]) =
          s.read.option("basePath", root)
            .parquet(fs.map(f => s"$root/$f"): _*)
            .agg(count(lit(1)).as("n"),
              sum("key").cast("long").as("sum_key"),
              sum(expr("cast(floor(val * 1e2 + 0.5) as bigint)"))
                .cast("long").as("sum_cents"))
            .select(lit(v).as("version"), lit(change).as("change"),
              col("n"), col("sum_key"), col("sum_cents"))
        val feeds = (2L to CommitLog.latestVersion(root)).flatMap { v =>
          val (adds, removes) = CommitLog.changesAt(root, v)
          (if (adds.nonEmpty) Seq(rollup(v, "insert", adds)) else Nil) ++
            (if (removes.nonEmpty) Seq(rollup(v, "delete", removes)) else Nil)
        }
        feeds.reduce(_ unionAll _).orderBy("version", "change")
      },
      Some("""WITH g2 AS (
             |  SELECT o_orderkey AS key, o_totalprice AS val
             |  FROM orders WHERE o_orderkey % 6 = 2),
             |g3 AS (
             |  SELECT key, floor((val * 1.05) * 1e2 + 0.5) / 1e2 AS val FROM g2)
             |SELECT CAST(2 AS BIGINT) AS version, 'insert' AS change,
             |  count(*) AS n, CAST(sum(key) AS BIGINT) AS sum_key,
             |  CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |FROM g2
             |UNION ALL
             |SELECT CAST(3 AS BIGINT), 'delete', count(*), CAST(sum(key) AS BIGINT),
             |  CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
             |FROM g2
             |UNION ALL
             |SELECT CAST(3 AS BIGINT), 'insert', count(*), CAST(sum(key) AS BIGINT),
             |  CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
             |FROM g3
             |ORDER BY version, change""".stripMargin)),

    // CDC APPLY — the downstream half of the change feed: an independent
    // REPLICA table maintained purely from the source's row-level change
    // feed, never from a source re-scan (the Delta CDF → downstream MERGE
    // replication pattern). Source history: v1 seeds 4 range-bucketed
    // files with min/max key stats, v2 appends a cohort, v3 is a
    // retention purge (DELETE key < k1) — the low bucket drops as PURE
    // metadata while the straddling append file is rewritten. The feed is
    // file-level (changesAt), so the replica derives the NET row deltas
    // by differencing added-file rows against removed-file rows
    // (exceptAll both ways — a rewritten-but-unchanged row cancels out;
    // CDF volume is O(touched files), never O(table)). Apply is a
    // stats-pruned copy-on-write merge on the replica's OWN layout (5
    // bucketed files — deliberately misaligned with the source's 4): only
    // replica files whose [min,max] intersects the net-delete key range
    // rewrite; the rest carry as metadata, require'd non-empty at v3, and
    // a pure append (v2) rewrites nothing, require'd too. After every
    // apply the replica must equal the source snapshot EXACTLY —
    // exceptAll in both directions, require'd — which is the whole
    // replication contract. At 100 TB: feed extraction reads only changed
    // files, the apply rewrites only stat-intersecting replica files, and
    // the equality law runs on the replica's own commit versions, so a
    // replica can trail by any lag and still converge deterministically.
    QDef(
      "table_apply_cdf",
      (s, dir) => {
        import graft.sources.CommitLog
        val src = freshRunTmpPath(s, "graft_cdcsrc_")
        val dst = freshRunTmpPath(s, "graft_cdcdst_")
        val o = T.orders(s, dir)
          .select(col("o_orderkey").as("key"), col("o_totalprice").as("val"))
        val mx = o.agg(max("key")).head.getLong(0)
        val k1 = mx / 4L + 1L // retention boundary: v3 purges key < k1
        // Stage `df` under `root/gen` as `buckets` range files and return
        // their table-relative paths with (min,max) key stats — the
        // add-action manifest a stats-carrying writer publishes.
        def stage(df: org.apache.spark.sql.DataFrame, root: String, gen: String,
            buckets: Int): Map[String, (Long, Long)] = {
          val w = mx / buckets + 1L
          // Gen dirs are k=v-form partition directories (string-valued) so
          // every file across the table shares ONE two-level partition
          // scheme (g, b) — mixed non-partition dir levels make Spark's
          // partition discovery refuse the multi-gen reads below.
          df.withColumn("b", expr(s"key div ${w}L"))
            .repartition(buckets, col("b"))
            .write.partitionBy("b").mode("overwrite").parquet(s"$root/g=$gen")
          s.read.option("basePath", s"$root/g=$gen").parquet(s"$root/g=$gen")
            .select(col("key"), col("_metadata.file_path").as("fp"))
            .groupBy("fp").agg(min("key").as("mn"), max("key").as("mxk"))
            .collect() // bounded: one row per staged FILE
            .map(r => CommitLog.relToRoot(root, r.getString(0)) ->
              (r.getLong(1), r.getLong(2)))
            .toMap
        }
        def commitStats(root: String, v: Long, adds: Map[String, (Long, Long)],
            removes: Seq[String]): Unit =
          CommitLog.commitFiles(root, v, adds.keys.toSeq.sorted, removes,
            stats = adds)
        def rowsOf(root: String, fs: Seq[String]): org.apache.spark.sql.DataFrame =
          s.read.option("basePath", root)
            .parquet(fs.map(f => s"$root/$f"): _*).select("key", "val")
        // ---- source history --------------------------------------------
        commitStats(src, 1L, stage(o.where(col("key") % 2L === 1L), src, "s1", 4), Nil)
        commitStats(src, 2L, stage(o.where(col("key") % 6L === 2L), src, "s2", 1), Nil)
        val live2 = CommitLog.filesAsOf(src, 2L)
        val victims = CommitLog.filesAsOfPruned(src, 2L, 1L, k1 - 1L)
        val survivors3 = rowsOf(src, victims).where(col("key") >= k1)
        commitStats(src, 3L, stage(survivors3, src, "s3", 1), victims)
        require(victims.toSet.subsetOf(live2.toSet) && victims.size < live2.size,
          "the purge must touch a strict subset of the live set (stats pruning)")
        // ---- replica: seed from v1, then replay the feed ---------------
        commitStats(dst, 1L, stage(CommitLog.readAsOf(s, src, 1L)
          .select("key", "val"), dst, "r1", 5), Nil)
        (2L to 3L).foreach { v =>
          val (adds, rems) = CommitLog.changesAt(src, v)
          val ins = if (adds.isEmpty) o.limit(0) else rowsOf(src, adds)
          val del = if (rems.isEmpty) o.limit(0) else rowsOf(src, rems)
          val (netIns, netDel) = graft.Laws.netDelta(ins, del)
          val delRange = netDel.agg(min("key"), max("key")).head
          if (delRange.isNullAt(0)) {
            // pure append: zero replica rewrites by construction
            commitStats(dst, v, stage(netIns, dst, s"r${v}a", 1), Nil)
          } else {
            val hit = CommitLog.filesAsOfPruned(dst, v - 1L,
              delRange.getLong(0), delRange.getLong(1))
            require(hit.size < CommitLog.filesAsOf(dst, v - 1L).size,
              "stats pruning must carry at least one untouched replica file")
            val kept = rowsOf(dst, hit)
              .join(netDel.select("key"), Seq("key"), "left_anti")
              .unionAll(netIns)
            commitStats(dst, v, stage(kept, dst, s"r${v}m", 2), hit)
          }
          val (rep, sv) = (CommitLog.readAsOf(s, dst, v).select("key", "val"),
            CommitLog.readAsOf(s, src, v).select("key", "val"))
          require(graft.Laws.symDiff(rep, sv).isEmpty,
            s"replica must equal source snapshot exactly at applied version $v")
        }
        // ---- output: per-version replica rollup (oracled) --------------
        (1L to 3L).map { v =>
          CommitLog.readAsOf(s, dst, v)
            .agg(count(lit(1)).as("n"), sum("key").cast("long").as("sum_key"),
              sum(expr("cast(floor(val * 1e2 + 0.5) as bigint)"))
                .cast("long").as("sum_cents"))
            .select(lit(v).as("version"), col("n"), col("sum_key"),
              col("sum_cents"))
        }.reduce(_ unionAll _).orderBy("version")
      },
      Some("""WITH k AS (
             |  SELECT (SELECT max(o_orderkey) FROM orders) // 4 + 1 AS k1),
             |v1 AS (
             |  SELECT o_orderkey AS key, o_totalprice AS val
             |  FROM orders WHERE o_orderkey % 2 = 1),
             |v2 AS (
             |  SELECT * FROM v1
             |  UNION ALL
             |  SELECT o_orderkey, o_totalprice
             |  FROM orders WHERE o_orderkey % 6 = 2),
             |v3 AS (SELECT * FROM v2 WHERE key >= (SELECT k1 FROM k))
             |SELECT CAST(1 AS BIGINT) AS version, count(*) AS n,
             |  CAST(sum(key) AS BIGINT) AS sum_key,
             |  CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |FROM v1
             |UNION ALL
             |SELECT CAST(2 AS BIGINT), count(*), CAST(sum(key) AS BIGINT),
             |  CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
             |FROM v2
             |UNION ALL
             |SELECT CAST(3 AS BIGINT), count(*), CAST(sum(key) AS BIGINT),
             |  CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
             |FROM v3
             |ORDER BY version""".stripMargin)),

    // RESTORE — the time-travel WRITE side (Delta RESTORE TABLE … VERSION
    // AS OF): version 2 is the bad deploy (an overwrite that repriced and
    // dropped rows — adds g=2, removes the base's files, atomically);
    // version 3 UNDOES it as a PURE-METADATA commit via commitFiles:
    // re-add version 1's files, remove the bad snapshot's. Zero bytes of
    // data move — `require`d both ways (the restored file set IS v1's,
    // and no g=3 data directory exists), which is the whole point at
    // 100 TB: rollback is O(files) log metadata, not a table rewrite.
    // The restore works because the removed base files are TOMBSTONES
    // still on disk (vacuum retention hasn't expired them) — restore
    // after an expired vacuum is impossible, the same trade Delta
    // documents. History stays intact: as-of 2 still serves the bad
    // snapshot (for audit), and all three snapshots must hash-match
    // DuckDB's independent reconstruction.
    QDef(
      "table_restore",
      (s, dir) => {
        import graft.sources.CommitLog
        val root = freshRunTmpPath(s, "graft_restore_")
        val o = T.orders(s, dir)
        o.where(col("o_orderkey") % 3L === 1L)
          .select(col("o_orderkey").as("key"), col("o_totalprice").as("val"))
          .coalesce(1).write.mode("overwrite").parquet(s"$root/g=1")
        CommitLog.commit(root, 1L, "g=1")
        // The bad deploy: overwrite with a repriced SUBSET (rows lost).
        o.where(col("o_orderkey") % 6L === 1L)
          .select(col("o_orderkey").as("key"),
            rnd(col("o_totalprice") * 0.5, 2).as("val"))
          .coalesce(1).write.mode("overwrite").parquet(s"$root/g=2")
        CommitLog.commit(root, 2L, "g=2",
          removes = CommitLog.filesAsOf(root, 1L))
        // RESTORE to version 1: metadata-only commit, no data written.
        val v1Files = CommitLog.filesAsOf(root, 1L)
        val live2 = CommitLog.filesAsOf(root, 2L)
        CommitLog.commitFiles(root, 3L,
          adds = v1Files.filterNot(live2.toSet),
          removes = live2.filterNot(v1Files.toSet))
        require(CommitLog.filesAsOf(root, 3L).toSet == v1Files.toSet,
          "restore must reproduce exactly the version-1 file set")
        require(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/g=3")),
          "restore wrote data files — it must be metadata-only")
        def asOf(v: Long) = CommitLog.readAsOf(s, root, v)
          .agg(count(lit(1)).as("n_keys"),
            sum(col("key")).cast("long").as("sum_key"),
            sum(expr("cast(floor(val * 1e2 + 0.5) as bigint)"))
              .cast("long").as("sum_cents"))
          .select(lit(v).as("as_of"), col("n_keys"), col("sum_key"),
            col("sum_cents"))
        asOf(1L).unionAll(asOf(2L)).unionAll(asOf(3L)).orderBy("as_of")
      },
      Some("""WITH g1 AS (
             |  SELECT o_orderkey AS key, o_totalprice AS val
             |  FROM orders WHERE o_orderkey % 3 = 1),
             |g2 AS (
             |  SELECT o_orderkey AS key,
             |    floor((o_totalprice * 0.5) * 1e2 + 0.5) / 1e2 AS val
             |  FROM orders WHERE o_orderkey % 6 = 1),
             |roll AS (
             |  SELECT CAST(1 AS BIGINT) AS as_of, count(*) AS n_keys,
             |    CAST(sum(key) AS BIGINT) AS sum_key,
             |    CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |  FROM g1
             |  UNION ALL
             |  SELECT CAST(2 AS BIGINT), count(*), CAST(sum(key) AS BIGINT),
             |    CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
             |  FROM g2
             |  UNION ALL
             |  SELECT CAST(3 AS BIGINT), count(*), CAST(sum(key) AS BIGINT),
             |    CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
             |  FROM g1)
             |SELECT * FROM roll ORDER BY as_of""".stripMargin)),

    // INCREMENTAL VIEW MAINTENANCE — what the change feed is FOR: a
    // downstream per-bucket aggregate view is maintained across three
    // table versions (base, append, repriced rewrite) by folding each
    // version's feed as SIGNED deltas (+rollup(added files),
    // −rollup(removed files)) into the view state — count and sum are
    // self-maintainable aggregates, so refresh cost is O(changed files)
    // per version, NEVER a table rescan. The refreshed view is
    // `require`d equal to a from-scratch recomputation of the final
    // snapshot (the IVM correctness contract, checked in-query on the
    // 8-row view), and the declared output must additionally hash-match
    // DuckDB's independent full recompute. At 100 TB this is how
    // dashboard aggregates, feature stores, and training-mix statistics
    // stay current against a mutating lake: versions arrive, deltas
    // fold, the base table is never re-read.
    QDef(
      "table_incr_refresh",
      (s, dir) => {
        import graft.sources.CommitLog
        val root = freshRunTmpPath(s, "graft_ivm_")
        val o = T.orders(s, dir)
        o.where(col("o_orderkey") % 2L === 1L)
          .select(col("o_orderkey").as("key"), col("o_totalprice").as("val"))
          .coalesce(1).write.mode("overwrite").parquet(s"$root/g=1")
        CommitLog.commit(root, 1L, "g=1")
        o.where(col("o_orderkey") % 6L === 2L)
          .select(col("o_orderkey").as("key"), col("o_totalprice").as("val"))
          .coalesce(1).write.mode("overwrite").parquet(s"$root/g=2")
        CommitLog.commit(root, 2L, "g=2")
        o.where(col("o_orderkey") % 6L === 2L)
          .select(col("o_orderkey").as("key"),
            rnd(col("o_totalprice") * 1.05, 2).as("val"))
          .coalesce(1).write.mode("overwrite").parquet(s"$root/g=3")
        CommitLog.commit(root, 3L, "g=3",
          removes = CommitLog.filesAsOf(root, 2L).filter(_.startsWith("g=2/")))
        def delta(fs: Seq[String], sign: Long) =
          s.read.option("basePath", root)
            .parquet(fs.map(f => s"$root/$f"): _*)
            .groupBy((col("key") % 8L).as("bucket"))
            .agg((count(lit(1)) * lit(sign)).as("dn"),
              (sum(expr("cast(floor(val * 1e2 + 0.5) as bigint)")) * lit(sign))
                .cast("long").as("dcents"))
        var view = delta(CommitLog.filesAsOf(root, 1L), 1L).localCheckpoint()
        (2L to CommitLog.latestVersion(root)).foreach { v =>
          val (adds, removes) = CommitLog.changesAt(root, v)
          val parts = Seq(view) ++
            (if (adds.nonEmpty) Seq(delta(adds, 1L)) else Nil) ++
            (if (removes.nonEmpty) Seq(delta(removes, -1L)) else Nil)
          view = parts.reduce(_ unionAll _)
            .groupBy("bucket")
            .agg(sum("dn").cast("long").as("dn"),
              sum("dcents").cast("long").as("dcents"))
            .localCheckpoint()
        }
        // IVM contract: the delta-folded view equals full recomputation.
        val refreshed = view
          .select(col("bucket"), col("dn").as("n"), col("dcents").as("cents"))
        val full = s.read.option("basePath", root)
          .parquet(CommitLog.filesAsOf(root, Long.MaxValue)
            .map(f => s"$root/$f"): _*)
          .groupBy((col("key") % 8L).as("bucket"))
          .agg(count(lit(1)).as("n"),
            sum(expr("cast(floor(val * 1e2 + 0.5) as bigint)"))
              .cast("long").as("cents"))
        def toMap(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
        require(toMap(refreshed) == toMap(full),
          "incrementally refreshed view diverged from full recomputation")
        refreshed.orderBy("bucket")
      },
      Some("""WITH snap AS (
             |  SELECT o_orderkey AS key, o_totalprice AS val
             |  FROM orders WHERE o_orderkey % 2 = 1
             |  UNION ALL
             |  SELECT o_orderkey,
             |    floor((o_totalprice * 1.05) * 1e2 + 0.5) / 1e2
             |  FROM orders WHERE o_orderkey % 6 = 2)
             |SELECT key % 8 AS bucket, count(*) AS n,
             |  CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT) AS cents
             |FROM snap GROUP BY 1 ORDER BY 1""".stripMargin)),

    // JOIN MATERIALIZED VIEW with FILE-LEVEL LINEAGE [PK — the join twin
    // of table_incr_refresh's aggregate IVM, and the shape warehouse
    // matview engines actually maintain: fact ⋈ broadcast dim, refreshed
    // per fact COMMIT by joining only the commit's changed files]. The
    // lineage rule does the heavy lifting: each fact data file maps to
    // exactly ONE view file (name = md5 of the fact file's table-relative
    // path), so a fact REMOVE translates to a view remove by pure path
    // arithmetic — no diffing, no scan. Three fact versions run (base,
    // append, copy-on-write reprice rewrite); each refresh reads O(that
    // commit's files) and commits the view transactionally at the SAME
    // version number. The IVM contract is require'd at the head: the
    // maintained view ≡ a from-scratch recompute of fact ⋈ dim, as ONE
    // symmetric-difference action. History pins the refresh SHAPE: the
    // rewrite's view commit removes exactly the one lineage-mapped file.
    // At 100 TB this is how a curated join stays current: the dim
    // broadcasts, the fact never re-scans, removals are metadata.
    QDef(
      "table_matview_join",
      (s, dir) => {
        import graft.sources.CommitLog
        import scala.jdk.CollectionConverters._
        val fact = freshRunTmpPath(s, "graft_mvj_fact_")
        val view = freshRunTmpPath(s, "graft_mvj_view_")
        val o = T.orders(s, dir)
        val dim = T.customer(s, dir)
          .select(col("c_custkey"), col("c_nationkey"))
        def md5hex(t: String): String =
          java.security.MessageDigest.getInstance("MD5").digest(
            t.getBytes("UTF-8")).map("%02x".format(_)).mkString
        def partsOf(root: String, gdir: String): Seq[String] = {
          val st = java.nio.file.Files.list(
            java.nio.file.Paths.get(root, gdir))
          val names = try st.iterator().asScala
            .map(_.getFileName.toString)
            .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
            .toSeq.sorted finally st.close()
          names.map(n => s"$gdir/$n")
        }
        def viewFileOf(factRel: String): String = s"m=${md5hex(factRel)}"
        // Refresh the view for fact version v: join ONLY the commit's
        // added files; translate its removed files by lineage arithmetic.
        def refresh(v: Long): Unit = {
          val (adds, removes) = CommitLog.changesAt(fact, v)
          val mvAdds = adds.flatMap { f =>
            val mdir = viewFileOf(f)
            s.read.parquet(s"$fact/$f")
              .join(broadcast(dim), col("custkey") === col("c_custkey"))
              .select(col("key"), col("val"), col("c_nationkey").as("nation"))
              .coalesce(1).write.mode("overwrite").parquet(s"$view/$mdir")
            partsOf(view, mdir)
          }
          val mvRemoves = removes.flatMap(f => partsOf(view, viewFileOf(f)))
          CommitLog.commitFiles(view, v, mvAdds, mvRemoves)
        }
        // v1: base slice. v2: append. v3: copy-on-write reprice rewrite.
        o.where(col("o_orderkey") % 3L === 0L)
          .select(col("o_orderkey").as("key"), col("o_custkey").as("custkey"),
            col("o_totalprice").as("val"))
          .coalesce(1).write.mode("overwrite").parquet(s"$fact/g=1")
        CommitLog.commit(fact, 1L, "g=1")
        refresh(1L)
        o.where(col("o_orderkey") % 3L === 1L)
          .select(col("o_orderkey").as("key"), col("o_custkey").as("custkey"),
            col("o_totalprice").as("val"))
          .coalesce(1).write.mode("overwrite").parquet(s"$fact/g=2")
        CommitLog.commit(fact, 2L, "g=2")
        refresh(2L)
        val v1Files = CommitLog.changesAt(fact, 1L)._1
        o.where(col("o_orderkey") % 3L === 0L)
          .select(col("o_orderkey").as("key"), col("o_custkey").as("custkey"),
            rnd(col("o_totalprice") * 1.1, 2).as("val"))
          .coalesce(1).write.mode("overwrite").parquet(s"$fact/g=3")
        CommitLog.commitFiles(fact, 3L, partsOf(fact, "g=3"), v1Files)
        refresh(3L)
        // The IVM contract: maintained view ≡ from-scratch recompute.
        val maintained = CommitLog.readAsOf(s, view, Long.MaxValue)
        val recomputed = CommitLog.readAsOf(s, fact, Long.MaxValue)
          .join(broadcast(dim), col("custkey") === col("c_custkey"))
          .select(col("key"), col("val"), col("c_nationkey").as("nation"))
        require(graft.Laws.symDiff(
            maintained.select("key", "val", "nation"), recomputed).isEmpty,
          "the maintained join view diverged from the from-scratch recompute")
        // The refresh SHAPE: the rewrite removed exactly one lineage file.
        val (_, v3rm) = CommitLog.changesAt(view, 3L)
        require(v3rm.size == 1 &&
            v3rm.head.startsWith(viewFileOf(v1Files.head)),
          "the rewrite's view refresh did not remove its lineage-mapped file")
        maintained.groupBy("nation")
          .agg(count(lit(1)).as("n_orders"),
            sum(expr("cast(floor(val * 1e2 + 0.5) as bigint)"))
              .cast("long").as("sum_cents"))
          .orderBy("nation")
      },
      Some("""WITH snap AS (
             |  SELECT o_orderkey AS key, o_custkey AS custkey,
             |    floor((o_totalprice * 1.1) * 1e2 + 0.5) / 1e2 AS val
             |  FROM orders WHERE o_orderkey % 3 = 0
             |  UNION ALL
             |  SELECT o_orderkey, o_custkey, o_totalprice
             |  FROM orders WHERE o_orderkey % 3 = 1)
             |SELECT c.c_nationkey AS nation, count(*) AS n_orders,
             |  CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
             |    AS sum_cents
             |FROM snap JOIN customer c ON c.c_custkey = snap.custkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // OPTIMIZE — log-transactional compaction (Delta OPTIMIZE / Iceberg
    // rewrite_data_files), completing the maintenance story the log
    // enables: two commits land TWELVE small files (the streaming-append
    // smell every lake accumulates); version 3 compacts them into ONE
    // file and publishes add(compacted) + remove(all twelve) as a single
    // atomic commit — readers never see a half-compacted table, time
    // travel to the small-file snapshot still works (the removed files
    // are tombstones inside retention), and `table_compact`'s in-place
    // directory rewrite is superseded by a protocol transaction. The
    // `require`s pin the file-count collapse (12 → 1) and that the
    // compacted snapshot's rows are IDENTICAL to the pre-compaction
    // snapshot (collected 1-row rollup compare, in-query); the declared
    // output reads BOTH snapshots and must hash-match DuckDB's single
    // reconstruction twice. At 100 TB compaction is the scan-efficiency
    // lever (fewer, larger files ⇒ fewer tasks, better row-group stats);
    // as a log transaction it is also SAFE under concurrent readers.
    QDef(
      "table_optimize",
      (s, dir) => {
        import graft.sources.CommitLog
        val root = freshRunTmpPath(s, "graft_optimize_")
        val o = T.orders(s, dir)
        o.where(col("o_orderkey") % 2L === 0L)
          .select(col("o_orderkey").as("key"), col("o_totalprice").as("val"))
          .repartition(8, col("key")).write.mode("overwrite").parquet(s"$root/g=1")
        CommitLog.commit(root, 1L, "g=1")
        o.where(col("o_orderkey") % 9L === 5L)
          .select(col("o_orderkey").as("key"), col("o_totalprice").as("val"))
          .repartition(4, col("key")).write.mode("overwrite").parquet(s"$root/g=2")
        CommitLog.commit(root, 2L, "g=2")
        val small = CommitLog.filesAsOf(root, 2L)
        require(small.size == 12, s"small-file fixture drifted: ${small.size}")
        // OPTIMIZE: rewrite the live set into one file, publish atomically.
        CommitLog.readAsOf(s, root, 2L).select("key", "val")
          .coalesce(1).write.mode("overwrite").parquet(s"$root/g=3")
        CommitLog.commit(root, 3L, "g=3", removes = small)
        val after = CommitLog.filesAsOf(root, 3L)
        require(after.size == 1 && after.forall(_.startsWith("g=3/")),
          s"compaction must leave exactly the compacted file: $after")
        def rollup(v: Long) = CommitLog.readAsOf(s, root, v)
          .agg(count(lit(1)).as("n"),
            sum(col("key")).cast("long").as("sum_key"),
            sum(expr("cast(floor(val * 1e2 + 0.5) as bigint)"))
              .cast("long").as("sum_cents"))
          .select(lit(v).as("as_of"), col("n"), col("sum_key"), col("sum_cents"))
        // Row-identity across the compaction, checked in-query.
        val pre = rollup(2L).collect().map(_.toSeq.drop(1)).toSeq
        val post = rollup(3L).collect().map(_.toSeq.drop(1)).toSeq
        require(pre == post,
          s"compaction changed the table contents: $pre vs $post")
        rollup(2L).unionAll(rollup(3L)).orderBy("as_of")
      },
      Some("""WITH snap AS (
             |  SELECT o_orderkey AS key, o_totalprice AS val
             |  FROM orders WHERE o_orderkey % 2 = 0
             |  UNION ALL
             |  SELECT o_orderkey, o_totalprice
             |  FROM orders WHERE o_orderkey % 9 = 5),
             |roll AS (
             |  SELECT count(*) AS n, CAST(sum(key) AS BIGINT) AS sum_key,
             |    CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |  FROM snap)
             |SELECT CAST(2 AS BIGINT) AS as_of, n, sum_key, sum_cents FROM roll
             |UNION ALL
             |SELECT CAST(3 AS BIGINT), n, sum_key, sum_cents FROM roll
             |ORDER BY as_of""".stripMargin)),

    // OPTIMIZE ZORDER — clustered compaction, the maintenance command
    // production users actually run: `table_optimize`'s atomic adds+
    // removes transaction COMPOSED with `sink_zorder`'s bit-interleave
    // clustering, with the payoff MEASURED through `table_skipping`'s
    // stat facets rather than asserted. The pre state is the write-
    // amplified smell: 12 hash-spread files (g = key % 12) whose per-file
    // z ranges each span the whole domain — a 2-D box probe must open
    // every file. OPTIMIZE rewrites the live set clustered on the z
    // value (zc = z div 342 → 12 contiguous z-slices), publishing
    // adds(12 clustered) + removes(12 scattered) with fresh per-file z
    // stats in ONE atomic commit. Interval pruning on z is SAFE for a
    // box because bit-interleave is an order-embedding per axis (x ≤ x',
    // y ≤ y' ⇒ z ≤ z'), so every box row's z lies in [z(x0,y0),
    // z(x1,y1)]; for the power-of-2-aligned box probed here the interval
    // is exactly the box's 64 cells. `require`d: row identity across the
    // compaction, the skipping-safety law at both versions (pruning
    // drops FILES, never rows), and the payoff — the clustered snapshot
    // prunes STRICTLY more files than the scattered one. Both layouts
    // and both pruning counts are deterministic integer arithmetic, so
    // DuckDB reconstructs all of it. At 100 TB this is the lever that
    // turns a needle-box query from a full scan into ~1 file: clustering
    // is useless without stats, stats are useless without clustering,
    // and only the composed transaction delivers the read-side win.
    QDef(
      "table_optimize_zorder",
      (s, dir) => {
        import graft.sources.CommitLog
        val root = freshRunTmpPath(s, "graft_optz_")
        def zExpr(xc: String, yc: String) = (0 until 6).map { i =>
          val p = 1L << i
          expr(s"(($xc div $p) % 2) * ${1L << (2 * i)} + (($yc div $p) % 2) * ${1L << (2 * i + 1)}")
        }.reduce(_ + _)
        val o = T.orders(s, dir)
          .select(col("o_orderkey").as("key"), col("o_totalprice").as("val"),
            (col("o_custkey") % 64L).as("x"),
            (expr("unix_timestamp(o_orderdate) div 86400") % 64L).as("y"))
          .withColumn("z", zExpr("x", "y"))
        def statsOf(sub: String): Map[String, (Long, Long)] = {
          val rows = s.read.option("basePath", root).parquet(s"$root/$sub")
            .groupBy(col("_metadata.file_path").as("fp"))
            .agg(min("z").as("mn"), max("z").as("mx"))
            .collect() // O(files) metadata, never rows
          rows.map(r => CommitLog.relToRoot(root, r.getString(0)) ->
            (r.getLong(1), r.getLong(2))).toMap
        }
        // v1 — the scattered snapshot: one file per hash bucket.
        o.withColumn("gen", lit(1L)).withColumn("g", col("key") % 12L)
          .repartition(12, col("g"))
          .write.partitionBy("gen", "g").mode("overwrite").parquet(root)
        val stats1 = statsOf("gen=1")
        require(stats1.size == 12, s"expected 12 hash files, got ${stats1.size}")
        CommitLog.commitFiles(root, 1L, adds = stats1.keys.toSeq.sorted,
          removes = Nil, stats = stats1)
        val small = CommitLog.filesAsOf(root, 1L)
        // OPTIMIZE ZORDER: rewrite the LIVE SET (read through the log)
        // clustered on z, stats computed in the same staging pass, then
        // ONE atomic swap commit.
        CommitLog.readAsOf(s, root, 1L)
          .select("key", "val", "x", "y", "z")
          .withColumn("gen", lit(2L))
          .withColumn("zc", expr("(z % 4096) div 342"))
          .repartition(12, col("zc"))
          .sortWithinPartitions("z")
          .write.partitionBy("gen", "zc").mode("append").parquet(root)
        val stats2 = statsOf("gen=2")
        require(stats2.size == 12, s"expected 12 z-clusters, got ${stats2.size}")
        CommitLog.commitFiles(root, 2L, adds = stats2.keys.toSeq.sorted,
          removes = small, stats = stats2)
        val after = CommitLog.filesAsOf(root, 2L)
        require(after.size == 12 && after.forall(_.startsWith("gen=2/")),
          s"clustered compaction must leave exactly the z-slices: $after")
        // The aligned 8×8 box probe: x ∈ [16,23], y ∈ [24,31] ⇒ z ∈
        // [z(16,24), z(23,31)] exactly (aligned box = one z interval).
        val (zlo, zhi) = (896L, 959L)
        val keptPre = CommitLog.filesAsOfPruned(root, 1L, zlo, zhi)
        val keptPost = CommitLog.filesAsOfPruned(root, 2L, zlo, zhi)
        // THE PAYOFF, measured: strictly more files pruned post-OPTIMIZE.
        require(small.size - keptPre.size < after.size - keptPost.size,
          s"z-clustering must out-prune the scattered layout " +
            s"(pre kept ${keptPre.size}/${small.size}, post kept ${keptPost.size}/${after.size})")
        def matched(paths: Seq[String]) =
          s.read.parquet(paths.map(f => s"$root/$f"): _*)
            .where(col("x").between(16L, 23L) && col("y").between(24L, 31L))
        // Skipping-safety law at BOTH versions: files may drop, rows never.
        require(matched(keptPre).count() == matched(small).count(),
          "pre-optimize pruning dropped matching rows")
        require(matched(keptPost).count() == matched(after).count(),
          "post-optimize pruning dropped matching rows")
        // Row identity across the compaction (the table_optimize law).
        def rollup(v: Long) = CommitLog.readAsOf(s, root, v)
          .agg(count(lit(1)).as("n"), sum(col("key")).cast("long").as("sk"))
          .collect().map(_.toSeq).toSeq
        require(rollup(1L) == rollup(2L),
          "clustered compaction changed the table contents")
        matched(keptPost).agg(
            count(lit(1)).as("n_rows"),
            sum(col("key")).cast("long").as("sum_key"),
            sum(expr("cast(floor(val * 1e2 + 0.5) as bigint)"))
              .cast("long").as("sum_cents"))
          .select(lit(small.size.toLong).as("n_files"),
            lit(keptPre.size.toLong).as("n_kept_scattered"),
            lit(keptPost.size.toLong).as("n_kept_zorder"),
            col("n_rows"), col("sum_key"), col("sum_cents"))
      },
      Some("""WITH keyed AS (
             |  SELECT o_orderkey AS key, o_totalprice AS val,
             |    o_custkey % 64 AS x,
             |    (CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400) % 64 AS y
             |  FROM orders),
             |zd AS (
             |  SELECT key, val, x, y,
             |    ( ((x//1)%2)*1 + ((x//2)%2)*4 + ((x//4)%2)*16
             |    + ((x//8)%2)*64 + ((x//16)%2)*256 + ((x//32)%2)*1024
             |    + 2*( ((y//1)%2)*1 + ((y//2)%2)*4 + ((y//4)%2)*16
             |        + ((y//8)%2)*64 + ((y//16)%2)*256 + ((y//32)%2)*1024 )
             |    ) AS z
             |  FROM keyed),
             |pre AS (
             |  SELECT key % 12 AS g, min(z) AS mn, max(z) AS mx
             |  FROM zd GROUP BY 1),
             |post AS (
             |  SELECT (z % 4096) // 342 AS zc, min(z) AS mn, max(z) AS mx
             |  FROM zd GROUP BY 1),
             |m AS (
             |  SELECT count(*) AS n_rows, CAST(sum(key) AS BIGINT) AS sum_key,
             |    CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |  FROM zd WHERE x BETWEEN 16 AND 23 AND y BETWEEN 24 AND 31)
             |SELECT (SELECT count(*) FROM pre) AS n_files,
             |  (SELECT count(*) FROM pre WHERE mx >= 896 AND mn <= 959)
             |    AS n_kept_scattered,
             |  (SELECT count(*) FROM post WHERE mx >= 896 AND mn <= 959)
             |    AS n_kept_zorder,
             |  n_rows, sum_key, sum_cents FROM m""".stripMargin)),

    // OPTIMISTIC-CONCURRENCY CONFLICT CHECKING — the arbitration step that
    // makes multi-writer maintenance SAFE (Delta/Iceberg's conflict
    // checker, CommitLog.commitChecked): two writers both read snapshot
    // v2 and stage a compaction of the SAME generation's files; the one
    // that loses the version race re-reads the winner's commit, finds its
    // own read/remove set invalidated, and ABORTS — a blind retry would
    // re-remove the files and publish a rewrite of data that no longer
    // exists (double-compaction resurrection). A third writer whose
    // actions are DISJOINT (an append) raced the same snapshot, commutes,
    // and lands on retry. All three outcomes are `require`d in-query
    // (exactly one compaction in the live set, no g=1 resurrection, the
    // append present); the declared output reads the final snapshot and
    // must hash-match DuckDB's reconstruction of winner + append. At
    // 100 TB this is what lets OPTIMIZE, streaming appends, and GDPR
    // deletes share one table without a global lock: disjoint commits
    // commute, overlapping rewrites serialize by abort-and-rerun.
    QDef(
      "table_conflict",
      (s, dir) => {
        import graft.sources.CommitLog
        val root = freshRunTmpPath(s, "graft_conflict_")
        val o = T.orders(s, dir)
        def stage(df: org.apache.spark.sql.DataFrame, gen: String) =
          df.coalesce(1).write.mode("overwrite").parquet(s"$root/$gen")
        stage(o.where(col("o_orderkey") % 3L === 1L)
          .select(col("o_orderkey").as("key"), col("o_totalprice").as("val")), "g=1")
        CommitLog.commit(root, 1L, "g=1")
        stage(o.where(col("o_orderkey") % 9L === 2L)
          .select(col("o_orderkey").as("key"), col("o_totalprice").as("val")), "g=2")
        CommitLog.commit(root, 2L, "g=2")
        val readVersion = CommitLog.latestVersion(root)
        val target = CommitLog.filesAsOf(root, readVersion)
          .filter(_.startsWith("g=1/"))
        // Both writers stage their rewrite of g=1 against snapshot v2.
        val rewrite = o.where(col("o_orderkey") % 3L === 1L)
          .select(col("o_orderkey").as("key"), col("o_totalprice").as("val"))
        stage(rewrite, "g=3") // writer A's staging
        stage(rewrite, "g=4") // writer B's staging
        val vA = CommitLog.commitChecked(root, "g=3", readVersion, reads = target)
        val bAborted =
          try { CommitLog.commitChecked(root, "g=4", readVersion, reads = target); false }
          catch { case _: java.util.ConcurrentModificationException => true }
        require(vA == 3L && bAborted,
          "conflict checker must land writer A and abort writer B")
        // Writer C: a DISJOINT append that also read v2 — commutes, lands.
        stage(o.where(col("o_orderkey") % 9L === 5L)
          .select(col("o_orderkey").as("key"), col("o_totalprice").as("val")), "g=5")
        val vC = CommitLog.commitChecked(root, "g=5", readVersion, reads = Nil)
        require(vC == 4L, s"disjoint append must land at the next version, got $vC")
        val live = CommitLog.filesAsOf(root, Long.MaxValue)
        require(live.exists(_.startsWith("g=3/")) && live.exists(_.startsWith("g=5/"))
            && !live.exists(_.startsWith("g=4/")) && !live.exists(_.startsWith("g=1/")),
          s"final snapshot must be winner + append, no resurrection: $live")
        CommitLog.readAsOf(s, root, Long.MaxValue)
          .groupBy((col("key") % 4L).as("bucket"))
          .agg(count(lit(1)).as("n"),
            sum(col("key")).cast("long").as("sum_key"),
            sum(expr("cast(floor(val * 1e2 + 0.5) as bigint)"))
              .cast("long").as("sum_cents"))
          .orderBy("bucket")
      },
      Some("""WITH snap AS (
             |  SELECT o_orderkey AS key, o_totalprice AS val
             |  FROM orders WHERE o_orderkey % 3 = 1
             |  UNION ALL
             |  SELECT o_orderkey, o_totalprice
             |  FROM orders WHERE o_orderkey % 9 = 2
             |  UNION ALL
             |  SELECT o_orderkey, o_totalprice
             |  FROM orders WHERE o_orderkey % 9 = 5)
             |SELECT key % 4 AS bucket, count(*) AS n,
             |  CAST(sum(key) AS BIGINT) AS sum_key,
             |  CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |FROM snap GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ROW-LEVEL DELETE through the commit log — copy-on-write, the GDPR/
    // right-to-be-forgotten mutation and the first DML consumer of the
    // conflict checker: the base snapshot is PARTITIONED (b=0..3, each
    // partition its own file set, committed via explicit manifest), the
    // delete predicate (b=3 AND key%5=2) PRUNES its victim set to the
    // b=3 files by partition metadata alone — no data scan chooses
    // victims — and only those files rewrite: survivors of b=3 land as
    // new g=2 files while b=0/1/2's files ride through UNTOUCHED
    // (`require`d by path identity: copy-on-write means unaffected
    // bytes never move, the property that makes a 100 TB delete cost
    // O(matching partitions), not O(table)). The rewrite publishes
    // adds(g=2) + removes(victims) in ONE commitChecked transaction —
    // a concurrent compaction of a victim file loses the arbitration
    // and aborts (CommitLogSpec proves it) instead of resurrecting
    // deleted rows. History is preserved: as-of v1 still serves the
    // pre-delete snapshot (audit; vacuum retention is how it actually
    // dies), so the declared output pins BOTH versions' per-partition
    // rollups and must hash-match DuckDB's independent reconstruction.
    QDef(
      "table_delete",
      (s, dir) => {
        import graft.sources.CommitLog
        val root = freshRunTmpPath(s, "graft_delete_")
        val o = T.orders(s, dir)
        o.where(col("o_orderkey") % 3L === 1L)
          .select(col("o_orderkey").as("key"), col("o_totalprice").as("val"),
            (col("o_orderkey") % 4L).as("b"))
          .coalesce(2).write.partitionBy("b").mode("overwrite")
          .parquet(s"$root/g=1")
        def listParquet(gen: String): Seq[String] = {
          import scala.jdk.CollectionConverters._
          val base = java.nio.file.Paths.get(root)
          val st = java.nio.file.Files.walk(base.resolve(gen))
          try st.iterator().asScala
            .filter(p => p.getFileName.toString.endsWith(".parquet")
              && !p.getFileName.toString.startsWith("."))
            .map(p => base.relativize(p).toString).toVector.sorted
          finally st.close()
        }
        CommitLog.commitFiles(root, 1L, adds = listParquet("g=1"), removes = Nil)
        val readVersion = CommitLog.latestVersion(root)
        // DELETE WHERE b = 3 AND key % 5 = 2. Victim files by PARTITION
        // PRUNING: every live file under b=3 (path metadata; at scale,
        // file-level min/max stats prune further within a partition).
        val live1 = CommitLog.filesAsOf(root, readVersion)
        val victims = live1.filter(_.startsWith("g=1/b=3/"))
        require(victims.nonEmpty && victims.size < live1.size,
          s"delete must prune to a strict subset of files: ${victims.size}/${live1.size}")
        // Copy-on-write rewrite: read ONLY the victim files, keep the
        // survivors (NOT key%5=2), stage as the delete's new file set.
        s.read.option("basePath", root)
          .parquet(victims.map(f => s"$root/$f"): _*)
          .where(col("key") % 5L =!= 2L)
          .select(col("key"), col("val"))
          .coalesce(1).write.mode("overwrite").parquet(s"$root/g=2/b=3")
        // One atomic adds+removes commit, conflict-checked against the
        // snapshot the delete read (a racing rewrite of a victim aborts).
        CommitLog.commitChecked(root, "g=2/b=3", readVersion, reads = victims)
        val live2 = CommitLog.filesAsOf(root, Long.MaxValue)
        require(live1.filterNot(victims.toSet).forall(live2.toSet),
          "copy-on-write delete must not touch files outside its victim set")
        require(victims.forall(!live2.toSet.contains(_))
            && live2.exists(_.startsWith("g=2/b=3/")),
          s"delete must swap victims for rewritten survivors: $live2")
        // b binds from the path for g=1 files; the g=2 rewrite carries no
        // b directory under basePath resolution (g=2/b=3 parses b=3) —
        // readAsOf's basePath read reconstructs it either way.
        def rollup(v: Long, label: Long) = CommitLog.readAsOf(s, root, v)
          .groupBy(col("b").cast("long").as("b"))
          .agg(count(lit(1)).as("n"),
            sum(col("key")).cast("long").as("sum_key"),
            sum(expr("cast(floor(val * 1e2 + 0.5) as bigint)"))
              .cast("long").as("sum_cents"))
          .select(lit(label).as("as_of"), col("b"), col("n"),
            col("sum_key"), col("sum_cents"))
        rollup(1L, 1L).unionAll(rollup(Long.MaxValue, 2L)).orderBy("as_of", "b")
      },
      Some("""WITH base AS (
             |  SELECT o_orderkey AS key, o_totalprice AS val,
             |    o_orderkey % 4 AS b
             |  FROM orders WHERE o_orderkey % 3 = 1),
             |kept AS (
             |  SELECT * FROM base WHERE NOT (b = 3 AND key % 5 = 2)),
             |r1 AS (
             |  SELECT CAST(1 AS BIGINT) AS as_of, CAST(b AS BIGINT) AS b,
             |    count(*) AS n, CAST(sum(key) AS BIGINT) AS sum_key,
             |    CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |  FROM base GROUP BY 2),
             |r2 AS (
             |  SELECT CAST(2 AS BIGINT) AS as_of, CAST(b AS BIGINT) AS b,
             |    count(*) AS n, CAST(sum(key) AS BIGINT) AS sum_key,
             |    CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |  FROM kept GROUP BY 2)
             |SELECT * FROM r1 UNION ALL SELECT * FROM r2
             |ORDER BY as_of, b""".stripMargin)),

    // `TIMESTAMP AS OF` time travel — the form users actually type:
    // every commit now carries a monotonic commit timestamp in its
    // commitInfo (explicit deterministic stamps here — 1000/2000/3000 ms
    // — production stamps max(wall-clock, prev+1), the Delta
    // in-commit-timestamp recipe, so version order and timestamp order
    // can never disagree under clock skew). Resolution maps as-of-time
    // to as-of-version — the LATEST commit with timestamp <= t, clamping
    // a future t to the latest snapshot, erroring before the first
    // commit — then reuses the existing readAsOf machinery unchanged:
    // timestamps are a RESOLUTION layer, not a second snapshot
    // mechanism. In-query `require`s pin the resolution table (1500→v1,
    // 2000→v2 exact-match, 2999→v2, future→v3, 500→error); the declared
    // output reads each resolved snapshot and must hash-match DuckDB's
    // cumulative reconstruction. O(commits) driver metadata to resolve;
    // the data read is the same one distributed scan as version as-of.
    QDef(
      "table_timetravel_ts",
      (s, dir) => {
        import graft.sources.CommitLog
        val root = freshRunTmpPath(s, "graft_ttts_")
        val o = T.orders(s, dir)
        def stage(m: Long, gen: String) =
          o.where(col("o_orderkey") % 5L === m)
            .select(col("o_orderkey").as("key"), col("o_totalprice").as("val"))
            .coalesce(1).write.mode("overwrite").parquet(s"$root/$gen")
        stage(0L, "g=1"); CommitLog.commit(root, 1L, "g=1", ts = 1000L)
        stage(1L, "g=2"); CommitLog.commit(root, 2L, "g=2", ts = 2000L)
        stage(2L, "g=3"); CommitLog.commit(root, 3L, "g=3", ts = 3000L)
        // The resolution contract, pinned in-query.
        require(CommitLog.versionAsOfTimestamp(root, 1500L) == 1L
            && CommitLog.versionAsOfTimestamp(root, 2000L) == 2L
            && CommitLog.versionAsOfTimestamp(root, 2999L) == 2L
            && CommitLog.versionAsOfTimestamp(root, 999999L) == 3L,
          "TIMESTAMP AS OF must resolve to the latest commit at-or-before t")
        require(
          try { CommitLog.versionAsOfTimestamp(root, 500L); false }
          catch { case _: IllegalArgumentException => true },
          "a timestamp before the first commit has no snapshot to serve")
        def at(probeTs: Long) = {
          val v = CommitLog.versionAsOfTimestamp(root, probeTs)
          CommitLog.readAsOf(s, root, v)
            .agg(count(lit(1)).as("n"),
              sum(col("key")).cast("long").as("sum_key"),
              sum(expr("cast(floor(val * 1e2 + 0.5) as bigint)"))
                .cast("long").as("sum_cents"))
            .select(lit(probeTs).as("probe_ts"), lit(v).as("resolved_version"),
              col("n"), col("sum_key"), col("sum_cents"))
        }
        at(1500L).unionAll(at(2500L)).unionAll(at(999999L)).orderBy("probe_ts")
      },
      Some("""WITH s1 AS (
             |  SELECT o_orderkey AS key, o_totalprice AS val
             |  FROM orders WHERE o_orderkey % 5 = 0),
             |s12 AS (
             |  SELECT o_orderkey AS key, o_totalprice AS val
             |  FROM orders WHERE o_orderkey % 5 IN (0, 1)),
             |s123 AS (
             |  SELECT o_orderkey AS key, o_totalprice AS val
             |  FROM orders WHERE o_orderkey % 5 IN (0, 1, 2)),
             |roll AS (
             |  SELECT CAST(1500 AS BIGINT) AS probe_ts,
             |    CAST(1 AS BIGINT) AS resolved_version, count(*) AS n,
             |    CAST(sum(key) AS BIGINT) AS sum_key,
             |    CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |  FROM s1
             |  UNION ALL
             |  SELECT CAST(2500 AS BIGINT), CAST(2 AS BIGINT), count(*),
             |    CAST(sum(key) AS BIGINT),
             |    CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
             |  FROM s12
             |  UNION ALL
             |  SELECT CAST(999999 AS BIGINT), CAST(3 AS BIGINT), count(*),
             |    CAST(sum(key) AS BIGINT),
             |    CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
             |  FROM s123)
             |SELECT * FROM roll ORDER BY probe_ts""".stripMargin)),

    // ROW-LEVEL UPDATE through the commit log — table_delete's companion,
    // completing the copy-on-write DML pair: the predicate's partition
    // component (b=1) prunes the victim set by metadata, the victim files
    // rewrite with matching rows repriced (×1.1) and NON-matching rows of
    // the same files carried through unchanged — the shape that
    // distinguishes UPDATE from DELETE: the rewrite preserves CARDINALITY
    // (`require`d: row count identical across the update, in addition to
    // the copy-on-write path-identity of untouched partitions), published
    // as adds+removes in one conflict-checked commit (a racing rewrite of
    // a victim file aborts — same arbitration as the delete). As-of v1
    // still serves pre-update values; the output pins both versions'
    // per-partition rollups, so a lost row, a double-applied reprice, or
    // an update leaking outside its predicate all hash-mismatch. At
    // 100 TB: cost O(matching partitions), commit O(files-touched)
    // metadata — the same bill as the delete, because the mechanism is
    // the same transaction.
    QDef(
      "table_update",
      (s, dir) => {
        import graft.sources.CommitLog
        val root = freshRunTmpPath(s, "graft_update_")
        val o = T.orders(s, dir)
        o.where(col("o_orderkey") % 3L === 1L)
          .select(col("o_orderkey").as("key"), col("o_totalprice").as("val"),
            (col("o_orderkey") % 4L).as("b"))
          .coalesce(2).write.partitionBy("b").mode("overwrite")
          .parquet(s"$root/g=1")
        def listParquet(gen: String): Seq[String] = {
          import scala.jdk.CollectionConverters._
          val base = java.nio.file.Paths.get(root)
          val st = java.nio.file.Files.walk(base.resolve(gen))
          try st.iterator().asScala
            .filter(p => p.getFileName.toString.endsWith(".parquet")
              && !p.getFileName.toString.startsWith("."))
            .map(p => base.relativize(p).toString).toVector.sorted
          finally st.close()
        }
        CommitLog.commitFiles(root, 1L, adds = listParquet("g=1"), removes = Nil)
        val readVersion = CommitLog.latestVersion(root)
        // UPDATE SET val = val*1.1 WHERE b = 1 AND key % 5 = 2: victims by
        // partition pruning, exactly as the delete.
        val live1 = CommitLog.filesAsOf(root, readVersion)
        val victims = live1.filter(_.startsWith("g=1/b=1/"))
        require(victims.nonEmpty && victims.size < live1.size,
          s"update must prune to a strict subset of files: ${victims.size}/${live1.size}")
        s.read.option("basePath", root)
          .parquet(victims.map(f => s"$root/$f"): _*)
          .select(col("key"),
            when(col("key") % 5L === 2L, rnd(col("val") * 1.1, 2))
              .otherwise(col("val")).as("val"))
          .coalesce(1).write.mode("overwrite").parquet(s"$root/g=2/b=1")
        CommitLog.commitChecked(root, "g=2/b=1", readVersion, reads = victims)
        val live2 = CommitLog.filesAsOf(root, Long.MaxValue)
        require(live1.filterNot(victims.toSet).forall(live2.toSet),
          "copy-on-write update must not touch files outside its victim set")
        require(victims.forall(!live2.toSet.contains(_))
            && live2.exists(_.startsWith("g=2/b=1/")),
          s"update must swap victims for rewritten files: $live2")
        // UPDATE preserves cardinality — the invariant DELETE breaks.
        require(CommitLog.readAsOf(s, root, 1L).count() ==
            CommitLog.readAsOf(s, root, Long.MaxValue).count(),
          "an update must not change the table's row count")
        def rollup(v: Long, label: Long) = CommitLog.readAsOf(s, root, v)
          .groupBy(col("b").cast("long").as("b"))
          .agg(count(lit(1)).as("n"),
            sum(col("key")).cast("long").as("sum_key"),
            sum(expr("cast(floor(val * 1e2 + 0.5) as bigint)"))
              .cast("long").as("sum_cents"))
          .select(lit(label).as("as_of"), col("b"), col("n"),
            col("sum_key"), col("sum_cents"))
        rollup(1L, 1L).unionAll(rollup(Long.MaxValue, 2L)).orderBy("as_of", "b")
      },
      Some("""WITH base AS (
             |  SELECT o_orderkey AS key, o_totalprice AS val,
             |    o_orderkey % 4 AS b
             |  FROM orders WHERE o_orderkey % 3 = 1),
             |upd AS (
             |  SELECT key,
             |    CASE WHEN b = 1 AND key % 5 = 2
             |      THEN floor((val * 1.1) * 1e2 + 0.5) / 1e2 ELSE val END AS val,
             |    b
             |  FROM base),
             |r1 AS (
             |  SELECT CAST(1 AS BIGINT) AS as_of, CAST(b AS BIGINT) AS b,
             |    count(*) AS n, CAST(sum(key) AS BIGINT) AS sum_key,
             |    CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |  FROM base GROUP BY 2),
             |r2 AS (
             |  SELECT CAST(2 AS BIGINT) AS as_of, CAST(b AS BIGINT) AS b,
             |    count(*) AS n, CAST(sum(key) AS BIGINT) AS sum_key,
             |    CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |  FROM upd GROUP BY 2)
             |SELECT * FROM r1 UNION ALL SELECT * FROM r2
             |ORDER BY as_of, b""".stripMargin)),

    // TRANSACTIONAL MERGE through the commit log — the file-level rewrite
    // `table_merge` (Joins.scala) deliberately omits (it demonstrates the
    // full-outer disposition JOIN; this demonstrates the TRANSACTION):
    // one change feed carrying upserts, deletes, and inserts lands as ONE
    // conflict-checked commit, the Delta MERGE INTO shape. Touched
    // partitions = the partitions the change keys map to (metadata-level
    // file discovery; a row-level engine narrows further with file stats
    // — both are pruning, not scanning); ONLY those partitions rewrite —
    // matched-U rows reprice, matched-D rows drop, unmatched base rows of
    // the same files carry through, and inserts land in their partitions
    // inside the same rewrite. Untouched partitions ride by path
    // identity (`require`d), the commit publishes adds(all rewritten +
    // inserted files) + removes(victims) atomically with the same
    // arbitration as delete/update (a racing rewrite of a victim
    // aborts), and the CARDINALITY LAW is `require`d in-query:
    // |v2| = |v1| − deletes + inserts. The two-version per-partition
    // rollup is the oracle surface. At 100 TB this is the nightly CDC
    // apply: cost O(touched partitions), one commit, time travel to the
    // pre-merge snapshot intact.
    QDef(
      "table_merge_cow",
      (s, dir) => {
        import graft.sources.CommitLog
        val root = freshRunTmpPath(s, "graft_mergecow_")
        val o = T.orders(s, dir)
        o.where(col("o_orderkey") % 3L === 1L)
          .select(col("o_orderkey").as("key"), col("o_totalprice").as("val"),
            (col("o_orderkey") % 4L).as("b"))
          .coalesce(2).write.partitionBy("b").mode("overwrite")
          .parquet(s"$root/g=1")
        def listParquet(gen: String): Seq[String] = {
          import scala.jdk.CollectionConverters._
          val base = java.nio.file.Paths.get(root)
          val st = java.nio.file.Files.walk(base.resolve(gen))
          try st.iterator().asScala
            .filter(p => p.getFileName.toString.endsWith(".parquet")
              && !p.getFileName.toString.startsWith("."))
            .map(p => base.relativize(p).toString).toVector.sorted
          finally st.close()
        }
        CommitLog.commitFiles(root, 1L, adds = listParquet("g=1"), removes = Nil)
        val readVersion = CommitLog.latestVersion(root)
        // The change feed: matched upserts/deletes (keys ≡ 4 mod 6 are all
        // in the base) + inserts (keys ≡ 2 mod 6 are all novel).
        val mchg = o.where(col("o_orderkey") % 6L === 4L)
          .select(col("o_orderkey").as("key"),
            rnd(col("o_totalprice") * 1.1, 2).as("c_val"),
            when(col("o_orderkey") % 12L === 10L, lit("D"))
              .otherwise(lit("U")).as("op"))
        val ins = o.where(col("o_orderkey") % 6L === 2L)
          .select(col("o_orderkey").as("key"), col("o_totalprice").as("val"),
            (col("o_orderkey") % 4L).as("b"))
        // Touched-partition discovery from the change keys (bounded ≤ 4
        // values; keys ≡ 4 or 2 mod 6 are even ⇒ b ∈ {0, 2} — pinned).
        val touched = mchg.select((col("key") % 4L).as("b"))
          .unionByName(ins.select("b")).distinct()
          .collect().map(_.getLong(0)).toSet
        require(touched == Set(0L, 2L),
          s"change keys must map to partitions {0, 2}, got $touched")
        val live1 = CommitLog.filesAsOf(root, readVersion)
        val victims = live1.filter(f =>
          touched.exists(b => f.startsWith(s"g=1/b=$b/")))
        require(victims.nonEmpty && victims.size < live1.size,
          s"merge must prune to a strict subset of files: ${victims.size}/${live1.size}")
        // The COW rewrite of the touched partitions: apply U/D to the
        // matched rows, carry unmatched rows, append the inserts.
        s.read.option("basePath", root)
          .parquet(victims.map(f => s"$root/$f"): _*)
          .join(mchg, Seq("key"), "left")
          .where(col("op").isNull || col("op") === "U")
          .select(col("key"), coalesce(col("c_val"), col("val")).as("val"),
            col("b").cast("long").as("b"))
          .unionByName(ins)
          .coalesce(1).write.partitionBy("b").mode("overwrite")
          .parquet(s"$root/g=2")
        CommitLog.commitChecked(root, "g=2", readVersion, reads = victims,
          addsKnown = Some(listParquet("g=2")))
        val live2 = CommitLog.filesAsOf(root, Long.MaxValue)
        require(live1.filterNot(victims.toSet).forall(live2.toSet),
          "merge must not touch files outside its victim set")
        require(victims.forall(!live2.toSet.contains(_)),
          "merge must remove every victim file")
        // Cardinality law: |v2| = |v1| − deletes + inserts.
        val n1 = CommitLog.readAsOf(s, root, 1L).count()
        val n2 = CommitLog.readAsOf(s, root, Long.MaxValue).count()
        val nD = mchg.where(col("op") === "D").count()
        val nI = ins.count()
        require(n2 == n1 - nD + nI,
          s"merge cardinality law violated: $n2 != $n1 - $nD + $nI")
        def rollup(v: Long, label: Long) = CommitLog.readAsOf(s, root, v)
          .groupBy(col("b").cast("long").as("b"))
          .agg(count(lit(1)).as("n"),
            sum(col("key")).cast("long").as("sum_key"),
            sum(expr("cast(floor(val * 1e2 + 0.5) as bigint)"))
              .cast("long").as("sum_cents"))
          .select(lit(label).as("as_of"), col("b"), col("n"),
            col("sum_key"), col("sum_cents"))
        rollup(1L, 1L).unionAll(rollup(Long.MaxValue, 2L)).orderBy("as_of", "b")
      },
      Some("""WITH base AS (
             |  SELECT o_orderkey AS key, o_totalprice AS val,
             |    o_orderkey % 4 AS b
             |  FROM orders WHERE o_orderkey % 3 = 1),
             |mchg AS (
             |  SELECT o_orderkey AS key,
             |    floor((o_totalprice * 1.1) * 1e2 + 0.5) / 1e2 AS c_val,
             |    CASE WHEN o_orderkey % 12 = 10 THEN 'D' ELSE 'U' END AS op
             |  FROM orders WHERE o_orderkey % 6 = 4),
             |ins AS (
             |  SELECT o_orderkey AS key, o_totalprice AS val,
             |    o_orderkey % 4 AS b
             |  FROM orders WHERE o_orderkey % 6 = 2),
             |merged AS (
             |  SELECT b.key, coalesce(m.c_val, b.val) AS val, b.b
             |  FROM base b LEFT JOIN mchg m ON m.key = b.key
             |  WHERE m.op IS NULL OR m.op = 'U'
             |  UNION ALL
             |  SELECT key, val, b FROM ins),
             |r1 AS (
             |  SELECT CAST(1 AS BIGINT) AS as_of, CAST(b AS BIGINT) AS b,
             |    count(*) AS n, CAST(sum(key) AS BIGINT) AS sum_key,
             |    CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |  FROM base GROUP BY 2),
             |r2 AS (
             |  SELECT CAST(2 AS BIGINT) AS as_of, CAST(b AS BIGINT) AS b,
             |    count(*) AS n, CAST(sum(key) AS BIGINT) AS sum_key,
             |    CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |  FROM merged GROUP BY 2)
             |SELECT * FROM r1 UNION ALL SELECT * FROM r2
             |ORDER BY as_of, b""".stripMargin)),

    // MERGE-ON-READ DELETE via DELETION VECTORS — the other half of the
    // DML story (table_delete demonstrates copy-on-write): instead of
    // rewriting victim files, the delete writes their DELETED ROW
    // POSITIONS to a sidecar and commits a METADATA-ONLY annotation
    // (remove + re-add of the same path with a `dv` reference — the Delta
    // DV-update action, CommitLog.commitDVChecked, conflict-checked so a
    // racing compaction of a victim aborts the attach). `require`d: the
    // post-delete live FILE SET is path-identical to the pre-delete one —
    // zero data files move, the merge-on-read bargain: a 100 TB delete
    // costs O(deleted positions) sidecar + O(victims) metadata, and the
    // read side subtracts positions at scan time (readAsOf's broadcast
    // anti-join on the hidden (file, row_index) parquet metadata — the
    // relational shape of Delta's bitmap filter). The lifecycle closes
    // in-query: an OPTIMIZE materializes the vectors into rewritten
    // files (their rollup `require`d row-identical to the MoR read — the
    // MoR ≡ materialized equivalence law), the annotations retire with
    // their victims, and VACUUM reclaims the now-unreferenced sidecar
    // with the victim tombstones. The declared output pins all three
    // versions' rollups against DuckDB's independent reconstruction.
    QDef(
      "table_delete_dv",
      (s, dir) => {
        import graft.sources.CommitLog
        val root = freshRunTmpPath(s, "graft_dv_")
        val o = T.orders(s, dir)
        o.where(col("o_orderkey") % 3L === 2L)
          .select(col("o_orderkey").as("key"), col("o_totalprice").as("val"),
            (col("o_orderkey") % 4L).as("b"))
          .coalesce(2).write.partitionBy("b").mode("overwrite")
          .parquet(s"$root/g=1")
        def listParquet(gen: String): Seq[String] = {
          import scala.jdk.CollectionConverters._
          val base = java.nio.file.Paths.get(root)
          val st = java.nio.file.Files.walk(base.resolve(gen))
          try st.iterator().asScala
            .filter(p => p.getFileName.toString.endsWith(".parquet")
              && !p.getFileName.toString.startsWith("."))
            .map(p => base.relativize(p).toString).toVector.sorted
          finally st.close()
        }
        CommitLog.commitFiles(root, 1L, adds = listParquet("g=1"), removes = Nil)
        val readVersion = CommitLog.latestVersion(root)
        val live1 = CommitLog.filesAsOf(root, readVersion)
        // DELETE WHERE b = 1 AND key % 5 = 3: victims by partition
        // pruning, exactly as in the copy-on-write delete …
        val victims = live1.filter(_.startsWith("g=1/b=1/"))
        require(victims.nonEmpty && victims.size < live1.size,
          s"delete must prune to a strict subset of files: ${victims.size}/${live1.size}")
        // … but only the deleted POSITIONS are written: scan the victims
        // with the hidden (file_path, row_index) metadata and keep the
        // rows the predicate kills. Sidecar protocol: `f` = table-relative
        // data-file path, `pos` = row position within it.
        s.read.parquet(victims.map(f => s"$root/$f"): _*)
          .where(col("key") % 5L === 3L)
          .select(
            expr("substring(regexp_replace(_metadata.file_path, '^file:/+', '/'), "
              + s"${root.length + 2})").as("f"),
            col("_metadata.row_index").cast("long").as("pos"))
          .coalesce(1).write.mode("overwrite").parquet(s"$root/dv2")
        val dvFile = listParquet("dv2") match {
          case Seq(one) => one
          case other => throw new IllegalStateException(
            s"expected one sidecar file, got $other")
        }
        val v2 = CommitLog.commitDVChecked(root, readVersion,
          victims.map(_ -> dvFile).toMap)
        require(v2 == 2L, s"DV attach must land at version 2, got $v2")
        val snap2 = CommitLog.snapshotAsOf(root, v2)
        require(snap2.live.toSet == live1.toSet,
          "merge-on-read delete must move NO data file (path identity for the whole table)")
        require(snap2.dvs.keySet == victims.toSet
            && snap2.dvs.values.forall(_ == dvFile),
          s"every victim and only the victims carry the vector: ${snap2.dvs}")
        def rollup(v: Long, label: Long) = CommitLog.readAsOf(s, root, v)
          .groupBy(col("b").cast("long").as("b"))
          .agg(count(lit(1)).as("n"),
            sum(col("key")).cast("long").as("sum_key"),
            sum(expr("cast(floor(val * 1e2 + 0.5) as bigint)"))
              .cast("long").as("sum_cents"))
          .select(lit(label).as("as_of"), col("b"), col("n"),
            col("sum_key"), col("sum_cents"))
        // Pin the pre-delete and MoR rollups NOW (tiny, localCheckpoint):
        // the closing vacuum below retires the files these reads resolve.
        val r1 = rollup(1L, 1L).localCheckpoint()
        val r2 = rollup(v2, 2L).localCheckpoint()
        // OPTIMIZE / MATERIALIZE: rewrite ONLY the annotated partition with
        // its vectors applied (the MoR read itself feeds the rewrite), then
        // swap files in one conflict-checked commit — vectors retire with
        // their victims because the new adds carry no annotation.
        CommitLog.readAsOf(s, root, v2)
          .where(col("b") === 1L)
          .select(col("key"), col("val"))
          .coalesce(1).write.mode("overwrite").parquet(s"$root/g=3/b=1")
        val v3 = CommitLog.commitChecked(root, "g=3/b=1", v2, reads = victims)
        require(v3 == 3L, s"materialize must land at version 3, got $v3")
        val snap3 = CommitLog.snapshotAsOf(root, Long.MaxValue)
        require(snap3.live.forall(f => !snap3.dvs.contains(f)),
          "materializing must retire the vectors from every live file " +
            "(tombstoned victims keep theirs for vacuum retention)")
        require(victims.forall(!snap3.live.toSet.contains(_))
            && snap3.live.exists(_.startsWith("g=3/b=1/")),
          s"materialize must swap victims for rewritten survivors: ${snap3.live}")
        val r3 = rollup(Long.MaxValue, 3L)
        // The equivalence law, row for row: scan-time subtraction and the
        // materialized rewrite must serve identical tables.
        def keyOf(r: org.apache.spark.sql.Row) =
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
        require(r2.collect().map(keyOf).toSet == r3.collect().map(keyOf).toSet,
          "merge-on-read and materialized reads must agree")
        // VACUUM (retention 0): the sidecar is referenced by nothing live
        // any more — it expires WITH the victim tombstones.
        val dvAbs = java.nio.file.Paths.get(root, dvFile)
        require(java.nio.file.Files.exists(dvAbs), "sidecar must exist pre-vacuum")
        val (_, removed) = CommitLog.vacuum(root, 0L)
        require(!java.nio.file.Files.exists(dvAbs),
          "vacuum must reclaim the expired sidecar")
        require(removed >= victims.size + 1L,
          s"vacuum must reclaim victims + sidecar, removed only $removed")
        r1.unionAll(r2).unionAll(r3).orderBy("as_of", "b")
      },
      Some("""WITH base AS (
             |  SELECT o_orderkey AS key, o_totalprice AS val,
             |    o_orderkey % 4 AS b
             |  FROM orders WHERE o_orderkey % 3 = 2),
             |kept AS (
             |  SELECT * FROM base WHERE NOT (b = 1 AND key % 5 = 3)),
             |r1 AS (
             |  SELECT CAST(1 AS BIGINT) AS as_of, CAST(b AS BIGINT) AS b,
             |    count(*) AS n, CAST(sum(key) AS BIGINT) AS sum_key,
             |    CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |  FROM base GROUP BY 2),
             |r2 AS (
             |  SELECT CAST(2 AS BIGINT) AS as_of, CAST(b AS BIGINT) AS b,
             |    count(*) AS n, CAST(sum(key) AS BIGINT) AS sum_key,
             |    CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |  FROM kept GROUP BY 2),
             |r3 AS (
             |  SELECT CAST(3 AS BIGINT) AS as_of, CAST(b AS BIGINT) AS b,
             |    count(*) AS n, CAST(sum(key) AS BIGINT) AS sum_key,
             |    CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |  FROM kept GROUP BY 2)
             |SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3
             |ORDER BY as_of, b""".stripMargin)),

    // MERGE-ON-READ UPDATE via DELETION VECTORS — completing the MoR DML
    // pair (table_delete_dv covers DELETE; table_update is copy-on-write):
    // the matched rows' OLD images die by deletion vector on their victim
    // files while their NEW images land as freshly appended files, in ONE
    // atomic metadata commit (CommitLog.commitDVChecked with `adds` — the
    // Delta DV-update transaction), so no reader ever sees both images or
    // neither. ONE scan of the pruned victim set derives both halves
    // (positions sidecar + updated rows). `require`d: every pre-update
    // file is still live post-update (zero victim rewrites — the MoR
    // bargain: a point update of k rows in a TB-sized file costs KBs),
    // the update adds are live, and only victims carry vectors. The
    // lifecycle closes in-query exactly as for the delete: OPTIMIZE
    // materializes the partition (vectors applied + updates folded in),
    // conflict-checked against BOTH the victims and the update files; the
    // MoR ≡ materialized equivalence is require'd row for row; VACUUM
    // reclaims the expired sidecar with the victim tombstones. All three
    // versions' rollups are pinned against DuckDB's reconstruction.
    QDef(
      "table_update_dv",
      (s, dir) => {
        import graft.sources.CommitLog
        val root = freshRunTmpPath(s, "graft_dvu_")
        val o = T.orders(s, dir)
        o.where(col("o_orderkey") % 3L === 0L)
          .select(col("o_orderkey").as("key"), col("o_totalprice").as("val"),
            (col("o_orderkey") % 4L).as("b"))
          .coalesce(2).write.partitionBy("b").mode("overwrite")
          .parquet(s"$root/g=1")
        def listParquet(gen: String): Seq[String] = {
          import scala.jdk.CollectionConverters._
          val base = java.nio.file.Paths.get(root)
          val st = java.nio.file.Files.walk(base.resolve(gen))
          try st.iterator().asScala
            .filter(p => p.getFileName.toString.endsWith(".parquet")
              && !p.getFileName.toString.startsWith("."))
            .map(p => base.relativize(p).toString).toVector.sorted
          finally st.close()
        }
        CommitLog.commitFiles(root, 1L, adds = listParquet("g=1"), removes = Nil)
        val live1 = CommitLog.filesAsOf(root, 1L)
        // UPDATE SET val = val*1.1 WHERE b = 2 AND key % 5 = 1: victims by
        // partition pruning, then ONE scan of only the victim files
        // derives both halves of the update.
        val victims = live1.filter(_.startsWith("g=1/b=2/"))
        require(victims.nonEmpty && victims.size < live1.size,
          s"update must prune to a strict subset of files: ${victims.size}/${live1.size}")
        val matched = s.read.parquet(victims.map(f => s"$root/$f"): _*)
          .where(col("key") % 5L === 1L)
          .select(col("key"), col("val"),
            expr("substring(regexp_replace(_metadata.file_path, '^file:/+', '/'), "
              + s"${root.length + 2})").as("f"),
            col("_metadata.row_index").cast("long").as("pos"))
          .localCheckpoint() // one victim scan feeds both writes below
        matched.select(col("f"), col("pos"))
          .coalesce(1).write.mode("overwrite").parquet(s"$root/dvu")
        matched.select(col("key"), (col("val") * 1.1).as("val"))
          .coalesce(1).write.mode("overwrite").parquet(s"$root/g=2/b=2")
        val dvFile = listParquet("dvu") match {
          case Seq(one) => one
          case other => throw new IllegalStateException(
            s"expected one sidecar file, got $other")
        }
        val updAdds = listParquet("g=2")
        require(updAdds.nonEmpty, "the update must append new-image files")
        val v2 = CommitLog.commitDVChecked(root, 1L,
          victims.map(_ -> dvFile).toMap, adds = updAdds)
        require(v2 == 2L, s"MoR update must land at version 2, got $v2")
        val snap2 = CommitLog.snapshotAsOf(root, v2)
        require(snap2.live.toSet == live1.toSet ++ updAdds,
          "MoR update must move NO pre-update file and add ONLY the new images")
        require(snap2.dvs.keySet == victims.toSet
            && snap2.dvs.values.forall(_ == dvFile),
          s"every victim and only the victims carry the vector: ${snap2.dvs}")
        def rollup(v: Long, label: Long) = CommitLog.readAsOf(s, root, v)
          .groupBy(col("b").cast("long").as("b"))
          .agg(count(lit(1)).as("n"),
            sum(col("key")).cast("long").as("sum_key"),
            sum(expr("cast(floor(val * 1e2 + 0.5) as bigint)"))
              .cast("long").as("sum_cents"))
          .select(lit(label).as("as_of"), col("b"), col("n"),
            col("sum_key"), col("sum_cents"))
        val r1 = rollup(1L, 1L).localCheckpoint()
        val r2 = rollup(v2, 2L).localCheckpoint()
        // OPTIMIZE / MATERIALIZE: fold the vectors and the update files
        // into one rewritten partition file; the swap is conflict-checked
        // against BOTH halves of the update (a racing second update of
        // either would abort it, and vice versa).
        CommitLog.readAsOf(s, root, v2)
          .where(col("b") === 2L)
          .select(col("key"), col("val"))
          .coalesce(1).write.mode("overwrite").parquet(s"$root/g=3/b=2")
        val v3 = CommitLog.commitChecked(root, "g=3/b=2", v2,
          reads = victims ++ updAdds)
        require(v3 == 3L, s"materialize must land at version 3, got $v3")
        val snap3 = CommitLog.snapshotAsOf(root, Long.MaxValue)
        require(snap3.live.forall(f => !snap3.dvs.contains(f)),
          "materializing must retire the vectors from every live file")
        require((victims ++ updAdds).forall(!snap3.live.toSet.contains(_))
            && snap3.live.exists(_.startsWith("g=3/b=2/")),
          s"materialize must swap victims + update files for the rewrite: ${snap3.live}")
        val r3 = rollup(Long.MaxValue, 3L)
        def keyOf(r: org.apache.spark.sql.Row) =
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
        require(r2.collect().map(keyOf).toSet == r3.collect().map(keyOf).toSet,
          "merge-on-read and materialized update reads must agree")
        val dvAbs = java.nio.file.Paths.get(root, dvFile)
        require(java.nio.file.Files.exists(dvAbs), "sidecar must exist pre-vacuum")
        val (_, removed) = CommitLog.vacuum(root, 0L)
        require(!java.nio.file.Files.exists(dvAbs),
          "vacuum must reclaim the expired sidecar")
        require(removed >= victims.size + updAdds.size + 1L,
          s"vacuum must reclaim victims + update files + sidecar, removed $removed")
        r1.unionAll(r2).unionAll(r3).orderBy("as_of", "b")
      },
      Some("""WITH base AS (
             |  SELECT o_orderkey AS key, o_totalprice AS val,
             |    o_orderkey % 4 AS b
             |  FROM orders WHERE o_orderkey % 3 = 0),
             |upd AS (
             |  SELECT key,
             |    CASE WHEN b = 2 AND key % 5 = 1 THEN val * 1.1 ELSE val END AS val,
             |    b
             |  FROM base),
             |r1 AS (
             |  SELECT CAST(1 AS BIGINT) AS as_of, CAST(b AS BIGINT) AS b,
             |    count(*) AS n, CAST(sum(key) AS BIGINT) AS sum_key,
             |    CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |  FROM base GROUP BY 2),
             |r2 AS (
             |  SELECT CAST(2 AS BIGINT) AS as_of, CAST(b AS BIGINT) AS b,
             |    count(*) AS n, CAST(sum(key) AS BIGINT) AS sum_key,
             |    CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |  FROM upd GROUP BY 2),
             |r3 AS (
             |  SELECT CAST(3 AS BIGINT) AS as_of, CAST(b AS BIGINT) AS b,
             |    count(*) AS n, CAST(sum(key) AS BIGINT) AS sum_key,
             |    CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |  FROM upd GROUP BY 2)
             |SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3
             |ORDER BY as_of, b""".stripMargin)),

    // CHECK CONSTRAINTS through the commit log — the governance piece of
    // the DML family (Delta's table constraints): a metadata-only commit
    // declares the table's constraint set (`CommitLog.setConstraints`,
    // latest meta line wins), and every writer validates its staged adds
    // against the ACTIVE set before publishing (`validateAdds` — one
    // distributed scan of the STAGED files only, SQL-standard CHECK
    // semantics: FALSE violates, UNKNOWN passes). The protocol is
    // exercised end to end in-query: a violating append is caught
    // (violations `require`d > 0), the writer ABORTS with nothing
    // published — the staging is reader-invisible debris `require`d
    // reclaimed by vacuum, the isolation any crashed writer gets — and a
    // clean append validates to 0 and lands. At 100 TB: declaring or
    // changing constraints is O(1) metadata, enforcement is O(staged
    // data) per write never O(table), and the log carries the contract so
    // every engine sharing the table enforces the same rules
    // (CommitLogSpec pins checkpoint carry and drop-by-republish).
    QDef(
      "table_constraint",
      (s, dir) => {
        import graft.sources.CommitLog
        val root = freshRunTmpPath(s, "graft_constraint_")
        val o = T.orders(s, dir)
        def stage(df: org.apache.spark.sql.DataFrame, gen: String) =
          df.coalesce(1).write.mode("overwrite").parquet(s"$root/$gen")
        def listParquet(gen: String): Seq[String] = {
          import scala.jdk.CollectionConverters._
          val base = java.nio.file.Paths.get(root)
          val st = java.nio.file.Files.walk(base.resolve(gen))
          try st.iterator().asScala
            .filter(p => p.getFileName.toString.endsWith(".parquet")
              && !p.getFileName.toString.startsWith("."))
            .map(p => base.relativize(p).toString).toVector.sorted
          finally st.close()
        }
        stage(o.where(col("o_orderkey") % 7L === 1L)
          .select(col("o_orderkey").as("key"), col("o_totalprice").as("val")), "g=1")
        CommitLog.commit(root, 1L, "g=1")
        // Declare the contract: one metadata-only commit.
        val cs = Seq("val > 0.0", "key IS NOT NULL")
        CommitLog.setConstraints(root, 2L, cs)
        require(CommitLog.constraintsAsOf(root, Long.MaxValue) == cs,
          "declared constraint set must resolve from the log")
        // A writer stages an append with poisoned rows …
        stage(o.where(col("o_orderkey") % 7L === 2L)
          .select(col("o_orderkey").as("key"),
            when(col("o_orderkey") % 3L === 0L, -col("o_totalprice"))
              .otherwise(col("o_totalprice")).as("val")), "g=2")
        val bad = listParquet("g=2")
        val nViol = CommitLog.validateAdds(s, root, bad)
        require(nViol > 0L, "the poisoned append must trip the CHECK")
        // … and therefore ABORTS: nothing published, debris invisible.
        require(CommitLog.latestVersion(root) == 2L,
          "a failed CHECK must publish nothing")
        // A clean writer validates to zero and lands.
        stage(o.where(col("o_orderkey") % 7L === 3L)
          .select(col("o_orderkey").as("key"), col("o_totalprice").as("val")), "g=3")
        require(CommitLog.validateAdds(s, root, listParquet("g=3")) == 0L,
          "the clean append must pass the CHECK")
        CommitLog.commitFiles(root, 3L, adds = listParquet("g=3"), removes = Nil)
        // The aborted staging is vacuum-reclaimable debris, like any
        // crashed writer's.
        val (_, removed) = CommitLog.vacuum(root, 0L)
        require(removed >= bad.size.toLong,
          s"vacuum must reclaim the aborted staging, removed only $removed")
        require(bad.forall(f =>
            !java.nio.file.Files.exists(java.nio.file.Paths.get(root, f))),
          "aborted staging files must be gone after vacuum")
        CommitLog.readAsOf(s, root, Long.MaxValue)
          .groupBy((col("key") % 4L).as("bucket"))
          .agg(count(lit(1)).as("n"),
            sum(col("key")).cast("long").as("sum_key"),
            sum(expr("cast(floor(val * 1e2 + 0.5) as bigint)"))
              .cast("long").as("sum_cents"))
          .orderBy("bucket")
      },
      Some("""WITH snap AS (
             |  SELECT o_orderkey AS key, o_totalprice AS val
             |  FROM orders WHERE o_orderkey % 7 = 1
             |  UNION ALL
             |  SELECT o_orderkey, o_totalprice
             |  FROM orders WHERE o_orderkey % 7 = 3)
             |SELECT key % 4 AS bucket, count(*) AS n,
             |  CAST(sum(key) AS BIGINT) AS sum_key,
             |  CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |FROM snap GROUP BY 1 ORDER BY 1""".stripMargin)),

    // SCHEMA ENFORCEMENT — schema-on-WRITE, the guarantee that makes a
    // table more than a directory of parquet files: the table declares
    // its column list as a metadata commit (`CommitLog.setSchema`) and
    // every writer validates its staged generation against the ACTIVE
    // declaration before publishing — a type-drifted producer and a
    // column-smuggling producer are both REFUSED at commit time (footer
    // read only, O(staged) — never discovered by a reader's cast error
    // three jobs downstream). Legal EVOLUTION is one more deliberate
    // metadata commit: after the widened declaration the previously
    // refused wider append lands, while the drifted one stays refused
    // under both declarations; refused staging is vacuum-reclaimable
    // debris exactly like a failed CHECK. Old narrow files read back
    // with the new column null via the snapshot's mergeSchema read — the
    // evolution contract `table_schema_evolve` exercises, now GATED on
    // the write side.
    QDef(
      "table_schema_enforce",
      (s, dir) => {
        import graft.sources.CommitLog
        val root = freshRunTmpPath(s, "graft_schenf_")
        val o = T.orders(s, dir)
        def stage(df: org.apache.spark.sql.DataFrame, gen: String) =
          df.coalesce(1).write.mode("overwrite").parquet(s"$root/$gen")
        def listParquet(gen: String): Seq[String] = {
          import scala.jdk.CollectionConverters._
          val base = java.nio.file.Paths.get(root)
          val st = java.nio.file.Files.walk(base.resolve(gen))
          try st.iterator().asScala
            .filter(p => p.getFileName.toString.endsWith(".parquet")
              && !p.getFileName.toString.startsWith("."))
            .map(p => base.relativize(p).toString).toVector.sorted
          finally st.close()
        }
        CommitLog.setSchema(root, 1L,
          Seq("key" -> "bigint", "val" -> "double"))
        require(CommitLog.schemaAsOf(root, Long.MaxValue) ==
            Seq("key bigint", "val double"),
          "declared schema must resolve from the log")
        // Conforming writer lands.
        stage(o.where(col("o_orderkey") % 2L === 1L)
          .select(col("o_orderkey").as("key"), col("o_totalprice").as("val")),
          "g=n1")
        require(CommitLog.validateSchemaGen(s, root, "g=n1").isEmpty,
          "the conforming append must validate clean")
        CommitLog.commitFiles(root, 2L, adds = listParquet("g=n1"),
          removes = Nil)
        // A type-drifted producer (val became a string) is REFUSED.
        stage(o.where(col("o_orderkey") % 2L === 0L)
          .select(col("o_orderkey").as("key"),
            format_number(col("o_totalprice"), 2).as("val")), "g=d1")
        val drift = CommitLog.validateSchemaGen(s, root, "g=d1")
        require(drift.exists(_.contains("val string")),
          s"the type drift must refuse with the drifted type named: $drift")
        // A column-smuggling producer (extra column) is REFUSED too.
        stage(o.where(col("o_orderkey") % 2L === 0L)
          .select(col("o_orderkey").as("key"), col("o_totalprice").as("val"),
            (col("o_orderkey") * 3L).as("extra")), "g=w1")
        require(CommitLog.validateSchemaGen(s, root, "g=w1").isDefined,
          "an undeclared extra column must refuse")
        require(CommitLog.latestVersion(root) == 2L,
          "refused writers must publish nothing")
        // Deliberate EVOLUTION: the widened declaration lands as one
        // metadata commit — now the wide append validates and lands,
        // while the drifted one stays refused under the new declaration.
        CommitLog.setSchema(root, 3L,
          Seq("key" -> "bigint", "val" -> "double", "extra" -> "bigint"))
        require(CommitLog.validateSchemaGen(s, root, "g=w1").isEmpty,
          "the wide append must validate clean after evolution")
        require(CommitLog.validateSchemaGen(s, root, "g=d1").isDefined,
          "the drifted append must stay refused after evolution")
        CommitLog.commitFiles(root, 4L, adds = listParquet("g=w1"),
          removes = Nil)
        // Refused staging is reclaimable debris, like any crashed writer.
        val bad = listParquet("g=d1")
        val (_, removed) = CommitLog.vacuum(root, 0L)
        require(removed >= bad.size.toLong,
          s"vacuum must reclaim the refused staging, removed only $removed")
        // Per-version rollup: the narrow snapshot, then the widened one
        // (old files serve the new column as null — mergeSchema read).
        Seq(2L, 4L).map { v =>
          val snap = CommitLog.readAsOf(s, root, v)
          val withExtra = // the narrow snapshot predates the column
            if (snap.columns.contains("extra")) snap
            else snap.withColumn("extra", lit(null).cast("long"))
          withExtra
            .agg(count(lit(1)).as("n"), sum("key").cast("long").as("sum_key"),
              count(col("extra")).as("n_extra"),
              coalesce(sum("extra"), lit(0L)).cast("long").as("sum_extra"))
            .select(lit(v).as("version"), col("n"), col("sum_key"),
              col("n_extra"), col("sum_extra"))
        }.reduce(_ unionAll _).orderBy("version")
      },
      Some("""WITH odd AS (
             |  SELECT o_orderkey AS key FROM orders WHERE o_orderkey % 2 = 1),
             |ev AS (
             |  SELECT o_orderkey AS key, o_orderkey * 3 AS extra
             |  FROM orders WHERE o_orderkey % 2 = 0)
             |SELECT CAST(2 AS BIGINT) AS version, count(*) AS n,
             |  CAST(sum(key) AS BIGINT) AS sum_key,
             |  CAST(0 AS BIGINT) AS n_extra, CAST(0 AS BIGINT) AS sum_extra
             |FROM odd
             |UNION ALL
             |SELECT CAST(4 AS BIGINT), (SELECT count(*) FROM odd) + count(*),
             |  (SELECT CAST(sum(key) AS BIGINT) FROM odd) + CAST(sum(key) AS BIGINT),
             |  count(*), CAST(sum(extra) AS BIGINT)
             |FROM ev
             |ORDER BY version""".stripMargin)),

    // COLUMN MAPPING — rename WITHOUT rewrite (Delta column mapping):
    // physical parquet schemas are immutable once written, so a rename
    // that rewrote files would cost a table scan per ALTER. Instead the
    // log declares `logical physical` pairs as one metadata commit;
    // mapped reads project logical names over every file (old and new —
    // writers keep staging under the stable physical names), and a
    // re-rename is just a republished mapping (latest wins). require'd:
    // the rename commit changes NO file set (pure metadata), reads
    // pinned before the rename still serve the old names (as-of
    // versioned state), and both post-rename logical names serve the
    // same physical column. At 100 TB an ALTER ... RENAME is O(1) log
    // metadata — the same trade RESTORE and partition evolution make.
    QDef(
      "table_colmap",
      (s, dir) => {
        import graft.sources.CommitLog
        val root = freshRunTmpPath(s, "graft_colmap_")
        val o = T.orders(s, dir)
        def stage(df: org.apache.spark.sql.DataFrame, gen: String) =
          df.coalesce(1).write.mode("overwrite").parquet(s"$root/$gen")
        stage(o.where(col("o_orderkey") % 2L === 1L)
          .select(col("o_orderkey").as("key"), col("o_totalprice").as("val")),
          "g=1")
        CommitLog.commit(root, 1L, "g=1")
        val filesBefore = CommitLog.filesAsOf(root, 1L)
        CommitLog.setColMap(root, 2L, Seq("amount" -> "val"))
        require(CommitLog.filesAsOf(root, 2L) == filesBefore,
          "a rename must be pure metadata — zero file-set change")
        // Reads pinned BEFORE the rename keep the old name.
        require(CommitLog.readAsOfMapped(s, root, 1L)
            .columns.toSeq == Seq("key", "val", "g"),
          "a pre-rename pinned read must serve the physical names")
        require(CommitLog.readAsOfMapped(s, root, 2L)
            .columns.contains("amount"),
          "the mapped read must serve the logical name")
        // Writers after the rename stage under the PHYSICAL name.
        stage(o.where(col("o_orderkey") % 6L === 2L)
          .select(col("o_orderkey").as("key"), col("o_totalprice").as("val")),
          "g=2")
        CommitLog.commit(root, 3L, "g=2")
        // Re-rename: republish the mapping (latest wins).
        CommitLog.setColMap(root, 4L, Seq("price" -> "val"))
        def roll(v: Long, c: String) =
          CommitLog.readAsOfMapped(s, root, v)
            .agg(count(lit(1)).as("n"),
              sum(expr(s"cast(floor($c * 1e2 + 0.5) as bigint)"))
                .cast("long").as("sum_cents"))
            .select(lit(v).as("version"), col("n"), col("sum_cents"))
        Seq(roll(1L, "val"), roll(3L, "amount"), roll(4L, "price"))
          .reduce(_ unionAll _).orderBy("version")
      },
      Some("""WITH v1 AS (
             |  SELECT o_totalprice AS val
             |  FROM orders WHERE o_orderkey % 2 = 1),
             |v3 AS (
             |  SELECT val FROM v1
             |  UNION ALL
             |  SELECT o_totalprice FROM orders WHERE o_orderkey % 6 = 2)
             |SELECT CAST(1 AS BIGINT) AS version, count(*) AS n,
             |  CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
             |    AS sum_cents
             |FROM v1
             |UNION ALL
             |SELECT CAST(3 AS BIGINT), count(*),
             |  CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
             |FROM v3
             |UNION ALL
             |SELECT CAST(4 AS BIGINT), count(*),
             |  CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
             |FROM v3
             |ORDER BY version""".stripMargin)),

    // NAMED REFS (Iceberg tags): human-readable pointers into the version
    // history — "the Q3 release" instead of "version 17". A tag
    // declaration is one metadata commit carrying the FULL tag set
    // (latest wins, so re-pointing a tag republishes the set — an audit
    // trail of every re-point survives in the log); resolution is
    // O(snapshot metadata); tag reads are ordinary as-of reads, require'd
    // row-identical to their direct-version counterparts. At 100 TB tags
    // are what make time travel OPERABLE: release pipelines and
    // reproductions reference names, not raw version numbers that shift
    // between environments.
    QDef(
      "table_tag",
      (s, dir) => {
        import graft.sources.CommitLog
        val root = freshRunTmpPath(s, "graft_tag_")
        val o = T.orders(s, dir)
        def stage(df: org.apache.spark.sql.DataFrame, gen: String) =
          df.coalesce(1).write.mode("overwrite").parquet(s"$root/$gen")
        stage(o.where(col("o_orderkey") % 2L === 1L)
          .select(col("o_orderkey").as("key"), col("o_totalprice").as("val")),
          "g=1")
        CommitLog.commit(root, 1L, "g=1")
        stage(o.where(col("o_orderkey") % 6L === 2L)
          .select(col("o_orderkey").as("key"), col("o_totalprice").as("val")),
          "g=2")
        CommitLog.commit(root, 2L, "g=2")
        CommitLog.setTags(root, 3L, Seq("stable" -> 1L, "candidate" -> 2L))
        require(CommitLog.versionOfTag(root, "stable") == 1L &&
          CommitLog.versionOfTag(root, "candidate") == 2L,
          "declared tags must resolve from the log")
        // Re-point: republish the full set; 'stable' moves, the other stays.
        CommitLog.setTags(root, 4L, Seq("stable" -> 2L, "candidate" -> 2L))
        require(CommitLog.versionOfTag(root, "stable") == 2L,
          "a re-pointed tag must resolve to its new target")
        // A tag read IS the as-of read of its target version.
        def rollTag(tag: String) = {
          val v = CommitLog.versionOfTag(root, tag)
          CommitLog.readAsOf(s, root, v)
            .agg(count(lit(1)).as("n"),
              sum(expr("cast(floor(val * 1e2 + 0.5) as bigint)"))
                .cast("long").as("sum_cents"))
            .select(lit(tag).as("tag"), lit(v).as("version"), col("n"),
              col("sum_cents"))
        }
        rollTag("candidate").unionAll(rollTag("stable")).orderBy("tag")
      },
      Some("""WITH v2 AS (
             |  SELECT o_totalprice AS val
             |  FROM orders WHERE o_orderkey % 2 = 1
             |  UNION ALL
             |  SELECT o_totalprice FROM orders WHERE o_orderkey % 6 = 2)
             |SELECT 'candidate' AS tag, CAST(2 AS BIGINT) AS version,
             |  count(*) AS n,
             |  CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
             |    AS sum_cents
             |FROM v2
             |UNION ALL
             |SELECT 'stable', CAST(2 AS BIGINT), count(*),
             |  CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
             |FROM v2
             |ORDER BY tag""".stripMargin)),

    // DATA SKIPPING through the commit log — per-file min/max column stats
    // ride the add action (`"smin"/"smax"`, the Delta/Iceberg file-stats
    // shape), and a range predicate prunes FILES from log metadata alone
    // before any data file opens (`CommitLog.filesAsOfPruned`). The stats
    // are gathered at WRITE time in one distributed pass over the staged
    // files (grouped on `_metadata.file_path` — the writer-side stats
    // collection every lakehouse writer does), the pruning DECISION itself
    // is part of the declared output (n_files_scanned — DuckDB re-derives
    // it from the same per-bucket min/max arithmetic, so a wrong skip
    // hash-mismatches), and the skipping-safety law is `require`d
    // in-query: rows from the pruned file set ≡ rows from the full set
    // under the predicate. Files whose add carries no stats are always
    // kept (conservative — CommitLogSpec pins that, the boundary
    // inclusivity, the stat-less-re-add authority rule, and checkpoint
    // carry). At 100 TB: stats are O(files) log metadata, the decision is
    // driver-side arithmetic, and the scan that follows touches only the
    // intersecting files — a point/range query on a sorted-write table
    // reads a handful of files, not the table.
    QDef(
      "table_skipping",
      (s, dir) => {
        import graft.sources.CommitLog
        val root = freshRunTmpPath(s, "graft_skip_")
        val o = T.orders(s, dir)
          .select(col("o_orderkey").as("key"), col("o_totalprice").as("val"))
        val mx = o.agg(max("key")).head.getLong(0)
        val w = mx / 8L + 1L
        // Range-clustered write: one file per key-range bucket (the sorted/
        // z-ordered layout skipping presupposes — sink_zorder's premise).
        o.withColumn("g", expr(s"key div ${w}L"))
          .repartition(8, col("g"))
          .write.partitionBy("g").mode("overwrite").parquet(root)
        // Writer-side stats: ONE distributed pass over the staged files.
        val statRows = s.read.option("basePath", root).parquet(root)
          .select(col("key"), col("_metadata.file_path").as("fp"))
          .groupBy("fp").agg(min("key").as("mn"), max("key").as("mx"))
          .collect()
        val stats = statRows.map { r =>
          CommitLog.relToRoot(root, r.getString(0)) ->
            (r.getLong(1), r.getLong(2))
        }.toMap
        require(stats.size == 8, s"expected 8 range-bucket files, staged ${stats.size}")
        CommitLog.commitFiles(root, 1L, adds = stats.keys.toSeq.sorted,
          removes = Nil, stats = stats)
        val (lo, hi) = (2L * w + w / 2L, 3L * w + w / 4L)
        val live = CommitLog.filesAsOf(root, Long.MaxValue)
        val pruned = CommitLog.filesAsOfPruned(root, Long.MaxValue, lo, hi)
        require(pruned.size < live.size,
          s"skipping must prune files (kept ${pruned.size} of ${live.size})")
        require(pruned.toSet.subsetOf(live.toSet), "pruned set must be a subset of live")
        def matched(paths: Seq[String]) =
          s.read.parquet(paths.map(f => s"$root/$f"): _*)
            .where(col("key").between(lo, hi))
        // The skipping-safety law: pruning may drop FILES, never ROWS.
        require(matched(pruned).count() == matched(live).count(),
          "file skipping dropped matching rows")
        matched(pruned).agg(
            count(lit(1)).as("n_rows"),
            sum(col("key")).cast("long").as("sum_key"),
            sum(expr("cast(floor(val * 1e2 + 0.5) as bigint)"))
              .cast("long").as("sum_cents"))
          .select(lit(live.size.toLong).as("n_files_total"),
            lit(pruned.size.toLong).as("n_files_scanned"),
            col("n_rows"), col("sum_key"), col("sum_cents"))
      },
      Some("""WITH o AS (SELECT o_orderkey AS key, o_totalprice AS val FROM orders),
             |p AS (SELECT CAST(max(key) // 8 + 1 AS BIGINT) AS w FROM o),
             |b AS (SELECT key, val, key // (SELECT w FROM p) AS g FROM o),
             |s AS (SELECT g, min(key) AS mn, max(key) AS mx FROM b GROUP BY g),
             |bounds AS (SELECT 2 * w + w // 2 AS lo, 3 * w + w // 4 AS hi FROM p),
             |m AS (
             |  SELECT count(*) AS n_rows, CAST(sum(key) AS BIGINT) AS sum_key,
             |    CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |  FROM b, bounds WHERE key BETWEEN lo AND hi)
             |SELECT (SELECT count(*) FROM s) AS n_files_total,
             |  (SELECT count(*) FROM s, bounds WHERE mx >= lo AND mn <= hi)
             |    AS n_files_scanned,
             |  n_rows, sum_key, sum_cents FROM m""".stripMargin)),

    // COLUMNAR COMMIT-LOG CHECKPOINT (Delta's `checkpoint.parquet` [PK]):
    // the JSON checkpoint is O(live files) of text parsed on the driver —
    // fine at fixture scale, a resolution bottleneck at the millions of
    // files a 100 TB table carries. This QDef checkpoints the SAME action
    // set as a typed parquet table (distributed multi-part write,
    // atomic directory-rename publish), resolves a later snapshot from
    // columnar checkpoint + JSON tail, and `require`s FULL equivalence
    // with the JSON path — live set, tombstones, AND per-file skipping
    // stats (replay is shared by construction: each row reconstructs its
    // action line into the one parser). The columnar payoff is require'd
    // in the plan: a stats-pruned metadata probe filters smin/smax IN THE
    // CHECKPOINT SCAN (PushedFilters on the action table) and its result,
    // unioned with the pruned JSON tail, equals filesAsOfPruned — at
    // 100 TB that is min/max file pruning executed as a pushed-down
    // columnar scan instead of a driver-side parse of every live file's
    // JSON line. The table history includes a mid-life compaction
    // (remove + re-add in one commit) so the checkpoint carries a real
    // tombstone across the horizon.
    QDef(
      "table_checkpoint_parquet",
      (s, dir) => {
        import graft.sources.CommitLog
        val root = freshRunTmpPath(s, "graft_ckptpq_")
        val o = T.orders(s, dir)
          .select(col("o_orderkey").as("key"), col("o_totalprice").as("val"))
        val mx = o.agg(max("key")).head.getLong(0)
        val w = mx / 12L + 1L
        o.withColumn("g", expr(s"key div ${w}L"))
          .repartition(12, col("g"))
          .write.partitionBy("g").mode("overwrite").parquet(root)
        val statRows = s.read.option("basePath", root).parquet(root)
          .select(col("key"), col("_metadata.file_path").as("fp"))
          .groupBy("fp").agg(min("key").as("mn"), max("key").as("mxk"))
          .collect() // bounded: one row per staged bucket file
        val stats = statRows.map { r =>
          CommitLog.relToRoot(root, r.getString(0)) ->
            (r.getLong(1), r.getLong(2))
        }.toMap
        require(stats.size == 12, s"expected 12 bucket files, got ${stats.size}")
        val byBucket = stats.toSeq.sortBy(_._2._1) // one add per version
        byBucket.zipWithIndex.foreach { case ((f, st), i) =>
          CommitLog.commitFiles(root, i + 1L, Seq(f), Nil,
            stats = Map(f -> st))
        }
        // v5 also compacted bucket 0 (remove + re-add new path, same
        // rows): the checkpoint must carry the tombstone across the
        // horizon. Staged as a second physical file in the bucket dir.
        val (f0, st0) = byBucket.head
        o.where(expr(s"key div ${w}L") === 0L)
          .coalesce(1).write.mode("append")
          .parquet(s"$root/${f0.split('/').head}")
        val f0r = {
          val gdir = f0.split('/').head
          import scala.jdk.CollectionConverters._
          val st = java.nio.file.Files.list(java.nio.file.Paths.get(root, gdir))
          val names = try st.iterator().asScala.map(_.getFileName.toString)
            .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
            .toSeq.sorted finally st.close()
          names.map(n => s"$gdir/$n").filterNot(_ == f0) match {
            case Seq(one) => one
            case other => throw new IllegalStateException(
              s"expected exactly one rewrite file, got $other")
          }
        }
        CommitLog.commitFiles(root, 13L, Seq(f0r), Seq(f0),
          stats = Map(f0r -> st0))
        // v14..v20 idle commits push past the checkpoint interval so the
        // auto JSON checkpoint (v20) and the columnar one coexist; then
        // two tail appends land AFTER both checkpoints.
        (14L to 20L).foreach(v => CommitLog.commitFiles(root, v, Nil, Nil))
        CommitLog.writeParquetCheckpoint(s, root, 20L)
        val lastV = 20L
        // Tail: re-add nothing new (fixture staged 12 buckets), so the
        // tail is the empty-commit pair — resolution still crosses it.
        (21L to 22L).foreach(v => CommitLog.commitFiles(root, v, Nil, Nil))
        val vNow = 22L
        val viaJson = CommitLog.snapshotAsOf(root, vNow)
        val viaPq = CommitLog.snapshotAsOfParquet(s, root, vNow)
        require(viaPq.live == viaJson.live &&
            viaPq.tombstones == viaJson.tombstones &&
            viaPq.stats == viaJson.stats,
          "columnar-checkpoint resolution diverged from the JSON path")
        // The READ path's DISTRIBUTED resolve (kind-filter pushed into
        // the checkpoint scan, tail removes anti-joined executor-side,
        // only net live rows collected) must agree with the JSON replay.
        require(CommitLog.liveFilesAsOfParquet(s, root, vNow) == viaJson.live,
          "distributed live-set resolution diverged from the JSON path")
        require(viaJson.tombstones.map(_._1) == Seq(f0),
          "the compacted file's tombstone was lost")
        // Pushed-down metadata probe: smin/smax filter IN the checkpoint
        // scan; ∪ pruned tail adds ≡ the JSON path's filesAsOfPruned.
        val (lo, hi) = (2L * w + w / 2L, 3L * w + w / 4L)
        val probe = s.read.parquet(
            CommitLog.parquetCheckpointDir(root, lastV))
          .where(col("kind") === "add" && col("smax") >= lo &&
            col("smin") <= hi)
          .select("path")
        val plan = probe.queryExecution.executedPlan.toString
        require(plan.contains("PushedFilters:") &&
            plan.contains("GreaterThanOrEqual(smax"),
          s"the stats probe must push into the checkpoint scan:\n$plan")
        val ckptPruned = probe.collect().map(_.getString(0)).toSet
        require(ckptPruned ==
            CommitLog.filesAsOfPruned(root, vNow, lo, hi).toSet,
          "pushed-down checkpoint pruning diverged from the JSON path")
        val matched = s.read.option("basePath", root)
          .parquet(ckptPruned.toSeq.sorted.map(f => s"$root/$f"): _*)
          .where(col("key").between(lo, hi))
        matched.agg(count(lit(1)).as("n_rows"),
            sum(col("key")).cast("long").as("sum_key"),
            sum(expr("cast(floor(val * 1e2 + 0.5) as bigint)"))
              .cast("long").as("sum_cents"))
          .select(lit(viaPq.live.size.toLong).as("n_live"),
            lit(viaPq.tombstones.size.toLong).as("n_tombstones"),
            lit(ckptPruned.size.toLong).as("n_files_scanned"),
            col("n_rows"), col("sum_key"), col("sum_cents"))
      },
      Some("""WITH o AS (SELECT o_orderkey AS key, o_totalprice AS val FROM orders),
             |p AS (SELECT CAST(max(key) // 12 + 1 AS BIGINT) AS w FROM o),
             |b AS (SELECT key, val, key // (SELECT w FROM p) AS g FROM o),
             |s AS (SELECT g, min(key) AS mn, max(key) AS mx FROM b GROUP BY g),
             |bounds AS (SELECT 2 * w + w // 2 AS lo, 3 * w + w // 4 AS hi FROM p),
             |m AS (
             |  SELECT count(*) AS n_rows, CAST(sum(key) AS BIGINT) AS sum_key,
             |    CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
             |      AS sum_cents
             |  FROM b, bounds WHERE key BETWEEN lo AND hi)
             |SELECT (SELECT count(*) FROM s) AS n_live,
             |  CAST(1 AS BIGINT) AS n_tombstones,
             |  (SELECT count(*) FROM s, bounds WHERE mx >= lo AND mn <= hi)
             |    AS n_files_scanned,
             |  n_rows, sum_key, sum_cents FROM m""".stripMargin)),

    // FILE-LEVEL BLOOM INDEX (Delta's bloom file index reduced to the log
    // essentials) — the point-lookup complement to table_skipping's
    // min/max ranges: the layout here is HASH-bucketed (g = key % 8), so
    // every file's [min, max] spans nearly the whole key domain and range
    // stats cannot prune an equality probe — the classic needle-in-100-TB
    // lookup. The writer persists per-file bloom words (k=2 multiplicative
    // hashes, join_bloom's exact arithmetic, 4096 bits/file) into the
    // add-action stats in ONE distributed pass that computes min/max AND
    // the or-ed words together; `CommitLog.filesAsOfPrunedPoint` then
    // consults both facets at planning time. No false negatives by
    // construction (the writer sets every key's bits), `require`d in-query
    // and pinned with checkpoint carry in CommitLogSpec. The pruning
    // decisions are part of the declared output — DuckDB re-derives the
    // bloom verdict per file from the same hash arithmetic (a file's word
    // has the probe's bit set iff SOME key in it hashes there), so a
    // build/probe desync hash-mismatches. At 100 TB: the probe is O(live
    // files · k) driver-side bit tests, and the scan that follows opens
    // ~1 file instead of the table; words scale by sizing BloomBits to
    // per-file key cardinality (m/n ≈ 21 here → ~0.8% FP per file).
    QDef(
      "table_bloom_index",
      (s, dir) => {
        import graft.sources.CommitLog
        val root = freshRunTmpPath(s, "graft_bloomidx_")
        val o = T.orders(s, dir).where(col("o_orderkey") % 97L === 0L)
          .select(col("o_orderkey").as("key"), col("o_totalprice").as("val"))
        // Hash-bucketed write: every file's key range spans the domain.
        o.withColumn("g", expr("key % 8L"))
          .repartition(8, col("g"))
          .write.partitionBy("g").mode("overwrite").parquet(root)
        // Writer-side stats: ONE distributed pass computes the min/max
        // range AND the bloom words per file (word index = bit div 64).
        val hs = CommitLog.bloomHashSql("key")
        val facetRows = s.read.option("basePath", root).parquet(root)
          .select(col("key"), col("_metadata.file_path").as("fp"))
          .select(col("key"), col("fp"),
            explode(array(hs.map(h => expr(h)): _*)).as("bit"))
          .groupBy(col("fp"), expr("bit div 64").as("w"))
          .agg(expr("bit_or(shiftleft(1L, cast(pmod(bit, 64) as int)))").as("bits"),
            min("key").as("mn"), max("key").as("mx"))
          .collect() // O(files · words-touched) metadata, never rows
        // file_path is a percent-encoded URI — relativize via the
        // encoding-exact helper, never raw index arithmetic on the string.
        def rel(abs: String) = CommitLog.relToRoot(root, abs)
        val byFile = facetRows.groupBy(r => rel(r.getString(0)))
        val stats = byFile.view.mapValues(rs =>
          (rs.map(_.getAs[Long]("mn")).min, rs.map(_.getAs[Long]("mx")).max)).toMap
        val blooms = byFile.view.mapValues(rs => CommitLog.bloomHexOf(
          rs.map(r => r.getAs[Long]("w").toInt -> r.getAs[Long]("bits")).toMap)).toMap
        require(stats.size == 8, s"expected 8 hash-bucket files, staged ${stats.size}")
        CommitLog.commitFiles(root, 1L, adds = stats.keys.toSeq.sorted,
          removes = Nil, stats = stats, blooms = blooms)
        // Point probe: a mid-domain key (≤ half the max, so the top-heavy
        // max files cannot be range-pruned by accident — the probe must
        // beat UNCLUSTERED files on bloom evidence alone).
        val pk = o.where(col("key") <= o.agg(max("key")).head.getLong(0) / 2L)
          .agg(max("key")).head.getLong(0)
        val live = CommitLog.filesAsOf(root, Long.MaxValue)
        val byRange = CommitLog.filesAsOfPruned(root, Long.MaxValue, pk, pk)
        val byPoint = CommitLog.filesAsOfPrunedPoint(root, Long.MaxValue, pk)
        require(byPoint.size < byRange.size,
          s"bloom must out-prune min/max on a hash-bucketed layout " +
            s"(bloom kept ${byPoint.size}, range kept ${byRange.size})")
        def matched(paths: Seq[String]) =
          s.read.parquet(paths.map(f => s"$root/$f"): _*).where(col("key") === pk)
        // The skipping-safety law: pruning may drop FILES, never ROWS.
        require(matched(byPoint).count() == matched(live).count(),
          "bloom point skipping dropped matching rows")
        matched(byPoint).agg(
            count(lit(1)).as("n_rows"),
            sum(expr("cast(floor(val * 1e2 + 0.5) as bigint)"))
              .cast("long").as("sum_cents"))
          .select(lit(live.size.toLong).as("n_files_total"),
            lit(byRange.size.toLong).as("n_files_minmax"),
            lit(byPoint.size.toLong).as("n_files_bloom"),
            lit(pk).as("probe_key"), col("n_rows"), col("sum_cents"))
      },
      Some("""WITH o AS (SELECT o_orderkey AS key, o_totalprice AS val
             |           FROM orders WHERE o_orderkey % 97 = 0),
             |b AS (SELECT key, val, key % 8 AS g FROM o),
             |probe AS (SELECT max(key) AS pk FROM b
             |          WHERE key <= (SELECT max(key) // 2 FROM b)),
             |pbits AS (SELECT (pk * 2654435761) % 4096 AS b0,
             |                 (pk * 40503 + 17) % 4096 AS b1 FROM probe),
             |fstat AS (SELECT g, min(key) AS mn, max(key) AS mx,
             |    max(CASE WHEN (key * 2654435761) % 4096 = b0
             |              OR (key * 40503 + 17) % 4096 = b0 THEN 1 ELSE 0 END) AS has0,
             |    max(CASE WHEN (key * 2654435761) % 4096 = b1
             |              OR (key * 40503 + 17) % 4096 = b1 THEN 1 ELSE 0 END) AS has1
             |  FROM b, pbits GROUP BY g),
             |m AS (SELECT count(*) AS n_rows,
             |    CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |  FROM b, probe WHERE key = pk)
             |SELECT (SELECT count(*) FROM fstat) AS n_files_total,
             |  (SELECT count(*) FROM fstat, probe WHERE mx >= pk AND mn <= pk)
             |    AS n_files_minmax,
             |  (SELECT count(*) FROM fstat, probe
             |   WHERE mx >= pk AND mn <= pk AND has0 = 1 AND has1 = 1)
             |    AS n_files_bloom,
             |  (SELECT pk FROM probe) AS probe_key, n_rows, sum_cents FROM m""".stripMargin)),

    // GENERATED PARTITION COLUMN (Delta's generated columns reduced to the
    // log essentials) — and the CONTRAST with per-file stats skipping that
    // motivates having both: a metadata-only commit declares the table's
    // `g=` partition values are `key div w` (a MONOTONE transform), so a
    // key-range predicate prunes partitions BY CONSTRUCTION. The fixture
    // stages 8 range-bucketed files but declares min/max stats for only
    // the first half (the real shape: old files stats'd, the fresh append
    // not yet) — stats skipping must then keep every un-stats'd file
    // (conservative), while the declared transform prunes ALL generations
    // the moment they land. Both decisions are part of the declared
    // output (DuckDB re-derives each from the same arithmetic) and both
    // safety laws are `require`d in-query. At 100 TB the two compose:
    // transform pruning cuts partitions with zero bookkeeping, stats
    // skipping cuts further WITHIN the surviving partitions once files
    // are stats'd.
    QDef(
      "table_gencol",
      (s, dir) => {
        import graft.sources.CommitLog
        val root = freshRunTmpPath(s, "graft_gencol_")
        val o = T.orders(s, dir)
          .select(col("o_orderkey").as("key"), col("o_totalprice").as("val"))
        val mx = o.agg(max("key")).head.getLong(0)
        val w = mx / 8L + 1L
        o.withColumn("g", expr(s"key div ${w}L"))
          .repartition(8, col("g"))
          .write.partitionBy("g").mode("overwrite").parquet(root)
        val statRows = s.read.option("basePath", root).parquet(root)
          .select(col("key"), col("_metadata.file_path").as("fp"))
          .groupBy("fp").agg(min("key").as("mn"), max("key").as("mx"))
          .collect()
        val all = statRows.map { r =>
          // URI-safe relativization (the `_metadata.file_path` column is a
          // percent-encoded file: URI — raw indexOf on it mis-keys under
          // any root containing ' ', '%', '#').
          CommitLog.relToRoot(root, r.getString(0)) ->
            (r.getLong(1), r.getLong(2))
        }.toMap
        require(all.size == 8, s"expected 8 range-bucket files, staged ${all.size}")
        // Only the first half is stats'd — the fresh-append simulation.
        val statsKnown = all.filter { case (p, _) =>
          p match {
            case s if s.startsWith("g=0/") || s.startsWith("g=1/")
              || s.startsWith("g=2/") || s.startsWith("g=3/") => true
            case _ => false
          }
        }
        // The spec is declared BEFORE any write — files bind the width
        // active when they are added (table creation declares the layout;
        // table_partition_evolve exercises changing it mid-life).
        CommitLog.setGencolDiv(root, 1L, w)
        CommitLog.commitFiles(root, 2L, adds = all.keys.toSeq.sorted,
          removes = Nil, stats = statsKnown)
        val (lo, hi) = (2L * w + w / 2L, 3L * w + w / 4L)
        val live = CommitLog.filesAsOf(root, Long.MaxValue)
        val byStats = CommitLog.filesAsOfPruned(root, Long.MaxValue, lo, hi)
        val byGencol = CommitLog.filesAsOfGencolPruned(root, Long.MaxValue, lo, hi)
        // No subset law between the two mechanisms in general (measured
        // stats can prune a partition the transform must keep) — but here
        // the un-stats'd half pins stats-skipping to >= 4 kept files while
        // the transform keeps <= 2, so the ordering is structural.
        require(byGencol.size < byStats.size && byStats.size < live.size,
          s"expected gencol < stats < total pruning, got ${byGencol.size}/${byStats.size}/${live.size}")
        def matched(paths: Seq[String]) =
          s.read.parquet(paths.map(f => s"$root/$f"): _*)
            .where(col("key").between(lo, hi))
        // Both safety laws: neither mechanism may drop matching ROWS.
        val full = matched(live).count()
        require(matched(byStats).count() == full, "stats skipping dropped rows")
        require(matched(byGencol).count() == full, "gencol pruning dropped rows")
        matched(byGencol).agg(
            count(lit(1)).as("n_rows"),
            sum(col("key")).cast("long").as("sum_key"),
            sum(expr("cast(floor(val * 1e2 + 0.5) as bigint)"))
              .cast("long").as("sum_cents"))
          .select(lit(live.size.toLong).as("n_files_total"),
            lit(byStats.size.toLong).as("n_stats_scanned"),
            lit(byGencol.size.toLong).as("n_gencol_scanned"),
            col("n_rows"), col("sum_key"), col("sum_cents"))
      },
      Some("""WITH o AS (SELECT o_orderkey AS key, o_totalprice AS val FROM orders),
             |p AS (SELECT CAST(max(key) // 8 + 1 AS BIGINT) AS w FROM o),
             |b AS (SELECT key, val, key // (SELECT w FROM p) AS g FROM o),
             |s AS (SELECT g, min(key) AS mn, max(key) AS mx FROM b GROUP BY g),
             |bounds AS (SELECT 2 * w + w // 2 AS lo, 3 * w + w // 4 AS hi,
             |  (2 * w + w // 2) // w AS glo, (3 * w + w // 4) // w AS ghi FROM p),
             |m AS (
             |  SELECT count(*) AS n_rows, CAST(sum(key) AS BIGINT) AS sum_key,
             |    CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |  FROM b, bounds WHERE key BETWEEN lo AND hi)
             |SELECT (SELECT count(*) FROM s) AS n_files_total,
             |  (SELECT count(*) FROM s, bounds
             |   WHERE (g <= 3 AND mx >= lo AND mn <= hi) OR g >= 4)
             |    AS n_stats_scanned,
             |  (SELECT count(*) FROM s, bounds WHERE g BETWEEN glo AND ghi)
             |    AS n_gencol_scanned,
             |  n_rows, sum_key, sum_cents FROM m""".stripMargin)),

    // PARTITION-SPEC EVOLUTION (Iceberg's signature capability): the table
    // RE-PARTITIONS mid-life — coarse width w1 for the first generation,
    // fine width w2 for the second — WITHOUT rewriting a byte. Each file
    // binds the spec active when it was added (per-file `gw` in the log;
    // checkpoint-carried), and a probe applies the right arithmetic to
    // each: old files prune under w1, new files under w2. The
    // load-bearing require: applying the LATEST spec to the old files
    // (what a spec-unaware reader would do) provably DROPS matching rows
    // on this fixture — per-file spec resolution is correctness, not
    // optimization. All three pruning counts are oracle-derived, and the
    // safety law (evolved pruning ≡ full scan under the predicate) is
    // require'd. At 100 TB this is how a table migrates from daily to
    // hourly partitioning without a petabyte rewrite: both layouts serve
    // side by side until compaction retires the old one.
    QDef(
      "table_partition_evolve",
      (s, dir) => {
        import graft.sources.CommitLog
        val root = freshRunTmpPath(s, "graft_pevolve_")
        val o = T.orders(s, dir)
          .select(col("o_orderkey").as("key"), col("o_totalprice").as("val"))
        val mx = o.agg(max("key")).head.getLong(0)
        val (w1, w2) = (mx / 4L + 1L, mx / 8L + 1L)
        def stage(parity: Long, sub: String, w: Long, parts: Int): Seq[String] = {
          o.where(col("key") % 2L === parity)
            .withColumn("g", expr(s"key div ${w}L"))
            .repartition(parts, col("g"))
            .write.partitionBy("g").mode("overwrite").parquet(s"$root/$sub")
          import scala.jdk.CollectionConverters._
          val base = java.nio.file.Paths.get(root)
          val st = java.nio.file.Files.walk(base.resolve(sub))
          try st.iterator().asScala
            .filter(p => p.getFileName.toString.endsWith(".parquet")
              && !p.getFileName.toString.startsWith("."))
            .map(p => base.relativize(p).toString).toVector.sorted
          finally st.close()
        }
        CommitLog.setGencolDiv(root, 1L, w1)
        val gen1 = stage(0L, "s1", w1, 4)
        CommitLog.commitFiles(root, 2L, adds = gen1, removes = Nil)
        CommitLog.setGencolDiv(root, 3L, w2) // the evolution
        val gen2 = stage(1L, "s2", w2, 8)
        CommitLog.commitFiles(root, 4L, adds = gen2, removes = Nil)
        val (lo, hi) = (2L * w2 + w2 / 2L, 3L * w2 + w2 / 4L)
        val live = CommitLog.filesAsOf(root, Long.MaxValue)
        val pruned = CommitLog.filesAsOfGencolPruned(root, Long.MaxValue, lo, hi)
        require(pruned.size < live.size, "evolution-aware pruning must bite")
        def matched(paths: Seq[String]) =
          s.read.parquet(paths.map(f => s"$root/$f"): _*)
            .where(col("key").between(lo, hi))
        val full = matched(live).count()
        require(matched(pruned).count() == full,
          "per-file-spec pruning dropped matching rows")
        // The spec-UNAWARE reading (latest width applied to every file)
        // must provably lose rows here — per-file specs are load-bearing.
        val GenPart = """g=(\d+)/""".r.unanchored
        val naive = live.filter {
          case GenPart(g) =>
            g.toLong >= lo / w2 && g.toLong <= hi / w2
          case _ => true
        }
        require(matched(naive).count() < full,
          "fixture must demonstrate that latest-spec pruning is WRONG for old files")
        val nOld = pruned.count(_.startsWith("s1/"))
        val nNew = pruned.count(_.startsWith("s2/"))
        matched(pruned).agg(
            count(lit(1)).as("n_rows"),
            sum(expr("cast(floor(val * 1e2 + 0.5) as bigint)"))
              .cast("long").as("sum_cents"))
          .select(lit(live.size.toLong).as("n_files_total"),
            lit(nOld.toLong).as("n_old_scanned"),
            lit(nNew.toLong).as("n_new_scanned"),
            col("n_rows"), col("sum_cents"))
      },
      Some("""WITH o AS (SELECT o_orderkey AS key, o_totalprice AS val FROM orders),
             |p AS (SELECT CAST(max(key) // 4 + 1 AS BIGINT) AS w1,
             |             CAST(max(key) // 8 + 1 AS BIGINT) AS w2 FROM o),
             |e AS (SELECT key, val, key // (SELECT w1 FROM p) AS g
             |      FROM o WHERE key % 2 = 0),
             |d AS (SELECT key, val, key // (SELECT w2 FROM p) AS g
             |      FROM o WHERE key % 2 = 1),
             |bounds AS (SELECT 2 * w2 + w2 // 2 AS lo, 3 * w2 + w2 // 4 AS hi,
             |           w1, w2 FROM p),
             |m AS (
             |  SELECT count(*) AS n_rows,
             |    CAST(sum(CAST(floor(val * 1e2 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |  FROM o, bounds WHERE key BETWEEN lo AND hi)
             |SELECT
             |  CAST((SELECT count(DISTINCT g) FROM e)
             |    + (SELECT count(DISTINCT g) FROM d) AS BIGINT) AS n_files_total,
             |  (SELECT count(DISTINCT g) FROM e, bounds
             |   WHERE g BETWEEN lo // w1 AND hi // w1) AS n_old_scanned,
             |  (SELECT count(DISTINCT g) FROM d, bounds
             |   WHERE g BETWEEN lo // w2 AND hi // w2) AS n_new_scanned,
             |  n_rows, sum_cents FROM m""".stripMargin))
  )
}
