package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pixel-tier scale sweep (round 17): the frame family's declared QDefs
  * prove SEMANTICS on fixed micro-scenes (32×32×7 — the scene size is part
  * of each oracle's contract), so their scaling exponents cannot be
  * measured by pointing them at a bigger sfdir the way graft.ScaleStage
  * measures the iterative/index families. This main re-runs the SAME four
  * pixel plans — difference imaging (frame_difference's chain), median
  * coadd (frame_stack), forced photometry (frame_forced_photometry), and
  * decode-from-bytes aperture photometry (frame_photometry_bytes) —
  * parameterized by scene size, at a BASE scene and at 10× the pixels,
  * timing each (min-of-2) and emitting the ratio/exponent JSON merged into
  * BENCH_SCALE.json.
  *
  * Honesty rules carried over from ScaleStage:
  *  - every chain keeps its in-query LAW at both scales (detections ≡
  *    injections with exact 5A fluxes; stack ≡ static scene on every
  *    pixel; forced completeness + detected-epoch consistency; decoded
  *    bytes ≡ generator arithmetic pixel-for-pixel) — a fast-but-wrong
  *    plan cannot post a number;
  *  - injections SCALE with the scene (one per 256 pixels on a
  *    non-blending 8-lattice), so the sparse-detection tier grows
  *    linearly with the pixel tier, as a real field would;
  *  - difference/stack/forced scale the GRID at fixed epoch count
  *    (bigger field, the survey-CCD axis); the bytes chain scales the
  *    FRAME COUNT at fixed grid (more exposures, the archive axis — and
  *    the axis that exercises per-file decode parallelism);
  *  - the injection join is the EQUI-join form (injections exploded to
  *    their 9 pixels, broadcast): the micro-scene QDef can afford a
  *    nested-loop ±1 window; pixels × injections cannot.
  *
  * Usage: PixelScale [cpus via SPARK_GRAFT_CPUS]; prints one JSON line.
  */
object PixelScale {

  /** Injection schedule: one transient per 256 pixels on an 8-spaced
    * lattice (non-blending: lattice spacing 8 > the 3-wide stamp + 2-wide
    * detection probe), frames 1..epochs−1 round-robin, even amplitudes so
    * total stamp flux is exactly 5·amp. */
  private def injections(s: SparkSession, grid: Long, epochs: Long)
      : DataFrame = {
    val nx = (grid - 4L) / 8L
    val k = (grid * grid) / 256L
    s.range(0L, k).select(
      (lit(1L) + col("id") % (epochs - 1L)).as("frame_id"),
      (lit(2L) + (col("id") % nx) * 8L).as("tx"),
      // integer div — Column./ is FLOAT division and a fractional ty
      // would silently miss the pixel equi-join
      (lit(2L) + expr(s"id div $nx") * 8L).as("ty"),
      (lit(400L) + (col("id") % 10L) * 20L).as("amp"))
  }

  /** The deterministic field: static hash-noise base + per-epoch pedestal
    * + the injected stamps (amp at center, amp div 2 on the 8 ring
    * pixels), attached by BROADCAST EQUI-join on (frame, x, y). */
  private def scene(s: SparkSession, grid: Long, epochs: Long)
      : (DataFrame, DataFrame) = {
    val inj = injections(s, grid, epochs)
    val injPx = inj
      .withColumn("dx", explode(sequence(lit(-1L), lit(1L))))
      .withColumn("dy", explode(sequence(lit(-1L), lit(1L))))
      .select(col("frame_id"), (col("tx") + col("dx")).as("x"),
        (col("ty") + col("dy")).as("y"),
        when(col("dx") === 0L && col("dy") === 0L, col("amp"))
          .otherwise(expr("amp div 2")).as("tr"))
    val px = s.range(0L, epochs).select(col("id").as("frame_id"))
      .crossJoin(s.range(0L, grid * grid).select(
        expr(s"id % $grid").as("x"), expr(s"id div $grid").as("y")))
      .withColumn("base",
        lit(100L) + (col("x") * 73L + col("y") * 149L) * 2654435761L % 97L)
      .join(broadcast(injPx), Seq("frame_id", "x", "y"), "left")
      .select(col("frame_id"), col("x"), col("y"), col("base"),
        (col("base") + col("frame_id") * 7L + coalesce(col("tr"), lit(0L)))
          .as("v"))
    (inj, px)
  }

  /** frame_difference's plan at scale: reference-subtract, sky = mode of
    * the difference, threshold + strict 8-neighbor local max over the
    * bounded ≤9-cell probe. Laws: |detections| ≡ |injections| and every
    * detection sits at its injection with flux exactly 5·amp. */
  private def residAndDet(s: SparkSession, grid: Long, epochs: Long)
      : (DataFrame, DataFrame, DataFrame) = {
    val (inj, px) = scene(s, grid, epochs)
    val refpx = px.where(col("frame_id") === 0L)
      .select(col("x"), col("y"), col("v").as("v0"))
    val diff = px.where(col("frame_id") > 0L)
      .join(refpx, Seq("x", "y"))
      .select(col("frame_id"), col("x"), col("y"),
        (col("v") - col("v0")).as("d"))
    val sky = diff.groupBy("frame_id", "d").agg(count(lit(1)).as("n"))
      .groupBy("frame_id")
      .agg(max(struct(col("n"), (-col("d")).as("nd"))).as("m"))
      .select(col("frame_id"), (-col("m.nd")).as("sky"))
    val resid = diff.join(broadcast(sky), Seq("frame_id"))
      .select(col("frame_id"), col("x"), col("y"),
        (col("d") - col("sky")).as("r"))
    val det = resid.where(col("r") >= 200L)
      .select(col("frame_id"), col("x"), col("y"), col("r").as("peak"))
      .withColumn("dcx", explode(sequence(lit(-1L), lit(1L))))
      .withColumn("dcy", explode(sequence(lit(-1L), lit(1L))))
      .join(resid.select(col("frame_id").as("nfr"), col("x").as("nx"),
          col("y").as("ny"), col("r").as("nr")),
        col("nfr") === col("frame_id") &&
          col("nx") === col("x") + col("dcx") &&
          col("ny") === col("y") + col("dcy"))
      .groupBy("frame_id", "x", "y", "peak")
      .agg(sum(when((col("dcx") =!= 0L || col("dcy") =!= 0L) &&
          col("nr") >= col("peak"), 1L).otherwise(0L)).as("n_ge"),
        sum(col("nr")).as("flux"))
      .where(col("n_ge") === 0L)
      .select(col("frame_id"), col("x"), col("y"), col("flux"))
    (inj, resid, det)
  }

  private def lawDifference(s: SparkSession, grid: Long, epochs: Long)
      : Unit = {
    val (inj, _, det) = residAndDet(s, grid, epochs)
    val d = det.localCheckpoint()
    val matched = d.join(inj,
      d("frame_id") === inj("frame_id") && d("x") === inj("tx") &&
        d("y") === inj("ty") && d("flux") === inj("amp") * 5L)
      .count()
    val (nd, ni) = (d.count(), inj.count())
    require(nd == ni && matched == ni,
      s"difference law at grid=$grid: det=$nd inj=$ni matched=$matched")
  }

  /** frame_stack's plan at scale: photometric align by the mode of each
    * epoch's difference vs epoch 0, per-pixel exact median of the aligned
    * stack. Law: stack ≡ the static scene on EVERY pixel (each pixel is
    * elevated in ≤1 of `epochs` epochs — median rejects it). */
  private def lawStack(s: SparkSession, grid: Long, epochs: Long): Unit = {
    val (_, px) = scene(s, grid, epochs)
    val refpx = px.where(col("frame_id") === 0L)
      .select(col("x"), col("y"), col("v").as("v0"), col("base"))
    val mode = px.where(col("frame_id") > 0L)
      .join(refpx.select("x", "y", "v0"), Seq("x", "y"))
      .select(col("frame_id"), (col("v") - col("v0")).as("d"))
      .groupBy("frame_id", "d").agg(count(lit(1)).as("n"))
      .groupBy("frame_id")
      .agg(max(struct(col("n"), (-col("d")).as("nd"))).as("m"))
      .select(col("frame_id"), (-col("m.nd")).as("off"))
    val aligned = px.join(broadcast(mode), Seq("frame_id"), "left")
      .select(col("x"), col("y"), col("base"),
        (col("v") - coalesce(col("off"), lit(0L))).as("va"))
    val stack = aligned.groupBy("x", "y", "base")
      .agg(sort_array(collect_list(col("va"))).as("vs"))
      .select(col("x"), col("y"), col("base"),
        element_at(col("vs"), ((epochs + 1L) / 2L).toInt).as("med"))
    val bad = stack.where(col("med") =!= col("base")).count()
    require(bad == 0L, s"stack law at grid=$grid: $bad pixels diverged")
  }

  /** frame_forced_photometry's plan at scale: forced ≤9-cell aperture at
    * every (candidate position, epoch). Laws: completeness (one row per
    * candidate × epoch) and detected-epoch consistency (forced ≡
    * detection flux). */
  private def lawForced(s: SparkSession, grid: Long, epochs: Long): Unit = {
    val (_, resid, det) = residAndDet(s, grid, epochs)
    val d = det.localCheckpoint()
    val cand = d.select(col("x").as("cx0"), col("y").as("cy0")).distinct()
    val probe = cand
      .withColumn("dcx", explode(sequence(lit(-1L), lit(1L))))
      .withColumn("dcy", explode(sequence(lit(-1L), lit(1L))))
      .select(col("cx0"), col("cy0"),
        (col("cx0") + col("dcx")).as("x"), (col("cy0") + col("dcy")).as("y"))
    val forced = probe.join(resid, Seq("x", "y"))
      .groupBy(col("frame_id"), col("cx0"), col("cy0"))
      .agg(sum("r").as("forced"))
    val f = forced.localCheckpoint()
    val nPos = cand.count()
    val rows = f.count()
    require(rows == nPos * (epochs - 1L),
      s"forced completeness at grid=$grid: $rows rows for $nPos × ${epochs - 1}")
    val inconsistent = f.join(d,
      f("frame_id") === d("frame_id") && f("cx0") === d("x") &&
        f("cy0") === d("y") && f("forced") =!= d("flux")).count()
    require(inconsistent == 0L,
      s"forced ≠ detected flux at grid=$grid on $inconsistent rows")
  }

  /** frame_photometry_bytes' plan at scale: stage `frames` BITPIX=16 FITS
    * files of a fixed 128×128 field, decode via binaryFile +
    * mapPartitions, require decoded ≡ generator on every pixel, then the
    * aperture/annulus rollup per star. Scales the FRAME COUNT (the
    * archive axis — per-file decode parallelism). */
  private def lawBytes(s: SparkSession, frames: Long): Unit = {
    val grid = 128L
    graft.FsUtil.sweepStaleTmp("graft_pxscale_")
    val root = java.nio.file.Files
      .createTempDirectory(s"graft_pxscale_${frames}_").toString
    s.range(0L, frames).toDF("i")
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        def card(k: String, v: String): String =
          (k.padTo(8, ' ') + "= " + (" " * (20 - v.length)) + v).padTo(80, ' ')
        it.foreach { r =>
          val i = r.getLong(0)
          val hdr = (card("SIMPLE", "T") + card("BITPIX", "16") +
            card("NAXIS", "2") + card("NAXIS1", grid.toString) +
            card("NAXIS2", grid.toString) + card("FRAMEID", i.toString) +
            "END".padTo(80, ' ')).padTo(2880, ' ')
          val n = (grid * grid).toInt
          val dataLen = 2 * n
          val padded = ((dataLen + 2879) / 2880) * 2880
          val buf = java.nio.ByteBuffer.allocate(2880 + padded)
          buf.put(hdr.getBytes("US-ASCII"))
          var j = 0
          while (j < n) {
            val x = j % grid.toInt; val y = j / grid.toInt
            var v = 100L + i +
              ((x * 73L + y * 149L + i * 31L) * 2654435761L) % 97L
            var st = 0
            while (st < 15) {
              if (math.abs(x - (8 + (st % 7) * 16)) <= 1 &&
                  math.abs(y - (8 + (st / 7) * 16)) <= 1)
                v += 500L + st * 20L + (i % 50L) * 10L
              st += 1
            }
            buf.putShort(v.toShort)
            j += 1
          }
          java.nio.file.Files.write(
            java.nio.file.Paths.get(root, f"frame_$i%05d.fits"),
            buf.array()): Unit
        }
      }
    val bin = s.read.format("binaryFile")
      .option("pathGlobFilter", "*.fits").load(root)
    import s.implicits._
    val px = bin.select(col("content")).as[Array[Byte]]
      .mapPartitions { files =>
        files.flatMap { bytes =>
          val hdr = new String(bytes, 0, 2880, "US-ASCII")
          def kv(k: String): Long = {
            val at = hdr.indexOf(k.padTo(8, ' ') + "=")
            require(at >= 0, s"FITS card $k missing")
            hdr.substring(at + 10, at + 30).trim.toLong
          }
          val (fid, n1, n2) = (kv("FRAMEID"), kv("NAXIS1"), kv("NAXIS2"))
          val bb = java.nio.ByteBuffer.wrap(bytes)
          (0L until n1 * n2).iterator.map { j =>
            (fid, j % n1, j / n1, bb.getShort((2880 + 2 * j).toInt).toLong)
          }
        }
      }.toDF("frame_id", "x", "y", "v")
    // Byte-roundtrip law: decoded ≡ the generator arithmetic, every pixel.
    val stars = s.range(0L, frames)
      .select(col("id").as("frame_id"),
        explode(sequence(lit(0L), lit(14L))).as("star"))
      .select(col("frame_id"), col("star"),
        (lit(8L) + (col("star") % 7L) * 16L).as("sx"),
        (lit(8L) + expr("star div 7") * 16L).as("sy"),
        (lit(500L) + col("star") * 20L + (col("frame_id") % 50L) * 10L)
          .as("flux_in"))
    val starPx = stars
      .withColumn("dx", explode(sequence(lit(-1L), lit(1L))))
      .withColumn("dy", explode(sequence(lit(-1L), lit(1L))))
      .select(col("frame_id"), (col("sx") + col("dx")).as("x"),
        (col("sy") + col("dy")).as("y"), col("flux_in").as("tr"))
    val gen = s.range(0L, frames).select(col("id").as("frame_id"))
      .crossJoin(s.range(0L, grid * grid).select(
        expr(s"id % $grid").as("x"), expr(s"id div $grid").as("y")))
      .withColumn("base", lit(100L) + col("frame_id") +
        (col("x") * 73L + col("y") * 149L + col("frame_id") * 31L)
          * 2654435761L % 97L)
      .join(broadcast(starPx), Seq("frame_id", "x", "y"), "left")
      .select(col("frame_id"), col("x"), col("y"),
        // the writer truncates to short — mirror it exactly
        expr("cast(cast(base + coalesce(tr, 0L) as smallint) as bigint)")
          .as("vg"))
    val mism = px.join(gen, Seq("frame_id", "x", "y"))
      .where(col("v") =!= col("vg")).count()
    require(mism == 0L, s"decode law at frames=$frames: $mism pixel mismatches")
    // Aperture/annulus rollup (the declared chain's shape).
    val cell = 11L
    val probed = px
      .withColumn("dcx", explode(sequence(lit(-1L), lit(1L))))
      .withColumn("dcy", explode(sequence(lit(-1L), lit(1L))))
      .select(col("frame_id"), col("x"), col("y"), col("v"),
        (expr(s"x div $cell") + col("dcx")).as("cx"),
        (expr(s"y div $cell") + col("dcy")).as("cy"))
    val joined = probed.join(stars
        .select(col("frame_id"), col("star"), col("sx"), col("sy"),
          expr(s"sx div $cell").as("cx"), expr(s"sy div $cell").as("cy")),
      Seq("frame_id", "cx", "cy"))
      .withColumn("cheb", greatest(abs(col("x") - col("sx")),
        abs(col("y") - col("sy"))))
    val ap = joined.where(col("cheb") <= 2L)
      .groupBy("frame_id", "star")
      .agg(sum("v").as("ap_sum"), count(lit(1)).as("n_ap"))
    val nOut = ap.count()
    require(nOut == frames * 15L,
      s"aperture rollup at frames=$frames: $nOut rows, expected ${frames * 15L}")
    graft.FsUtil.deleteRecursively(new java.io.File(root))
  }

  private def minOf2(body: => Unit): Double = {
    def once: Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    math.min(once, once)
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val s = GraftSession.builder(cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // Base scene = 256² × 7 epochs; 10× pixels = 810² (810²/256² = 10.01).
    // Bytes chain: 24 → 240 frames of a fixed 128² field.
    val (gBase, gBig, ep) = (256L, 810L, 7L)
    val chains: Seq[(String, Long => Unit)] = Seq(
      ("frame_difference", (g: Long) => lawDifference(s, g, ep)),
      ("frame_stack", (g: Long) => lawStack(s, g, ep)),
      ("frame_forced_photometry", (g: Long) => lawForced(s, g, ep)))
    // JIT/codegen warm-up at a tiny grid, outside the timed passes.
    chains.foreach { case (_, f) => f(64L) }
    lawBytes(s, 4L)
    def clear(): Unit = {
      s.catalog.clearCache()
      s.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    clear()
    val results = chains.map { case (name, f) =>
      val t1 = minOf2 { f(gBase) }; clear()
      val t10 = minOf2 { f(gBig) }; clear()
      (name, t1, t10)
    } :+ {
      val t1 = minOf2 { lawBytes(s, 24L) }; clear()
      val t10 = minOf2 { lawBytes(s, 240L) }; clear()
      ("frame_photometry_bytes", t1, t10)
    }
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val entries = results.map { case (name, t1, t10) =>
      val ratio = t10 / t1
      val exp = math.log10(ratio)
      s""""$name":{"base_sec":${num(t1)},"x10_sec":${num(t10)},"ratio_10x":${num(ratio)},"exponent":${num(exp)}}"""
    }
    println(s"""{"metric":"pixel_scale","epochs":$ep,"base_grid":$gBase,"x10_grid":$gBig,"bytes_frames":[24,240],"queries":{${entries.mkString(",")}}}""")
    s.stop()
  }
}
