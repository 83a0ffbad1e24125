package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer

/** The benchmark's JVM side: one workload, one seed, a closed loop with one
  * client at `local[cpus]`. Prints a report line, then the result line:
  * `{"correct", "attempted", "failed", "metrics"}` with the end-to-end
  * metrics (`--trace 0`) or the per-layer metrics (`--trace 1`).
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --cpus <n>
  *      --work <scratch dir> --spans <spans.json> [--fault]
  * }}}
  */
object Main {

  /** Set-up is repeated this many times per run; `setup_s` is the median. */
  val SetupRepeats = 3

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "rows_per_s" -> "1/s", "iter_s.p50" -> "s", "iter_s.tail" -> "s",
    "peak_rss_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "table.TileStore.ingest_s" -> "s", "table.TileStore.ingest_bytes_written" -> "bytes",
    "table.TileStore.scan_s" -> "s", "table.TileStore.scan_prune_ratio" -> "ratio",
    "table.Checkpoint.write_s" -> "s", "table.Checkpoint.read_s" -> "s",
    "table.Checkpoint.bytes_written" -> "bytes", "table.Checkpoint.files_written" -> "count",
    "sources.GeoJsonSource.read_s" -> "s", "sources.GeoJsonSource.write_s" -> "s",
    "sources.GeoJsonSource.bytes_in" -> "bytes", "sources.GeoJsonSource.bytes_out" -> "bytes",
    "core.GeoJson.explode_s" -> "s", "core.GeoJson.coords" -> "count",
    "ops.Elevation.probe_s" -> "s", "ops.Elevation.cogroup_s" -> "s",
    "ops.Elevation.reassemble_s" -> "s", "ops.Elevation.rows_probed" -> "count",
    "ops.Elevation.nodata_frac" -> "ratio", "ops.Elevation.tile_rows_per_tile" -> "ratio",
    "ops.TileIndex.build_s" -> "s", "ops.TileIndex.broadcast_bytes" -> "bytes",
    "core.TileCodec.decode_s_per_tile" -> "s", "raster.Bilinear.ns_per_sample" -> "ns",
    "raster.Bilinear.bytes_per_sample_computed" -> "bytes",
    "functions.tile_key_s" -> "s", "bench.gen_s" -> "s",
    "ops.SpatialJoin.pip_s" -> "s", "ops.SpatialJoin.pip_candidates_per_match" -> "ratio",
    "ops.SpatialJoin.cover_cells_per_poly" -> "ratio", "ops.SpatialJoin.knn_s" -> "s",
    "ops.SpatialJoin.knn_candidates_per_probe" -> "ratio", "ops.SpatialJoin.knn_jobs" -> "count"
  ) ++ Tracer.SparkCounters.map(k => s"spark.$k" -> (
    if (k.endsWith("_s")) "s" else if (k.endsWith("_bytes")) "bytes" else "count")) ++ Seq(
    "spark.task_skew" -> "ratio",
    "bench.rows_per_s_traced" -> "1/s", "bench.rows_per_s_untraced" -> "1/s",
    "bench.trace_overhead_frac" -> "ratio", "bench.bytes_written_per_input_byte" -> "ratio",
    "bench.input_gen_s" -> "s")

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, cpus: Int,
                        work: File, spans: File, fault: Boolean)

  private def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Opts(req("--workload"), req("--seed").toLong, req("--seconds").toInt, req("--trace") == "1",
      req("--cpus").toInt, new File(req("--work")), new File(req("--spans")), args.contains("--fault"))
  }

  def session(cpus: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()

  /** The value with ten samples above it, and its percentile; the maximum
    * when there are fewer than eleven samples.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size >= 11) (s(s.size - 11), 100.0 * (s.size - 10) / s.size) else (s.last, 100.0)
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val o = parse(args)
    o.work.mkdirs()
    val ctx = Ctx(o.seed, o.cpus, o.work, o.fault)
    val w = Workload.byName(o.workload, ctx)
    val (props, genS) = Bench.timed(w.generate())
    System.err.println(f"[perfbench] ${o.workload} seed ${o.seed}: JVM up " +
      f"${(System.currentTimeMillis() - jvmStartMs) / 1e3 - genS}%.2fs, inputs ${genS}%.2fs")

    var attempted = 0
    val errors = ArrayBuffer.empty[String]
    /** One closed-loop iteration; its check runs after the timed part. */
    def attempt(spark: SparkSession, wrap: (=> (Double, () => Option[String])) =>
        (Double, () => Option[String])): Option[Double] = {
      attempted += 1
      try {
        val (secs, check) = wrap(w.iteration(spark, attempted))
        check() match {
          case None => Some(secs)
          case Some(e) => errors += s"iteration $attempted: $e"; None
        }
      } catch {
        case e: Throwable => errors += s"iteration $attempted: ${e.toString.take(500)}"; None
      }
    }
    def plain(body: => (Double, () => Option[String])) = body

    // Set-up, repeated: a SparkSession, the workload's prepared state and one
    // warm-up iteration. The first also starts the JVM and the SparkContext;
    // the repeats open a new session on the running context.
    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (0 until SetupRepeats).foreach { k =>
      val t0 = System.nanoTime()
      spark = if (spark == null) session(o.cpus) else spark.newSession()
      val t1 = System.nanoTime()
      w.prepare(spark)
      val t2 = System.nanoTime()
      attempt(spark, plain)
      setups += (if (k == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3 - genS
                 else (System.nanoTime() - t0) / 1e9)
      System.err.println(f"[perfbench] set-up ${k + 1}: session ${(t1 - t0) / 1e9}%.2fs, " +
        f"prepare ${(t2 - t1) / 1e9}%.2fs, warm-up ${(System.nanoTime() - t2) / 1e9}%.2fs")
    }
    System.gc()

    val times = ArrayBuffer.empty[Double]
    val layers = ArrayBuffer.empty[Map[String, Double]]
    val deadline = System.nanoTime() + o.seconds * 1000000000L
    if (!o.trace) {
      do attempt(spark, plain).foreach(times += _)
      while (System.nanoTime() < deadline)
    } else {
      // per pass: the ladder and the job under tracing, then the job untraced
      val tracedTimes = ArrayBuffer.empty[Double]
      val t = new Tracer(spark)
      val kernels = w.kernels()
      var pass = 0
      do {
        t.newRun(s"pass-$pass")
        t.attach()
        try {
          val ladder = w.traced(spark, t)
          var totals = Map.empty[String, Double]
          attempt(spark, body => {
            val (r, s) = t.traced("job")(body)
            totals = t.sparkTotals(s).map { case (k, v) => s"spark.$k" -> v }
            r
          }).foreach(tracedTimes += _)
          layers += ladder ++ totals
        } catch {
          case e: Throwable => attempted += 1; errors += s"traced pass $pass: ${e.toString.take(500)}"
        } finally t.detach()
        attempt(spark, plain).foreach(times += _)
        pass += 1
      } while (System.nanoTime() < deadline)
      Files.write(o.spans.toPath, Json.render(t.toJson).getBytes(StandardCharsets.UTF_8))
      val units = w.unitsPerIter.toDouble
      val traced = if (tracedTimes.isEmpty) 0.0 else units / Bench.median(tracedTimes.toSeq)
      val untraced = if (times.isEmpty) 0.0 else units / Bench.median(times.toSeq)
      layers += kernels ++ Map("bench.rows_per_s_traced" -> traced,
        "bench.rows_per_s_untraced" -> untraced,
        "bench.trace_overhead_frac" -> (if (traced > 0) untraced / traced - 1 else 0.0),
        "bench.bytes_written_per_input_byte" -> w.bytesWrittenPerInputByte,
        "bench.input_gen_s" -> genS)
    }
    spark.stop()

    val failed = errors.size
    val metrics: Seq[(String, Any)] =
      if (!o.trace) {
        val p50 = if (times.isEmpty) 0.0 else Bench.median(times.toSeq)
        val values = Map(
          "setup_s" -> Bench.median(setups.toSeq),
          "rows_per_s" -> (if (p50 > 0) w.unitsPerIter / p50 else 0.0),
          "iter_s.p50" -> p50,
          "iter_s.tail" -> (if (times.isEmpty) 0.0 else tail(times.toSeq)._1),
          "peak_rss_mb" -> peakRssMb())
        EndToEnd.map { case (k, u) => k -> Json.Obj("value" -> values(k), "unit" -> u) }
      } else {
        val unknown = layers.flatMap(_.keys).toSet -- PerLayer.map(_._1)
        require(unknown.isEmpty, s"unlisted per-layer metrics: ${unknown.mkString(", ")}")
        PerLayer.map { case (k, u) =>
          val xs = layers.flatMap(_.get(k)).toSeq
          k -> Json.Obj("value" -> (if (xs.isEmpty) 0.0 else Bench.median(xs)), "unit" -> u)
        }
      }
    val report = Json.Obj(
      "workload" -> o.workload, "seed" -> o.seed, "cpus" -> o.cpus, "trace" -> o.trace,
      "loop" -> "closed, 1 client", "gen_s" -> genS, "setup_s_samples" -> setups.toSeq,
      "iterations_timed" -> times.size, "iter_s_samples" -> times.toSeq,
      "iter_s_tail_percentile" -> (if (times.isEmpty) 0.0 else tail(times.toSeq)._2),
      "failed_frac" -> failed.toDouble / math.max(1, attempted),
      "bytes_written_per_input_byte" -> w.bytesWrittenPerInputByte,
      "input" -> Json.Obj(props: _*), "errors" -> errors.take(5).toSeq)
    println("report " + Json.render(report))
    println(Json.render(Json.Obj("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> Json.Obj(metrics: _*))))
    System.out.flush()
    System.exit(if (failed == 0) 0 else 1)
  }
}
