package perfbench

import graft.core.{DecodedTile, TileCodec, TileRow}
import graft.raster.{Bilinear, Hgt}
import graft.synth.TileGen
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File
import java.nio.file.{Files, Path}

/** Run-wide settings. `work` is the run's scratch directory: generated
  * inputs, tile stores, checkpoints and outputs all live under it.
  */
final case class Ctx(seed: Long, cpus: Int, work: File, fault: Boolean) {
  def dir(name: String): File = { val d = new File(work, name); d.mkdirs(); d }
}

/** One benchmark workload. The benchmark generates inputs once per run
  * (`generate`, no Spark), prepares program state once per session
  * (`prepare`, part of set-up), then runs closed-loop iterations.
  */
trait Workload {
  /** Work units per iteration: probes, input coordinates or points. */
  def unitsPerIter: Long
  /** Benchmark-side inputs and oracle. Returns the measured input properties. */
  def generate(): Seq[(String, Any)]
  def prepare(spark: SparkSession): Unit = ()
  /** Run the program once. Returns the seconds the program took and the
    * check of its outputs, run after timing: the reason they are wrong, if
    * they are.
    */
  def iteration(spark: SparkSession, i: Int): (Double, () => Option[String])
  /** One traced pass: spans around each layer call, ladder rungs for the
    * lazy layers. Returns per-layer values by metric name.
    */
  def traced(spark: SparkSession, t: Tracer): Map[String, Double]
  /** Layer constants measured outside Spark, once per traced run. */
  def kernels(): Map[String, Double] = Map.empty
  /** Bytes written per input byte, for workloads that write. */
  def bytesWrittenPerInputByte: Double = 0.0
}

object Workload {
  def byName(name: String, ctx: Ctx): Workload = name match {
    case "geojson_job" => new GeojsonJob(ctx)
    case "elev_probe_bcast" => new ProbeBcast(ctx)
    case "elev_probe_shuffle_skew" => new ProbeShuffleSkew(ctx)
    case "spatial_join" => new SpatialJoinWorkload(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

/** Helpers shared by the workloads. */
object Bench {

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Materialize a plan to the `noop` sink (one ladder rung). */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Order-independent 64-bit mix used for output checksums. */
  def mix(x: Long): Long = {
    var z = x * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 31)) * 0xBF58476D1CE4E5B9L
    z ^ (z >>> 29)
  }

  /** Count, sum and bit checksum of a double column. */
  final case class Agg(n: Long, sum: Double, bits: Long, zeros: Long)

  /** Aggregate a double column per partition and merge the partials on the
    * driver in partition order: no shuffle, and a sum that does not depend
    * on the order tasks finish in.
    */
  def aggregate(df: DataFrame, column: String): Agg = {
    val qe = df.select(column).queryExecution
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench.aggregate")) {
      qe.toRdd.mapPartitions { it =>
        var n = 0L; var s = 0.0; var bits = 0L; var zeros = 0L
        while (it.hasNext) {
          val e = it.next().getDouble(0)
          n += 1; s += e; bits += mix(java.lang.Double.doubleToRawLongBits(e))
          if (e == 0.0) zeros += 1
        }
        Iterator((n, s, bits, zeros))
      }.collect()
    }
    parts.foldLeft(Agg(0, 0.0, 0, 0)) { case (a, (n, s, b, z)) =>
      Agg(a.n + n, a.sum + s, a.bits + b, a.zeros + z) }
  }

  /** Recursive byte and file count under a directory. */
  def du(f: File): (Long, Long) =
    if (!f.exists()) (0L, 0L)
    else if (f.isFile) (f.length(), 1L)
    else Option(f.listFiles()).toSeq.flatten.map(du).foldLeft((0L, 0L)) {
      case ((a, b), (c, d)) => (a + c, b + d) }

  def rm(f: File): Unit = if (f.exists()) {
    val p: Path = f.toPath
    Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** A seeded terrain: the `TileGen` curvy field plus a per-tile offset. */
  def grid(seed: Long, swLng: Int, swLat: Int, size: Int): Array[Short] = {
    val off = java.lang.Math.floorMod(mix(seed * 7919 + swLng * 1000 + swLat), 500L).toShort
    TileGen.grid(swLng, swLat, size,
      (lng, lat, r, c) => (TileGen.sampleAt(lng, lat, r, c) + off).toShort)
  }

  /** Write seeded `.hgt` files named by tile key. Returns the oracle's tiles. */
  def writeHgt(seed: Long, corners: Seq[(Int, Int)], size: Int, dir: File): Map[Int, DecodedTile] =
    corners.map { case (lng, lat) =>
      val key = graft.geo.TileKey.ofDegrees(lng, lat)
      val bytes = Hgt.encode(grid(seed, lng, lat, size), size)
      Files.write(new File(dir, s"$key.hgt").toPath, bytes)
      val d = TileCodec.decode(TileRow(key, bytes, size, size, "hgt", "", 0L))
      tileKey(lng, lat) -> d
    }.toMap

  def tileKey(swLng: Int, swLat: Int): Int = (swLat + 90) * 360 + (swLng + 180)

  /** Scalar oracle: bilinear over the decoded tile, 0.0 where no tile. */
  def oracleElev(tiles: Map[Int, DecodedTile], lng: Double, lat: Double): Double = {
    val swLng = math.floor(lng); val swLat = math.floor(lat)
    tiles.get(tileKey(swLng.toInt, swLat.toInt)) match {
      case Some(d) => Bilinear.sampleGrid(d.samples, d.size, swLng, swLat, lng, lat)
      case None => 0.0
    }
  }

  /** Single-thread `Bilinear.sampleGrid` loop over the given probes (tiles
    * resolved before timing; probes on missing tiles skipped). Median of 5
    * passes, in ns per sample.
    */
  def nsPerSample(tiles: Map[Int, DecodedTile], lngs: Array[Double], lats: Array[Double]): Double = {
    val hit = lngs.indices.filter(i =>
      tiles.contains(tileKey(math.floor(lngs(i)).toInt, math.floor(lats(i)).toInt))).toArray
    val ds = hit.map(i => tiles(tileKey(math.floor(lngs(i)).toInt, math.floor(lats(i)).toInt)))
    val xs = hit.map(lngs); val ys = hit.map(lats)
    var sink = 0.0
    val passes = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < xs.length) {
        val d = ds(i)
        sink += Bilinear.sampleGrid(d.samples, d.size, d.swLng.toDouble, d.swLat.toDouble, xs(i), ys(i))
        i += 1
      }
      (System.nanoTime() - t0).toDouble / math.max(1, xs.length)
    }
    if (sink == 42.0) System.err.println("") // keeps the loop observable
    median(passes)
  }

  /** Raster bytes one bilinear sample reads: four int16 corners (computed). */
  val BytesPerSample = 8.0

  /** Median seconds of `TileCodec.decode` over the given tile rows. */
  def decodeSecondsPerTile(rows: Seq[TileRow]): Double =
    median(rows.map(r => timed(TileCodec.decode(r))._2))
}
