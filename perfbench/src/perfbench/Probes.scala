package perfbench

import graft.core.{CoordRow, DecodedTile, TileRow}
import graft.functions.spatial.tile_key
import graft.ops.{Elevation, TileIndex}
import graft.table.TileStore
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}

import java.io.File
import java.lang.Math.floorMod

/** Seeded trail-ordered probe frame, built by Spark from `spark.range` and
  * replayed bit-for-bit by [[lngLat]] for the oracle.
  *
  * Trail `t` (one `spark.range` row) picks its tile from `choice` (1000
  * buckets over `corners`) and a start cell by hashing `t` with the seed,
  * then fans out to `trailLen` probes `id = t * trailLen + step` through a
  * constant-array explode. Consecutive probes walk adjacent raster columns
  * with a slow row drift, at a seeded offset inside each cell. Per-probe
  * work is a few integer operations, so the generator stays a small share
  * of the job.
  */
final class ProbeGen(seed: Long, val n: Long, trailLen: Int,
                     val corners: IndexedSeq[(Int, Int)], choice: Array[Int], parts: Int) {
  require(n % trailLen == 0, s"$n probes is not a whole number of $trailLen-probe trails")

  private val fxOff = floorMod(Bench.mix(seed), 1000L)
  private val fyOff = floorMod(Bench.mix(seed + 1), 1000L)

  def frame(spark: SparkSession): DataFrame = {
    val lngs = typedLit(corners.map(_._1).toArray)
    val lats = typedLit(corners.map(_._2).toArray)
    spark.range(0, n / trailLen, 1, parts)
      .select(col("id").as("trail"),
        xxhash64(col("id"), lit(seed)).as("h1"), xxhash64(col("id"), lit(seed + 1)).as("h2"))
      .withColumn("t", element_at(typedLit(choice), (pmod(col("h1"), lit(1000L)) + 1).cast("int")))
      .select(col("trail"),
        element_at(lngs, col("t") + 1).as("sw_lng"), element_at(lats, col("t") + 1).as("sw_lat"),
        pmod(col("h2"), lit(1200L)).as("c0"), pmod(shiftright(col("h2"), 16), lit(1200L)).as("r0"),
        explode(typedLit((0L until trailLen).toArray)).as("step"))
      .withColumn("id", col("trail") * lit(trailLen.toLong) + col("step"))
      .select(col("id"), col("trail"), col("step"),
        (col("sw_lng") + (pmod(col("c0") + col("step"), lit(1200L)) +
          (pmod(col("id") * lit(7919L) + lit(fxOff), lit(1000L)) + lit(0.5)) / lit(1000.0)) /
          lit(1200.0)).as("lng"),
        (col("sw_lat") + (pmod(col("r0") + expr("step div 64"), lit(1200L)) +
          (pmod(col("id") * lit(104729L) + lit(fyOff), lit(1000L)) + lit(0.5)) / lit(1000.0)) /
          lit(1200.0)).as("lat"))
  }

  private def h(v: Long, s: Long): Long = XXH64.hashLong(s, XXH64.hashLong(v, 42L))

  /** Tile index (into `corners`) of a trail. */
  def tileOf(trail: Long): Int = choice(floorMod(h(trail, seed), 1000L).toInt)

  /** Per-trail start: tile corner, start column and row, tile index. */
  private final case class Trail(swLng: Int, swLat: Int, c0: Long, r0: Long, tile: Int)

  private def trail(t: Long): Trail = {
    val h2 = h(t, seed + 1)
    val tile = tileOf(t)
    Trail(corners(tile)._1, corners(tile)._2, floorMod(h2, 1200L), floorMod(h2 >> 16, 1200L), tile)
  }

  private def place(id: Long, step: Long, tr: Trail): (Double, Double) =
    (tr.swLng + (floorMod(tr.c0 + step, 1200L) +
      (floorMod(id * 7919L + fxOff, 1000L) + 0.5) / 1000.0) / 1200.0,
      tr.swLat + (floorMod(tr.r0 + step / 64, 1200L) +
        (floorMod(id * 104729L + fyOff, 1000L) + 0.5) / 1000.0) / 1200.0)

  /** (lng, lat) of probe `id`, exactly as [[frame]] computes it. */
  def lngLat(id: Long): (Double, Double) = place(id, floorMod(id, trailLen.toLong), trail(id / trailLen))

  def oracle(tiles: Map[Int, DecodedTile], hotTile: Int): ProbeOracle = {
    var bits = 0L; var zeros = 0L; var nodata = 0L; var hot = 0L
    var t = 0L
    while (t < n / trailLen) {
      val tr = trail(t)
      val present = tiles.contains(Bench.tileKey(tr.swLng, tr.swLat))
      if (!present) nodata += trailLen
      if (tr.tile == hotTile) hot += trailLen
      var step = 0L
      while (step < trailLen) {
        val (lng, lat) = place(t * trailLen + step, step, tr)
        val e = Bench.oracleElev(tiles, lng, lat)
        bits += Bench.mix(java.lang.Double.doubleToRawLongBits(e))
        if (e == 0.0) zeros += 1
        step += 1
      }
      t += 1
    }
    ProbeOracle(bits, zeros, nodata, hot)
  }

  /** The first `k` probes, for the single-thread sampling loop. */
  def sample(k: Int): (Array[Double], Array[Double]) = {
    val ps = (0L until math.min(n, k.toLong)).map(lngLat)
    (ps.map(_._1).toArray, ps.map(_._2).toArray)
  }
}

/** Expected output over every probe, plus the input properties. */
final case class ProbeOracle(bits: Long, zeros: Long, nodata: Long, hot: Long)

/** Shared shape of the two probe workloads: seeded HGT files ingested into a
  * tile store at set-up, a generated probe frame, one lookup path, and an
  * aggregate of `count` + `sum(elev)` checked against the scalar oracle.
  */
abstract class ProbeWorkload(val ctx: Ctx) extends Workload {
  protected def stored: IndexedSeq[(Int, Int)]
  protected def gen: ProbeGen
  protected def hotTile: Int
  /** The program's lookup over the probe frame; output has an `elev` column. */
  protected def lookup(spark: SparkSession, probes: DataFrame, tiles: Dataset[TileRow]): DataFrame

  def unitsPerIter: Long = gen.n

  private lazy val hgtDir = ctx.dir("hgt")
  private var tiles: Map[Int, DecodedTile] = Map.empty
  private var expected: ProbeOracle = _
  private var firstSum: Option[Double] = None
  private var last = Bench.Agg(0, 0.0, 0, 0)
  private var store: String = _
  private var stores = 0

  def generate(): Seq[(String, Any)] = {
    tiles = Bench.writeHgt(ctx.seed, stored, 1201, hgtDir)
    expected = gen.oracle(tiles, hotTile)
    Seq("probes" -> gen.n, "tiles_stored" -> stored.size,
      "hot_tile_share" -> expected.hot.toDouble / gen.n,
      "nodata_share" -> expected.nodata.toDouble / gen.n,
      "input_bytes" -> Bench.du(hgtDir)._1)
  }

  /** Set-up: ingest the seeded HGT files into a fresh tile store. */
  override def prepare(spark: SparkSession): Unit = {
    stores += 1
    store = new File(ctx.work, s"store-$stores").getPath
    TileStore.ingestHgt(spark, hgtDir.getPath, store)
  }

  private def bbox = {
    val lngs = gen.corners.map(_._1); val lats = gen.corners.map(_._2)
    (lngs.min.toDouble, lats.min.toDouble, lngs.max + 0.5, lats.max + 0.5)
  }

  protected def tileSide(spark: SparkSession): Dataset[TileRow] = {
    val (a, b, c, d) = bbox
    TileStore.scanBBox(spark, store, a, b, c, d)
      .select("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
      .as[TileRow](Encoders.product[TileRow])
  }

  /** The program's output, with one elevation perturbed under `--fault`. */
  private def output(spark: SparkSession): DataFrame = {
    val out = lookup(spark, gen.frame(spark), tileSide(spark))
    if (!ctx.fault) out
    else {
      val (lng, lat) = gen.lngLat(gen.n / 2)
      out.withColumn("elev", when(col("lng") === lit(lng) && col("lat") === lit(lat),
        col("elev") + lit(0.25)).otherwise(col("elev")))
    }
  }

  private def check(a: Bench.Agg): Option[String] = {
    val errs = Seq(
      (a.n != gen.n) -> s"rows ${a.n} != probes ${gen.n}",
      (a.bits != expected.bits) -> "elevation checksum differs from the scalar oracle",
      (a.zeros != expected.zeros) -> s"zero elevations ${a.zeros} != oracle ${expected.zeros}",
      firstSum.exists(_ != a.sum) -> s"sum(elev) ${a.sum} differs from the first iteration's")
      .collect { case (true, m) => m }
    if (firstSum.isEmpty && errs.isEmpty) firstSum = Some(a.sum)
    errs.headOption
  }

  def iteration(spark: SparkSession, i: Int): (Double, () => Option[String]) = {
    val (agg, secs) = Bench.timed(Bench.aggregate(output(spark), "elev"))
    last = agg
    (secs, () => check(agg))
  }

  /** Rungs: generator only, generator + `tile_key`, tile scan, and the
    * lookup path to `noop`, plus the workload's own layer spans. Row and
    * no-data counts are the last checked iteration's.
    */
  def traced(spark: SparkSession, t: Tracer): Map[String, Double] = {
    // every rung writes one column, so rungs differ only in the work behind it
    val sGen = t.rung("bench.gen") { Bench.noop(gen.frame(spark).select(genUse.as("x"))) }
    val sKey = t.rung("functions.tile_key") {
      Bench.noop(gen.frame(spark).select(tile_key(col("lng"), col("lat"))))
    }
    val sScan = t.rung("table.TileStore.scanBBox") { Bench.noop(tileSide(spark).toDF()) }
    val tilesRead = Plans.all(t.plans(sScan))
      .filter(_.nodeName.contains("Scan")).map(Plans.metric(_, "numOutputRows")).sum
    var callSeconds = 0.0
    val sLookup = t.rung(lookupSpan) {
      val (df, call) = t.traced(s"$lookupSpan.call")(lookup(spark, gen.frame(spark), tileSide(spark)))
      callSeconds = call.seconds
      Bench.noop(df.select("elev")) // the job's aggregate reads only `elev`
    }
    Map(
      "bench.gen_s" -> sGen.seconds,
      "functions.tile_key_s" -> (sKey.seconds - sGen.seconds),
      "table.TileStore.scan_s" -> sScan.seconds,
      "table.TileStore.scan_prune_ratio" -> tilesRead.toDouble / stored.size,
      "ops.Elevation.rows_probed" -> last.n.toDouble,
      "ops.Elevation.nodata_frac" -> last.zeros.toDouble / math.max(1L, last.n)
    ) ++ lookupMetrics(spark, t, sLookup, sLookup.seconds - callSeconds, sGen)
  }

  protected def lookupSpan: String
  /** One column that needs every generator column the lookup reads. */
  protected def genUse: org.apache.spark.sql.Column

  /** @param lazySeconds the lookup rung minus its eager call (plan build) */
  protected def lookupMetrics(spark: SparkSession, t: Tracer, lookup: Span,
                              lazySeconds: Double, gen: Span): Map[String, Double]

  override def kernels(): Map[String, Double] = {
    val rows = stored.map { case (lng, lat) =>
      val key = graft.geo.TileKey.ofDegrees(lng, lat)
      val bytes = java.nio.file.Files.readAllBytes(new File(hgtDir, s"$key.hgt").toPath)
      TileRow(key, bytes, 1201, 1201, "hgt", "", 0L)
    }
    val (xs, ys) = gen.sample(1 << 20)
    Map("core.TileCodec.decode_s_per_tile" -> Bench.decodeSecondsPerTile(rows),
      "raster.Bilinear.ns_per_sample" -> Bench.nsPerSample(tiles, xs, ys),
      "raster.Bilinear.bytes_per_sample_computed" -> Bench.BytesPerSample)
  }
}

/** North-star throughput path: every probe hits the 8-tile store, broadcast
  * index, no shuffle.
  */
final class ProbeBcast(ctx: Ctx) extends ProbeWorkload(ctx) {
  protected val stored: IndexedSeq[(Int, Int)] = for (lng <- -120 to -117; lat <- 36 to 37) yield (lng, lat)
  protected val hotTile = 0
  protected val gen = new ProbeGen(ctx.seed, ProbeBcast.Probes, 4096, stored,
    Array.tabulate(1000)(_ % stored.size), ctx.cpus * 4)

  protected def lookup(spark: SparkSession, probes: DataFrame, tiles: Dataset[TileRow]): DataFrame =
    Elevation.lookupBroadcast(probes, tiles)

  protected val lookupSpan = "ops.Elevation.lookupBroadcast"
  protected def genUse: org.apache.spark.sql.Column = col("lng") + col("lat")

  protected def lookupMetrics(spark: SparkSession, t: Tracer, lookup: Span,
                              lazySeconds: Double, gen: Span): Map[String, Double] = {
    var bcBytes = 0L
    val sBuild = t.run("ops.TileIndex.broadcastIndex") {
      val bc = TileIndex.broadcastIndex(tileSide(spark))
      bcBytes = org.apache.spark.util.SizeEstimator.estimate(bc.value)
      bc.destroy()
    }
    Map("ops.Elevation.probe_s" -> (lazySeconds - gen.seconds),
      "ops.TileIndex.build_s" -> sBuild.seconds,
      "ops.TileIndex.broadcast_bytes" -> bcBytes.toDouble)
  }
}

object ProbeBcast {
  val Probes: Long = 8L << 20
}

/** Shuffle path under hot-key skew: 32 stored tiles, one hot tile with about
  * half the probes, Zipf over the rest, ~5% on tiles missing from the store.
  */
final class ProbeShuffleSkew(ctx: Ctx) extends ProbeWorkload(ctx) {
  private val present = for (lat <- 34 to 37; lng <- -124 to -117) yield (lng, lat)
  private val missing = for (lng <- -124 to -117) yield (lng, 38)
  protected val stored: IndexedSeq[(Int, Int)] = present
  protected val hotTile: Int = present.indexOf((-119, 36))

  /** 1000 buckets: 500 hot, 450 Zipf(1.1) over the other stored tiles, 50 missing. */
  private val choice: Array[Int] = {
    val others = present.indices.filterNot(_ == hotTile)
    val w = others.indices.map(i => 1.0 / math.pow(i + 1, 1.1))
    val counts = w.map(x => math.max(1, math.round(450 * x / w.sum).toInt)).toArray
    counts(0) += 450 - counts.sum
    Array.fill(500)(hotTile) ++
      others.zip(counts).flatMap { case (t, c) => Array.fill(c)(t) } ++
      Array.tabulate(50)(i => present.size + i % missing.size)
  }
  protected val gen = new ProbeGen(ctx.seed, ProbeShuffleSkew.Probes, 256, present ++ missing,
    choice, ctx.cpus * 4)

  protected def lookup(spark: SparkSession, probes: DataFrame, tiles: Dataset[TileRow]): DataFrame = {
    val coords = probes.select(col("trail").cast("string").as("feature_id"), col("step").as("coord_idx"),
      col("lng"), col("lat")).as[CoordRow](Encoders.product[CoordRow])
    Elevation.lookupCogroup(coords, tiles, ProbeShuffleSkew.Salt).toDF()
  }

  protected val lookupSpan = "ops.Elevation.lookupCogroup"
  protected def genUse: org.apache.spark.sql.Column =
    col("trail") + col("step") + col("lng") + col("lat")
  protected def lookupMetrics(spark: SparkSession, t: Tracer, lookup: Span,
                              lazySeconds: Double, gen: Span): Map[String, Double] = {
    val nodes = Plans.all(t.plans(lookup))
    val tileSideRows = nodes.find(_.nodeName == "CoGroup").toSeq.flatMap { cg =>
      val right = Plans.nodes(cg.children(1))
      val shuffled = right.filter(_.nodeName == "Exchange").map(Plans.metric(_, "shuffleRecordsWritten"))
      val scanned = right.filter(_.nodeName.contains("Scan")).map(Plans.metric(_, "numOutputRows"))
      shuffled.headOption.zip(scanned.headOption)
    }.headOption
    Map("ops.Elevation.cogroup_s" -> (lazySeconds - gen.seconds),
      "ops.Elevation.tile_rows_per_tile" ->
        tileSideRows.map { case (rows, tiles) => rows.toDouble / math.max(1L, tiles) }.getOrElse(0.0))
  }
}

object ProbeShuffleSkew {
  val Probes: Long = 1L << 19
  /** Uniform tile replication factor passed to `lookupCogroup`. */
  val Salt = 4
}
