package graft.bench

import graft.core.TileRow
import graft.ops.Elevation
import graft.synth.TileGen
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

/** The headline throughput workload (BASELINE.json metric:
  * "elevation-lookup + spatial-join rows/sec"): a coordinate stream derived
  * from lineitem, replicated `replicate`× with per-replica coordinate
  * perturbation, left-outer-joined against a broadcast synthetic tile
  * pyramid, bilinear-sampled by the codegen'd expression, and fully
  * evaluated through an aggregate (so column pruning cannot skip the
  * sampling work).
  *
  * This is the reference's `/geojson` hot path at batch scale: every row is
  * one `getElevation` call (reference src/elevation/getElevation.ts), here
  * executed as one whole-stage-codegen'd join probe.
  */
object Headline {

  /** 8 corners × full coverage: every point hits a tile (worst case: all
    * probes sample; no NO_DATA shortcut).
    */
  private val corners: Seq[(Int, Int)] =
    for { lng <- -120 to -117; lat <- 36 to 37 } yield (lng, lat)

  def tiles(spark: SparkSession, size: Int = 1201): DataFrame =
    spark.createDataset(TileGen.tiles(corners, size, "hgt"))(
      Encoders.product[TileRow]).toDF()

  /** `replicate` trail-like probes per lineitem row.
    *
    * Layout decisions, each load-bearing for scaling (all measured on this
    * box; see BASELINE.md):
    *  - **repartitionByRange on a 128-way cluster key** before the fan-out:
    *    the sf parquet is one small file (1–2 input splits) — without the
    *    repartition the ×replicate fan-out runs on 1–2 tasks regardless of
    *    cores. The cluster also pins each task to ONE tile (the co-located
    *    join layout the engine's tile-key partitioning produces at 100 TB):
    *    unclustered probes across all 8 tiles thrash the cache and capped
    *    scaling efficiency at ~0.4.
    *  - **crossJoin with a broadcast replica table** instead of
    *    explode(sequence): no per-row array allocation on the hot path.
    *  - **trail ordering**: consecutive replicas walk adjacent raster
    *    columns with a slow row drift — the reference's own workload shape
    *    (polyline elevation profiles), and it turns the per-probe raster
    *    reads into near-sequential streaming.
    */
  def points(spark: SparkSession, sfDir: String, replicate: Int): DataFrame = {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
      .withColumn("cluster", pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(128)))
      .repartitionByRange(128, col("cluster"))
    // fan-out via explode of a CONSTANT array literal: stays inside the
    // codegen'd GenerateExec with zero per-row allocation (sequence() would
    // allocate per row; crossJoin(broadcast) planned a BroadcastNestedLoopJoin
    // that copies an UnsafeRow per output row — measured slower at 32 cores)
    li.withColumn("rep", explode(typedlit((0 until replicate).toArray)))
      .selectExpr(
        "((l_orderkey*8 + l_linenumber)*2000 + l_partkey)*100 + l_suppkey AS point_id",
        "rep",
        "-120 + (cluster % 4) + (((l_partkey + rep) % 600) + 0.5D)/600.0D AS lng",
        "36 + ((cluster div 4) % 2) + (((l_suppkey*7 + l_linenumber*131 + (rep div 600)*3) % 600) + 0.5D)/600.0D AS lat")
  }

  /** Run once; returns (rows evaluated, wall seconds). The aggregate reads
    * `elev`, so the sampling work cannot be pruned away.
    */
  def run(spark: SparkSession, sfDir: String, replicate: Int): (Long, Double) = {
    val pts = points(spark, sfDir, replicate)
    val joined = Elevation.lookupBroadcast(pts, tiles(spark).as[TileRow](Encoders.product[TileRow]))
    val t0 = System.nanoTime()
    val row = joined.agg(count(lit(1)).as("n"), sum(col("elev")).as("s")).collect()(0)
    val secs = (System.nanoTime() - t0) / 1e9
    (row.getLong(0), secs)
  }

  /** The SAME workload through [[Elevation.lookupCogroup]] — the shuffle path
    * a whole-planet tile store must take once the pyramid exceeds any
    * broadcast budget (TileIndex.broadcastIndex scaladoc). Quoted separately
    * so the 100 TB headline number does not rest solely on the broadcast plan:
    * this path hash-partitions probes and tile latitude bands together on
    * (tile_key, band) — every probe row and every raster byte crosses the
    * wire once, which is the honest per-row cost structure of the at-scale
    * plan.
    *
    * `bands` is FIXED (not a function of the parallelism level) so the lo
    * and hi scaling passes run the identical job: 8 tiles × 8 bands = 64
    * groups, ≥ 2 groups per core at local[32] and 8 at local[8].
    */
  def runCogroup(spark: SparkSession, sfDir: String, replicate: Int,
                 bands: Int = 8): (Long, Double) = {
    import spark.implicits._
    val pts = points(spark, sfDir, replicate)
      .selectExpr("CAST(point_id AS STRING) AS feature_id",
        "CAST(rep AS BIGINT) AS coord_idx", "lng", "lat")
      .as[graft.core.CoordRow]
    val sampled = Elevation.lookupCogroup(pts,
      tiles(spark).as[TileRow](Encoders.product[TileRow]), bands)
    val t0 = System.nanoTime()
    val row = sampled.toDF()
      .agg(count(lit(1)).as("n"), sum(col("elev")).as("s")).collect()(0)
    val secs = (System.nanoTime() - t0) / 1e9
    (row.getLong(0), secs)
  }

  /** Fresh session at the given parallelism (scaling evidence runs the same
    * job at two parallelism levels in one JVM).
    */
  def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
