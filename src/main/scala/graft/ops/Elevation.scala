package graft.ops

import graft.core._
import graft.functions.spatial._
import graft.geo.TileKey
import graft.raster.{Bilinear, Hgt}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}

/** One sampled coordinate (J1/J4 output row). */
final case class ElevRow(feature_id: String, coord_idx: Long, lng: Double,
                         lat: Double, tile_key: String, elev: Double)

/** The reference's core query as Spark plans: per-coordinate terrain lookup =
  * point→tile **left-outer equi-join** on the floored-degree tile key, then
  * bilinear sampling, with missing tiles coalesced to sea level 0
  * (reference: src/elevation/getElevation.ts, fetchElevationTileData.ts).
  *
  * Two physical paths, chosen by tile-side size:
  *
  *  - [[lookupBroadcast]]: broadcast-hash-join the tile table (bounded tile
  *    sets — the common case: a query's bbox covers few tiles). The bilinear
  *    sample runs as a native codegen'd expression directly over the joined
  *    `bytes` column: no decode step at all for `fmt=hgt` (4 random int16
  *    reads per probe), zero shuffle.
  *
  *  - [[lookupCogroup]]: the 100 TB path. One hash exchange on (tile key,
  *    latitude band) carries every probe and every tile band once; each
  *    reducer samples its probes straight from the band's HGT bytes. A hot
  *    tile's probes spread over `bands` reducers because the tile is split
  *    into row bands, not copied.
  *
  * [[addElevation]] writes the broadcast lookup into each GeoJSON feature
  * in one narrow pass, with no coordinate regroup (A4).
  */
object Elevation {

  /** P4: explode features to coordinate rows in coordEach document order. */
  def coordRows(features: Dataset[FeatureRow]): Dataset[CoordRow] =
    features.flatMap(GeoJson.coordRows _)(Encoders.product[CoordRow])

  /** Broadcast path: probe a broadcast [[TileIndex]] with a codegen'd
    * scalar expression — zero shuffle, zero join-row materialization of the
    * raster payloads (see TileIndex scaladoc for why a broadcast hash join
    * on the `bytes` column is a per-row multi-MB memcpy). `coords` needs
    * (lng, lat) columns; extra columns pass through. Adds `tile_key` and
    * `elev`.
    */
  def lookupBroadcast(coords: DataFrame, tiles: Dataset[TileRow]): DataFrame = {
    val bc = TileIndex.broadcastIndex(tiles)
    coords
      .withColumn("tile_key", tile_key(col("lng"), col("lat")))
      .withColumn("elev", ElevAt.elev_at(col("lng"), col("lat"), bc))
  }

  /** Elevation profile over ordered polyline vertices — the reference's
    * `/polyline` use case (src/server.ts:52-72) as an analytic query: per
    * vertex, the bilinear elevation plus the running planar distance and
    * total ascent along its line. The running totals are quantized to exact
    * integers (micro-degrees; 1/64 m) BEFORE the window sum: a windowed SUM
    * over doubles is association-order-dependent (Spark folds rows
    * sequentially, other engines may use segment trees), while integer
    * summands make the running totals engine-independent — the per-vertex
    * `elev` itself stays the exact IEEE double. One window per line; at
    * 10^12 vertices the only shuffle is the hash partition on line_id and
    * lines are independent.
    *
    * @param vertices (line_id, seq, lng, lat) — seq orders vertices within
    *                 a line; extra columns pass through
    */
  def profile(vertices: DataFrame, tiles: Dataset[TileRow]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("line_id").orderBy("seq")
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lookupBroadcast(vertices, tiles)
      .withColumn("dx", col("lng") - lag("lng", 1).over(w))
      .withColumn("dy", col("lat") - lag("lat", 1).over(w))
      .withColumn("seg_q", coalesce(
        floor(sqrt(col("dx") * col("dx") + col("dy") * col("dy")) * lit(1000000.0))
          .cast("long"), lit(0L)))
      .withColumn("rise_q", coalesce(
        floor(greatest(col("elev") - lag("elev", 1).over(w), lit(0.0)) * lit(64.0))
          .cast("long"), lit(0L)))
      .withColumn("cum_dist_q", sum("seg_q").over(cum))
      .withColumn("ascent_q", sum("rise_q").over(cum))
      .drop("dx", "dy", "seg_q", "rise_q")
  }

  /** Line-of-sight visibility along each profile line (viewshed-on-a-line):
    * vertex i is visible from the line's FIRST vertex iff its elevation
    * angle exceeds every intermediate vertex's angle. The angle surrogate is
    * `(elev_i − elev_obs) / max(cum_dist_q_i, 1)` — exact double minus exact
    * double over an exact integer, ONE IEEE division per vertex, so an
    * independent engine reproduces every ratio bit-for-bit (no trig needed:
    * atan is monotone, so comparing tangents decides visibility).
    *
    * All four window functions share the profile's (line_id, seq) window —
    * still exactly ONE shuffle on line_id for the whole query; the running
    * `max` is order-independent (unlike a double sum) so no quantization is
    * needed.
    */
  def viewshed(vertices: DataFrame, tiles: Dataset[TileRow]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("line_id").orderBy("seq")
    val cumF = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prevF = w.rowsBetween(Window.unboundedPreceding, -1)
    profile(vertices, tiles)
      .withColumn("rn", row_number().over(w))
      .withColumn("obs_elev", first("elev").over(cumF))
      .withColumn("ratio", when(col("rn") === 1, lit(null).cast("double"))
        .otherwise((col("elev") - col("obs_elev")) /
          greatest(col("cum_dist_q"), lit(1L)).cast("double")))
      .withColumn("prev_max", max("ratio").over(prevF))
      .withColumn("visible", col("rn") === 1 || col("prev_max").isNull ||
        col("ratio") > col("prev_max"))
  }

  /** Shuffle path for tile sets too large to broadcast; handles every `fmt`
    * (png/jpg are decoded once on the map side and re-encoded as HGT).
    *
    * Tile band `b` of `bands` holds logical rows
    * `[max(0, b·n/bands − 1), min(n, ⌈(b+1)·n/bands⌉ + 1)]` (`n = size − 1`),
    * a contiguous byte range of the north-first HGT payload, and a probe
    * goes to band `min(floor(frac(lat)·bands), bands − 1)`. The one-row
    * margins cover the rounding of `(lat − swLat)·n` and the `rowLow + 1`
    * neighbour, so the band holds both sample rows. Probes and tile bands
    * share one exchange on `(_k, _b)`; within a partition each band sorts
    * before its probes, and a probe with no band in front of it is on a
    * missing tile ⇒ sea level 0 (F8).
    */
  def lookupCogroup(coords: Dataset[CoordRow], tiles: Dataset[TileRow],
                    bands: Int = 1): Dataset[ElevRow] = {
    val nb = math.max(1, bands)
    val swLng = floor(col("lng")); val swLat = floor(col("lat"))
    // _k: TileIndex.key in doubles, so ±Inf cannot overflow; -1 (no tile) off
    // the key's injective domain, NaN included (Spark orders NaN above all)
    val inDomain = col("lng") >= -180.0 && col("lng") < 180.0 && col("lat") >= -90.0 && col("lat") < 90.0
    val probes = coords.toDF().select(
      when(inDomain, (swLat + 90.0) * 360.0 + swLng + 180.0).otherwise(-1.0).as("_k"),
      least(floor((col("lat") - swLat) * nb), lit(nb - 1L)).as("_b"),
      col("feature_id"), col("coord_idx"), col("lng"), col("lat"))
    val tileBands = tiles.flatMap { t =>
      val (lngD, latD) = TileKey.toDegrees(t.image_id)
      val hgt = TileCodec.hgtBytes(t)
      val n = t.w - 1
      Iterator.tabulate(nb) { b =>
        val lo = math.max(0, b * n / nb - 1)
        val hi = math.min(n, ((b + 1) * n + nb - 1) / nb + 1)
        (TileIndex.key(lngD, latD).toDouble, b.toLong, t.image_id, Hgt.band(hgt, t.w, lo, hi), t.w, hi)
      }
    }(Encoders.product[(Double, Long, String, Array[Byte], Int, Int)])
      .toDF("_k", "_b", "image_id", "band", "w", "top")
    probes.unionByName(tileBands, allowMissingColumns = true)
      .repartition(col("_k"), col("_b"))
      .sortWithinPartitions(col("_k"), col("_b"), col("w").asc_nulls_last)
      .mapPartitions(sampleBands _)(Encoders.product[ElevRow])
  }

  /** Reducer side of [[lookupCogroup]]: rows are `(_k, _b, feature_id,
    * coord_idx, lng, lat, image_id, band, w, top)`, tile bands first.
    */
  private def sampleBands(rows: Iterator[Row]): Iterator[ElevRow] = {
    var tile: Row = null
    rows.flatMap { r =>
      if (!r.isNullAt(8)) { tile = r; Iterator.empty }
      else {
        val lng = r.getDouble(4); val lat = r.getDouble(5)
        val hit = tile != null && tile.getDouble(0) == r.getDouble(0) && tile.getLong(1) == r.getLong(1)
        Iterator.single(
          if (hit) ElevRow(r.getString(2), r.getLong(3), lng, lat, tile.getString(6),
            Bilinear.sampleBand(tile.getAs[Array[Byte]](7), tile.getInt(8), tile.getInt(9),
              math.floor(lng), math.floor(lat), lng, lat))
          else ElevRow(r.getString(2), r.getLong(3), lng, lat, TileKey.of(lng, lat), 0.0))
      }
    }
  }

  /** Full `/geojson` query (entry point 1), the reference's in-place walk
    * (src/elevation/addElevation.ts:11-17) as one narrow map: each feature
    * is parsed once, each position's index 2 is set to the broadcast
    * [[TileIndex]]'s `elevation(lng, lat)` (the call `elev_at` makes, so
    * values are bit-identical to [[lookupBroadcast]]) and the feature is
    * serialized once. Features without positions pass through unchanged.
    */
  def addElevation(features: Dataset[FeatureRow], tiles: Dataset[TileRow]): Dataset[FeatureRow] = {
    val bc = TileIndex.broadcastIndex(tiles)
    features.map(f => GeoJson.withElevationsAt(f, bc.value.elevation))(Encoders.product[FeatureRow])
  }

  /** Entry point 2 (`/polyline`): decode polyline → sample → Terrarium byte
    * stream in coordinate order (F5 → J1 → F6).
    */
  def polylineToTerrarium(polylines: Dataset[(String, String)],
                          tiles: Dataset[TileRow]): Dataset[(String, Array[Byte])] = {
    val spark = polylines.sparkSession
    import spark.implicits._
    val coords = polylines.flatMap { case (id, pl) =>
      graft.geo.Polyline.decode(pl).iterator.zipWithIndex.map {
        case ((lng, lat), i) => CoordRow(id, i.toLong, lng, lat)
      }
    }
    val sampled = lookupBroadcast(coords.toDF(), tiles)
      .select($"feature_id", $"coord_idx", $"elev").as[(String, Long, Double)]
    sampled.groupByKey(_._1).mapGroups { (id, rows) =>
      val elevs = rows.toArray.sortBy(_._2).map(_._3)
      (id, graft.raster.Terrarium.encodeStream(elevs))
    }
  }
}
