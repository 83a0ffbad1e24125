package graft.core

import com.fasterxml.jackson.databind.ObjectMapper
import graft.geo.TileKey
import graft.raster.{Hgt, ImageCodec}

/** The engine's input-table row (BASELINE.json input_hint shape): an
  * Iceberg-style image+caption record. `image_id` is the tile key, `bytes`
  * the raster payload in `fmt` ∈ {hgt, png, jpg}, `caption` the JSON tile
  * metadata (caption-equality invariant per row), `phash` a perceptual hash
  * of the decoded grid.
  */
final case class TileRow(image_id: String, bytes: Array[Byte], w: Int, h: Int,
                         fmt: String, caption: String, phash: Long)

/** Caption JSON payload: `{"tile_key","z","x","y","sw_lng","sw_lat","resolution","size"}`. */
final case class TileCaption(tile_key: String, z: Int, x: Int, y: Int,
                             sw_lng: Int, sw_lat: Int, resolution: Int, size: Int)

/** A decoded tile: logical south-first int16 grid + georeferencing. */
final case class DecodedTile(size: Int, swLng: Int, swLat: Int, samples: Array[Short]) {
  def sample(row: Int, col: Int): Int = samples(row * size + col)
}

object TileCodec {
  private val mapper = new ObjectMapper()

  def parseCaption(caption: String): TileCaption = {
    val n = mapper.readTree(caption)
    TileCaption(n.get("tile_key").asText(), n.get("z").asInt(), n.get("x").asInt(),
      n.get("y").asInt(), n.get("sw_lng").asInt(), n.get("sw_lat").asInt(),
      n.get("resolution").asInt(), n.get("size").asInt())
  }

  def captionJson(c: TileCaption): String =
    s"""{"tile_key":"${c.tile_key}","z":${c.z},"x":${c.x},"y":${c.y},""" +
      s""""sw_lng":${c.sw_lng},"sw_lat":${c.sw_lat},"resolution":${c.resolution},"size":${c.size}}"""

  /** Decode any supported fmt to a logical grid. Georeferencing comes from the
    * tile key (floored SW corner — identical to the reference's keying).
    */
  def decode(t: TileRow): DecodedTile = {
    val (swLng, swLat) = TileKey.toDegrees(t.image_id)
    t.fmt match {
      case "hgt" => DecodedTile(t.w, swLng, swLat, Hgt.decode(hgtBytes(t), t.w))
      case "png" | "jpg" =>
        val (grid, size) = ImageCodec.decodeToGrid(t.bytes)
        require(size == t.w, s"image size $size != w=${t.w}")
        DecodedTile(size, swLng, swLat, grid)
      case other => throw new IllegalArgumentException(s"unsupported fmt: $other")
    }
  }

  /** The tile's payload as HGT bytes: `hgt` passes through after the size
    * check, png/jpg are decoded once and re-encoded with [[Hgt.encode]].
    */
  def hgtBytes(t: TileRow): Array[Byte] = t.fmt match {
    case "hgt" =>
      require(t.bytes.length == t.w * t.h * 2,
        s"hgt bytes ${t.bytes.length} != 2*${t.w}*${t.h} (P3 size predicate)")
      t.bytes
    case _ =>
      val d = decode(t)
      Hgt.encode(d.samples, d.size)
  }
}
