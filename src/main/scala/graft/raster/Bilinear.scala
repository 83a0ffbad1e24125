package graft.raster

/** Bilinear (and nearest-neighbour) raster sampling.
  *
  * Operation order is IEEE-double-identical to the reference
  * (src/elevation/getElevation.ts:6-58):
  * {{{
  *   n = size - 1
  *   row = (lat - swLat) * n;  col = (lng - swLng) * n
  *   rowLow = floor(row); rowHi = rowLow + 1; rowFrac = row - rowLow   (cols same)
  *   v1 = v00 + (v10 - v00) * colFrac
  *   v2 = v01 + (v11 - v01) * colFrac
  *   out = v1 + (v2 - v1) * rowFrac
  * }}}
  * rowHi/colHi are clamped to n — value-identical to the reference everywhere
  * the reference does not crash, because at the exact edge the corresponding
  * frac is 0 and the hi corner's coefficient vanishes.
  */
object Bilinear {

  final case class OutOfTileBounds(row: Double, col: Double, n: Int)
      extends RuntimeException(
        s"Lat/lng is outside tile bounds (row=$row, col=$col; size=$n)")

  /** Bilinear sample from raw HGT bytes; `size` = samples per side. */
  def sampleHgt(bytes: Array[Byte], size: Int, swLng: Double, swLat: Double,
                lng: Double, lat: Double): Double =
    sampleBand(bytes, size, size - 1, swLng, swLat, lng, lat)

  /** As [[sampleHgt]] over a band of whole HGT rows whose north-most row is
    * logical row `top` ([[Hgt.band]]); the band must hold rows rowLow and
    * rowHi of the sample.
    */
  def sampleBand(bytes: Array[Byte], size: Int, top: Int, swLng: Double, swLat: Double,
                 lng: Double, lat: Double): Double = {
    val n = size - 1
    val row = (lat - swLat) * n
    val col = (lng - swLng) * n
    if (row < 0 || col < 0 || row > n || col > n) throw OutOfTileBounds(row, col, n)
    val rowLow = math.floor(row).toInt
    val colLow = math.floor(col).toInt
    val rowFrac = row - rowLow
    val colFrac = col - colLow
    val rowHi = if (rowLow + 1 > n) n else rowLow + 1
    val colHi = if (colLow + 1 > n) n else colLow + 1
    val v00 = Hgt.readBand(bytes, size, top, rowLow, colLow)
    val v10 = Hgt.readBand(bytes, size, top, rowLow, colHi)
    val v11 = Hgt.readBand(bytes, size, top, rowHi, colHi)
    val v01 = Hgt.readBand(bytes, size, top, rowHi, colLow)
    val v1 = v00 + (v10 - v00) * colFrac
    val v2 = v01 + (v11 - v01) * colFrac
    v1 + (v2 - v1) * rowFrac
  }

  /** As [[sampleHgt]] but with the tile's SW corner derived by flooring the
    * coordinate itself — exactly the reference's keying
    * (src/elevation/fetchElevationTileData.ts:16-17). Valid whenever the tile
    * was joined on `TileKey.of(lng, lat)`.
    */
  def sampleFromFloor(bytes: Array[Byte], size: Int, lng: Double, lat: Double): Double =
    sampleHgt(bytes, size, math.floor(lng), math.floor(lat), lng, lat)

  /** Bilinear over an already-decoded logical south-first grid. */
  def sampleGrid(samples: Array[Short], size: Int, swLng: Double, swLat: Double,
                 lng: Double, lat: Double): Double = {
    val n = size - 1
    val row = (lat - swLat) * n
    val col = (lng - swLng) * n
    if (row < 0 || col < 0 || row > n || col > n) throw OutOfTileBounds(row, col, n)
    val rowLow = math.floor(row).toInt
    val colLow = math.floor(col).toInt
    val rowFrac = row - rowLow
    val colFrac = col - colLow
    val rowHi = if (rowLow + 1 > n) n else rowLow + 1
    val colHi = if (colLow + 1 > n) n else colLow + 1
    val v00: Int = samples(rowLow * size + colLow)
    val v10: Int = samples(rowLow * size + colHi)
    val v11: Int = samples(rowHi * size + colHi)
    val v01: Int = samples(rowHi * size + colLow)
    val v1 = v00 + (v10 - v00) * colFrac
    val v2 = v01 + (v11 - v01) * colFrac
    v1 + (v2 - v1) * rowFrac
  }

  /** Nearest-neighbour sampling (reference keeps it for capability parity:
    * src/elevation/getElevation.ts:52-54).
    */
  def nearestHgt(bytes: Array[Byte], size: Int, swLng: Double, swLat: Double,
                 lng: Double, lat: Double): Double = {
    val n = size - 1
    val row = (lat - swLat) * n
    val col = (lng - swLng) * n
    if (row < 0 || col < 0 || row > n || col > n) throw OutOfTileBounds(row, col, n)
    // JS Math.round = floor(x + 0.5); differs from Scala math.round only at
    // negative half-integers, which cannot occur here (row, col >= 0).
    val r = math.floor(row + 0.5).toInt
    val c = math.floor(col + 0.5).toInt
    Hgt.readSample(bytes, size, math.min(r, n), math.min(c, n)).toDouble
  }

  /** Nearest grid node (row, col) for (lng, lat) — the shared snap used by
    * nearest sampling and slope (JS Math.round parity: floor(x+0.5),
    * clamped to the grid).
    */
  def nearestNode(size: Int, swLng: Double, swLat: Double,
                  lng: Double, lat: Double): (Int, Int) = {
    val n = size - 1
    val r = math.floor((lat - swLat) * n + 0.5).toInt
    val c = math.floor((lng - swLng) * n + 0.5).toInt
    (math.min(math.max(r, 0), n), math.min(math.max(c, 0), n))
  }

  /** Nearest-neighbour over a decoded grid (shares [[nearestNode]]). */
  def nearestGrid(samples: Array[Short], size: Int, swLng: Double, swLat: Double,
                  lng: Double, lat: Double): Double = {
    val (r, c) = nearestNode(size, swLng, swLat, lng, lat)
    samples(r * size + c).toDouble
  }
}
