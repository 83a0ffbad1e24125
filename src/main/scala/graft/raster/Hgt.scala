package graft.raster

/** Raw SRTM HGT raster codec.
  *
  * Layout (pinned by reference src/elevation/getElevation.ts:56-58): the byte
  * buffer is row-major big-endian int16, **north row first**; the logical
  * sample at (row, col) — where row 0 is the southern edge — lives at byte
  * offset `((size - row - 1) * size + col) * 2`.
  *
  * Canonical payload sizes (src/elevation/getResolutionAndSize.ts:3-14):
  * 1 arc-second → 3601×3601 = 25,934,402 B; 3 arc-second → 1201×1201 =
  * 2,884,802 B. Other sizes throw (UNSUPPORTED_SIZE analog) unless the caller
  * supplies explicit width metadata (synthetic test tiles).
  */
object Hgt {
  final val OneArcSecondBytes: Long = 12967201L * 2 // 3601×3601
  final val ThreeArcSecondBytes: Long = 1442401L * 2 // 1201×1201

  final case class UnsupportedSizeException(n: Long)
      extends RuntimeException(s"UNSUPPORTED_SIZE: $n bytes")

  /** (resolution arc-seconds, samples per side) from byte length. */
  def resolutionAndSize(byteLen: Long): (Int, Int) = byteLen match {
    case OneArcSecondBytes   => (1, 3601)
    case ThreeArcSecondBytes => (3, 1201)
    case n                   => throw UnsupportedSizeException(n)
  }

  /** int16 sample at logical (row, col), row 0 = south edge. */
  def readSample(bytes: Array[Byte], size: Int, row: Int, col: Int): Int =
    readBand(bytes, size, size - 1, row, col)

  /** int16 sample at logical (row, col) of a band: whole rows in the same
    * north-first layout whose first row is logical row `top` (a full tile
    * is the band with `top = size - 1`).
    */
  def readBand(bytes: Array[Byte], size: Int, top: Int, row: Int, col: Int): Int = {
    val i = ((top - row) * size + col) << 1
    (bytes(i) << 8) | (bytes(i + 1) & 0xff) // bytes(i) sign-extends → int16
  }

  /** The band of logical rows `lo..hi` (inclusive): one contiguous byte
    * range of the north-first layout, read back with `readBand(.., top = hi, ..)`.
    */
  def band(bytes: Array[Byte], size: Int, lo: Int, hi: Int): Array[Byte] =
    java.util.Arrays.copyOfRange(bytes, (size - 1 - hi) * size * 2, (size - lo) * size * 2)

  /** Encode a logical south-first grid `samples(row*size + col)` to HGT bytes. */
  def encode(samples: Array[Short], size: Int): Array[Byte] = {
    require(samples.length == size * size, s"grid ${samples.length} != $size^2")
    val out = new Array[Byte](size * size * 2)
    var row = 0
    while (row < size) {
      var col = 0
      while (col < size) {
        val v = samples(row * size + col)
        val i = ((size - row - 1) * size + col) << 1
        out(i) = (v >> 8).toByte
        out(i + 1) = v.toByte
        col += 1
      }
      row += 1
    }
    out
  }

  /** Decode HGT bytes to a logical south-first grid. */
  def decode(bytes: Array[Byte], size: Int): Array[Short] = {
    require(bytes.length == size * size * 2, s"${bytes.length} != 2*$size^2")
    val out = new Array[Short](size * size)
    var row = 0
    while (row < size) {
      var col = 0
      while (col < size) {
        out(row * size + col) = readSample(bytes, size, row, col).toShort
        col += 1
      }
      row += 1
    }
    out
  }
}
