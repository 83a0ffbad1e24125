package graft

import graft.core._
import graft.geo.TileKey
import graft.ops.Elevation
import graft.raster.Bilinear
import graft.synth.TileGen
import org.apache.spark.sql.{Encoders, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end `/geojson` query on the reference's own golden fixture against
  * a pure-Scala scalar oracle (reference semantics re-implemented coordinate
  * by coordinate), plus physical-path equivalence (broadcast vs the banded
  * shuffle path, hgt and png tiles, on tile seams and band edges).
  */
class ElevationSparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def jmt: String = {
    val in = getClass.getResourceAsStream("/JMT.json")
    try scala.io.Source.fromInputStream(in).mkString finally in.close()
  }

  private val corners = Seq((-119, 36), (-120, 36), (-119, 37), (-120, 37))
  private def tiles(fmt: String) = TileGen.tiles(corners, 601, fmt)

  /** Scalar oracle: the reference pipeline, one coordinate at a time. */
  private def oracleElev(rows: Seq[CoordRow], ts: Seq[TileRow]): Map[(String, Long), Double] = {
    val decoded = ts.map(t => t.image_id -> TileCodec.decode(t)).toMap
    rows.map { c =>
      val key = TileKey.of(c.lng, c.lat)
      val e = decoded.get(key) match {
        case Some(d) => Bilinear.sampleGrid(d.samples, d.size, d.swLng.toDouble, d.swLat.toDouble, c.lng, c.lat)
        case None    => 0.0 // NO_DATA ⇒ sea level (F8)
      }
      (c.feature_id, c.coord_idx) -> e
    }.toMap
  }

  test("JMT end-to-end: broadcast join equals scalar oracle exactly (5,998 coords)") {
    import spark.implicits._
    val features = spark.createDataset(GeoJson.featureRows(GeoJson.parse(jmt)))
    val coords = GeoJson.featureRows(GeoJson.parse(jmt)).flatMap(GeoJson.coordRows)
    assert(coords.length == 5998)
    val expect = oracleElev(coords, tiles("hgt"))
    val tds = spark.createDataset(tiles("hgt"))(Encoders.product[TileRow])
    val got = Elevation.lookupBroadcast(Elevation.coordRows(features).toDF(), tds)
      .select($"feature_id", $"coord_idx", $"elev").as[(String, Long, Double)]
      .collect()
    assert(got.length == 5998) // join row count == per-coordinate lookup count
    got.foreach { case (fid, idx, e) => assert(e == expect((fid, idx)), s"($fid,$idx)") }
    assert(got.map(_._3).count(_ > 0) == 5998) // all on-land coords gain elev > 0
  }

  test("ocean LineString near [0,0] ⇒ all elevations exactly 0 (missing tiles)") {
    import spark.implicits._
    val ocean = FeatureRow("ocean",
      """{"type":"Feature","id":"ocean","geometry":{"type":"LineString","coordinates":[[0,0],[0.25,0.25],[0.5,0.5],[0.75,0.75],[1,1]]},"properties":{}}""")
    val tds = spark.createDataset(tiles("hgt"))(Encoders.product[TileRow])
    val got = Elevation.lookupBroadcast(
      Elevation.coordRows(spark.createDataset(Seq(ocean))).toDF(), tds)
      .select($"elev").as[Double].collect()
    assert(got.length == 5 && got.forall(_ == 0.0))
  }

  test("cogroup path (bands 1, 4, 7, 8, 15; hgt, png) equals broadcast bit for bit") {
    import spark.implicits._
    // 7 divides neither 600 nor 1200; with 15, (lat − swLat)·n rounds across
    // a band edge just below some boundaries on tiles (0, 0) and (0, -1), so
    // both one-row band margins are needed
    val bandCounts = Seq(1, 4, 7, 8, 15)
    // (0,-1): lat = nextDown(0.0) rounds frac(lat) up to 1.0, so rowLow = n
    val edgeCorners = corners ++ Seq((0, 0), (0, -1), (-1, -1))
    val adversarial: Seq[(Double, Double)] = edgeCorners.flatMap { case (x, y) =>
      val lngs = Seq(x.toDouble, x + 0.37, Math.nextDown(x + 1.0))
      val lats = y.toDouble +: Math.nextDown(y + 1.0) +: // seam, north edge
        bandCounts.flatMap(b => (1 until b).flatMap { i => // band boundaries, and 5 ulps below
          Iterator.iterate(y + i.toDouble / b)(Math.nextDown).take(6)
        })
      for (lng <- lngs; lat <- lats) yield (lng, lat)
    } ++ Seq((-0.0, 0.5), (0.5, -0.0), (-0.0, -0.0)) ++ // -0.0 keys to tile (0, 0)
      Seq((Double.NaN, 0.5), (0.5, Double.NaN), (Double.NegativeInfinity, 0.5),
      (-119.0, 38.0), (-118.0, 36.5), (12.5, 45.5), (-121.5, -0.0), // missing tiles
      // off the packed key's domain: (200, 0.5) and (-181, 0.5) pack to the keys
      // of N01W160 and S01E179, and a lat that saturates .toInt to tile (x, -1)
      (200.0, 0.5), (-181.0, 0.5), (0.5, Double.PositiveInfinity), (0.5, 1e10))
    val missing = 11 // the trailing points above: no tile ⇒ 0.0
    val storeCorners = edgeCorners ++ Seq((-160, 1), (179, -1))
    val jmtCoords = Elevation.coordRows(spark.createDataset(GeoJson.featureRows(GeoJson.parse(jmt))))
    val coords = jmtCoords.union(spark.createDataset(adversarial.zipWithIndex.map {
      case ((lng, lat), i) => CoordRow("adversarial", i.toLong, lng, lat) }))
    val hgt = spark.createDataset(TileGen.tiles(storeCorners, 601, "hgt"))(Encoders.product[TileRow])
    val png = spark.createDataset(TileGen.tiles(storeCorners, 601, "png"))(Encoders.product[TileRow])
    val base = Elevation.lookupBroadcast(coords.toDF(), hgt)
      .select($"feature_id", $"coord_idx", $"elev").as[(String, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(base.size == 5998 + adversarial.size)
    (adversarial.size - missing until adversarial.size).foreach { i =>
      assert(java.lang.Double.doubleToRawLongBits(base(("adversarial", i.toLong))) == 0L, adversarial(i))
    }
    for ((fmt, ts) <- Seq("hgt" -> hgt, "png" -> png); bands <- bandCounts) {
      val name = s"$fmt bands=$bands"
      val got = Elevation.lookupCogroup(coords, ts, bands).collect()
      assert(got.length == base.size, name)
      got.foreach { r =>
        val expect = base((r.feature_id, r.coord_idx))
        assert(java.lang.Double.doubleToRawLongBits(r.elev) ==
          java.lang.Double.doubleToRawLongBits(expect),
          s"$name (${r.feature_id},${r.coord_idx}) at (${r.lng},${r.lat}): ${r.elev} != $expect")
        assert(r.tile_key == TileKey.of(r.lng, r.lat), s"$name tile_key ${r.tile_key}")
      }
    }
  }

  test("addElevation writes elev into position index 2 of the GeoJSON (A4 reassembly)") {
    import spark.implicits._
    def feature(id: String, geom: String, props: String = "{}") =
      FeatureRow(id, s"""{"type":"Feature","id":"$id","geometry":$geom,"properties":$props}""")
    val nullGeom = feature("n", "null", """{"v":1.50}""")
    val inputs = GeoJson.featureRows(GeoJson.parse(jmt)) ++ Seq(
      FeatureRow("bare", """{"type":"LineString","coordinates":[[-118.5,36.5],[-119.9,37.2],[3.5,4.5]]}"""),
      feature("gc", """{"type":"GeometryCollection","geometries":[{"type":"Point","coordinates":[-118.25,36.75]},""" +
        """{"type":"Polygon","coordinates":[[[-119.5,36.5],[-119.4,36.5],[-119.4,36.6],[-119.5,36.5]]]}]}"""),
      feature("z", """{"type":"LineString","coordinates":[[-118.5,36.5,1234.5],[-119.2,37.3,-7]]}"""),
      nullGeom,
      // two features under one feature_id: each keeps its own elevations
      feature("dup", """{"type":"LineString","coordinates":[[-118.9,36.1],[-118.8,36.2]]}"""),
      feature("dup", """{"type":"LineString","coordinates":[[-119.7,37.6],[-119.6,37.7]]}"""))
    val tds = spark.createDataset(tiles("hgt"))(Encoders.product[TileRow])
    val out = Elevation.addElevation(spark.createDataset(inputs), tds).collect()
    assert(out.length == inputs.length)
    // the scalar path, keyed by input position so shared feature_ids stay apart
    val keyed = inputs.zipWithIndex.map { case (f, i) => FeatureRow(i.toString, f.feature_json) }
    val expect = Elevation.lookupBroadcast(Elevation.coordRows(spark.createDataset(keyed)).toDF(), tds)
      .select($"feature_id", $"coord_idx", $"elev").as[(String, Long, Double)]
      .collect().groupBy(_._1.toInt).map { case (i, rs) => i -> rs.map(r => r._2 -> r._3).toMap }
    val bits = java.lang.Double.doubleToRawLongBits _
    inputs.zip(out).zipWithIndex.foreach { case ((in, got), i) =>
      assert(got.feature_id == in.feature_id)
      val want = expect.getOrElse(i, Map.empty[Long, Double])
      assert(GeoJson.coordRows(got).map(c => (c.lng, c.lat)) == GeoJson.coordRows(in).map(c => (c.lng, c.lat)))
      val elevs = GeoJson.elevations(got)
      assert(elevs.length == want.size, in.feature_id)
      elevs.zipWithIndex.foreach { case (e, j) =>
        assert(bits(e) == bits(want(j.toLong)), s"${in.feature_id} position $j: $e != ${want(j.toLong)}")
      }
      // the Map writer fed by the scalar path writes the same bytes
      if (want.nonEmpty) assert(got.feature_json == GeoJson.withElevations(in, want).feature_json)
    }
    val byId = out.groupBy(_.feature_id)
    assert(byId("n").head.feature_json == nullGeom.feature_json) // passed through, not re-serialized
    assert(!byId("z").head.feature_json.contains("1234.5") && GeoJson.elevations(byId("z").head).forall(_ > 0))
    assert(GeoJson.elevations(byId("bare").head).last == 0.0) // (3.5, 4.5): no tile
    val Array(d0, d1) = byId("dup").map(GeoJson.elevations)
    assert(d0.forall(_ > 0) && d1.forall(_ > 0) && d0.intersect(d1).isEmpty)
    assert(out.take(54).flatMap(GeoJson.elevations).count(_ > 0) == 5998) // JMT is all on land
  }

  test("polyline → terrarium byte stream (entry point 2)") {
    import spark.implicits._
    val pl = graft.geo.Polyline.encode(Seq((-118.8, 36.2), (-118.7, 36.3)))
    val tds = spark.createDataset(tiles("hgt"))(Encoders.product[TileRow])
    val out = Elevation.polylineToTerrarium(spark.createDataset(Seq(("p1", pl))), tds).collect()
    assert(out.length == 1)
    val (_, bytes) = out.head
    assert(bytes.length == 6) // 3 bytes per coordinate
    // oracle: scalar pipeline + reference Terrarium encode
    val coords = graft.geo.Polyline.decode(pl).zipWithIndex
      .map { case ((lng, lat), i) => CoordRow("p1", i.toLong, lng, lat) }
    val expectE = oracleElev(coords.toSeq, tiles("hgt"))
    val expected = graft.raster.Terrarium.encodeStream(
      coords.map(c => expectE((c.feature_id, c.coord_idx))))
    assert(bytes.sameElements(expected))
  }

  test("SparkEntry.entry smoke: rows > 0 and Whitney-area elevations positive") {
    val df = SparkEntry.entry(spark)
    assert(df.count() == 5998)
  }

  test("tile pyramid: PNG sub-tiles round-trip to bilinear pixel-center samples") {
    import graft.ops.TilePyramid
    val src = spark.createDataset(tiles("hgt"))(Encoders.product[TileRow])
    val subs = TilePyramid.materialize(src, 2, 64).collect()
    assert(subs.length == corners.length * 4)
    assert(subs.forall(_.size == 64))
    val byKey = subs.map(s => (s.image_id, s.sx, s.sy) -> s).toMap
    val grid = TileGen.grid(-119, 36, 601)
    for ((sx, sy) <- Seq((0, 0), (1, 0), (0, 1), (1, 1))) {
      val st = byKey(("N36W119", sx, sy))
      val (elevs, sz) = graft.raster.ImageCodec.decodeToElevations(st.png)
      assert(sz == 64)
      // every decoded pixel is the Terrarium quantization (floor to 1/256)
      // of the bilinear sample at its pixel center
      for ((r, c) <- Seq((0, 0), (13, 41), (63, 63))) {
        val lat = 36.0 + (sy * 64 + r + 0.5) / 128.0
        val lng = -119.0 + (sx * 64 + c + 0.5) / 128.0
        val want = Bilinear.sampleGrid(grid, 601, -119.0, 36.0, lng, lat)
        val got = elevs(r * 64 + c)
        assert(got <= want && want - got < 1.0 / 256.0,
          s"($sx,$sy) px($r,$c): got $got want $want")
      }
    }
  }
}
