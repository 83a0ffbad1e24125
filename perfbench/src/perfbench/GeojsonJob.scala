package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.core.{DecodedTile, FeatureRow, GeoJson}
import graft.ops.{Elevation, TileIndex}
import graft.sources.GeoJsonSource
import graft.table.{Checkpoint, TileStore}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** The user's job: ingest HGT files into a tile store, read GeoJSON
  * FeatureCollections, add elevations, checkpoint, read the checkpoint back
  * and write GeoJSON lines. Every iteration writes into fresh directories,
  * so resumable writes never find committed buckets.
  */
final class GeojsonJob(val ctx: Ctx) extends Workload {
  import GeojsonJob._

  private val corners = for (lng <- -120 to -117; lat <- 36 to 37) yield (lng, lat)
  private lazy val hgtDir = ctx.dir("hgt")
  private lazy val docsDir = ctx.dir("docs")
  private implicit val featureEnc: org.apache.spark.sql.Encoder[FeatureRow] = Encoders.product[FeatureRow]

  private var tiles: Map[Int, DecodedTile] = Map.empty
  private var featuresIn = 0L
  private var coordsIn = 0L
  private var inputBytes = 0L
  private var docBytes = 0L
  /** bench_id → (lngs, lats, properties JSON) of the features the check samples. */
  private var sampled: Map[String, (Array[Double], Array[Double], String)] = Map.empty
  private var writtenRatio = 0.0

  def unitsPerIter: Long = coordsIn
  override def bytesWrittenPerInputByte: Double = writtenRatio

  def generate(): Seq[(String, Any)] = {
    tiles = Bench.writeHgt(ctx.seed, corners, 1201, hgtDir)
    val r = new SplittableRandom(ctx.seed)
    val docs = Array.fill(Docs)(new ArrayBuffer[String])
    val sample = scala.collection.mutable.Map.empty[String, (Array[Double], Array[Double], String)]
    var offStore = 0L; var holes = 0; var i = 0
    val kinds = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    while (i < Features) {
      val doc = i % Docs
      val id = s"$doc:$i"
      val off = i % 50 == 7
      val f = feature(r, i, off)
      val props = s"""{"name":"feature-$i","bench_id":"$id","kind":"${f.kind}",""" +
        s""""seed":${ctx.seed},"tags":{"coords":${f.lngs.length},"trail":${f.kind == "LineString"}}}"""
      docs(doc) += s"""{"type":"Feature","id":${i % 50},"properties":$props,"geometry":${f.geometry}}"""
      if (r.nextInt(SampleEvery) == 0 || i == 0) sample(id) = (f.lngs, f.lats, props)
      coordsIn += f.lngs.length
      if (off) offStore += f.lngs.length
      if (f.kind == "Polygon") holes += 1
      kinds(f.kind) += 1
      i += 1
    }
    featuresIn = i
    sampled = sample.toMap
    docs.zipWithIndex.foreach { case (fs, d) =>
      Files.write(new File(docsDir, f"doc-$d%03d.json").toPath,
        fs.mkString("""{"type":"FeatureCollection","features":[""", ",", "]}")
          .getBytes(StandardCharsets.UTF_8))
    }
    docBytes = Bench.du(docsDir)._1
    inputBytes = Bench.du(hgtDir)._1 + docBytes
    Seq("documents" -> Docs, "features" -> featuresIn, "coords" -> coordsIn,
      "coords_per_feature" -> coordsIn.toDouble / featuresIn,
      "offstore_share" -> offStore.toDouble / coordsIn, "polygons_with_holes" -> holes,
      "features_by_kind" -> kinds.toMap, "sampled_features" -> sampled.size,
      "input_bytes" -> inputBytes, "geojson_bytes" -> docBytes)
  }

  private def features(spark: SparkSession): Dataset[FeatureRow] =
    GeoJsonSource.readDocuments(spark, docsDir.getPath)

  /** The committed snapshot, with one sampled feature's elevation perturbed
    * under `--fault`.
    */
  private def committed(spark: SparkSession, p: Paths): Dataset[FeatureRow] = {
    val back = Checkpoint.read(spark, p.ckpt).as[FeatureRow]
    if (!ctx.fault) back
    else {
      val tag = s""""bench_id":"${sampled.keys.min}""""
      back.map { f =>
        if (!f.feature_json.contains(tag)) f
        else GeoJson.withElevations(f, GeoJson.elevations(f).zipWithIndex
          .map { case (e, j) => j.toLong -> (if (j == 0) e + 0.25 else e) }.toMap)
      }
    }
  }

  def iteration(spark: SparkSession, i: Int): (Double, () => Option[String]) = {
    val p = Paths(new File(ctx.work, s"iter-$i"))
    val (_, secs) = Bench.timed {
      TileStore.ingestHgt(spark, hgtDir.getPath, p.store)
      val withElev = Elevation.addElevation(features(spark), TileStore.readTiles(spark, p.store))
      Checkpoint.writeResumable(withElev.toDF(), Seq("feature_id"), Buckets, p.ckpt, s"run-$i")
      GeoJsonSource.writeLines(committed(spark, p), p.out)
    }
    (secs, () => try check(spark, p) finally {
      writtenRatio = (Bench.du(new File(p.store))._1 + Bench.du(new File(p.ckpt))._1 +
        Bench.du(new File(p.out))._1).toDouble / inputBytes
      Bench.rm(p.root)
    })
  }

  private def check(spark: SparkSession, p: Paths): Option[String] = {
    val manifested = Checkpoint.manifests(spark, p.ckpt)
      .agg(coalesce(sum("row_count"), lit(0L))).collect()(0).getLong(0)
    val ids = sampled.keys.toSeq
    val row = spark.read.text(p.out)
      .agg(count(lit(1)), collect_list(when(
        regexp_extract(col("value"), "\"bench_id\":\"([^\"]+)\"", 1).isin(ids: _*), col("value"))))
      .collect()(0)
    val linesOut = row.getLong(0)
    val got = row.getSeq[String](1)
    val errs = ArrayBuffer.empty[String]
    if (manifested != featuresIn) errs += s"manifest row_count $manifested != features in $featuresIn"
    if (linesOut != featuresIn) errs += s"features out $linesOut != features in $featuresIn"
    if (got.size != ids.size) errs += s"sampled features found ${got.size} != ${ids.size}"
    got.foreach { json =>
      val node = Mapper.readTree(json)
      val id = node.get("properties").get("bench_id").asText()
      val (lngs, lats, props) = sampled(id)
      val fr = FeatureRow(id, json)
      val coords = GeoJson.coordRows(fr)
      val elevs = GeoJson.elevations(fr)
      val want = lngs.indices.map(j => Bench.oracleElev(tiles, lngs(j), lats(j)))
      if (coords.map(_.lng) != lngs.toSeq || coords.map(_.lat) != lats.toSeq)
        errs += s"feature $id: coordinates changed"
      else if (elevs != want)
        errs += s"feature $id: elevations differ from the scalar oracle"
      if (node.get("properties") != Mapper.readTree(props))
        errs += s"feature $id: properties did not round-trip"
    }
    errs.headOption
  }

  /** Ladder over the job: each eager call is its own span, each lazy
    * prefix is materialized to `noop`; self time = rung minus previous rung.
    */
  def traced(spark: SparkSession, t: Tracer): Map[String, Double] = {
    val p = Paths(new File(ctx.work, "traced"))
    try {
      val sIngest = t.run("table.TileStore.ingestHgt") {
        TileStore.ingestHgt(spark, hgtDir.getPath, p.store)
      }
      val ingestBytes = Bench.du(new File(p.store))._1
      val tileRows = TileStore.readTiles(spark, p.store)
      val sRead = t.rung("sources.GeoJsonSource.readDocuments") { Bench.noop(features(spark).toDF()) }
      val sExplode = t.rung("ops.Elevation.coordRows") {
        Bench.noop(Elevation.coordRows(features(spark)).toDF())
      }
      var bcBytes = 0L
      val sBuild = t.run("ops.TileIndex.broadcastIndex") {
        val bc = TileIndex.broadcastIndex(tileRows)
        bcBytes = org.apache.spark.util.SizeEstimator.estimate(bc.value)
        bc.destroy()
      }
      val (lookupLazy, _) = lazyRung(t, "ops.Elevation.lookupBroadcast") {
        Elevation.lookupBroadcast(Elevation.coordRows(features(spark)).toDF(), tileRows)
      }
      val (addLazy, sAdd) = lazyRung(t, "ops.Elevation.addElevation") {
        Elevation.addElevation(features(spark), tileRows).toDF()
      }
      val sWrite = t.run("table.Checkpoint.writeResumable") {
        Checkpoint.writeResumable(Elevation.addElevation(features(spark), tileRows).toDF(),
          Seq("feature_id"), Buckets, p.ckpt, "traced")
      }
      val (ckBytes, ckFiles) = Bench.du(new File(p.ckpt))
      val sCkRead = t.rung("table.Checkpoint.read") { Bench.noop(Checkpoint.read(spark, p.ckpt)) }
      val sLines = t.run("sources.GeoJsonSource.writeLines") {
        GeoJsonSource.writeLines(Checkpoint.read(spark, p.ckpt).as[FeatureRow], p.out)
      }
      val probed = Bench.aggregate(
        Elevation.lookupBroadcast(Elevation.coordRows(features(spark)).toDF(), tileRows), "elev")
      Map(
        "table.TileStore.ingest_s" -> sIngest.seconds,
        "table.TileStore.ingest_bytes_written" -> ingestBytes.toDouble,
        "sources.GeoJsonSource.read_s" -> sRead.seconds,
        "sources.GeoJsonSource.bytes_in" -> docBytes.toDouble,
        "core.GeoJson.explode_s" -> (sExplode.seconds - sRead.seconds),
        "core.GeoJson.coords" -> probed.n.toDouble,
        "ops.TileIndex.build_s" -> sBuild.seconds,
        "ops.TileIndex.broadcast_bytes" -> bcBytes.toDouble,
        "ops.Elevation.probe_s" -> (lookupLazy - sExplode.seconds),
        "ops.Elevation.reassemble_s" -> (addLazy - lookupLazy),
        "ops.Elevation.rows_probed" -> probed.n.toDouble,
        "ops.Elevation.nodata_frac" -> probed.zeros.toDouble / math.max(1L, probed.n),
        "table.Checkpoint.write_s" -> (sWrite.seconds - sAdd.seconds),
        "table.Checkpoint.bytes_written" -> ckBytes.toDouble,
        "table.Checkpoint.files_written" -> ckFiles.toDouble,
        "table.Checkpoint.read_s" -> sCkRead.seconds,
        "sources.GeoJsonSource.write_s" -> (sLines.seconds - sCkRead.seconds),
        "sources.GeoJsonSource.bytes_out" -> Bench.du(new File(p.out))._1.toDouble)
    } finally Bench.rm(p.root)
  }

  /** Span around building a lazy plan (the eager part of the call) and
    * materializing it to `noop`. Returns the materialization's seconds.
    */
  private def lazyRung(t: Tracer, name: String)(
      df: => org.apache.spark.sql.DataFrame): (Double, Span) = {
    var call = 0.0
    val s = t.rung(name) {
      val (d, c) = t.traced(s"$name.call")(df)
      call = c.seconds
      Bench.noop(d)
    }
    (s.seconds - call, s)
  }
}

object GeojsonJob {
  /** Features per run: a fixed schedule of kinds and vertex counts (about
    * 40k coordinates), so every seed does the same work; the seed moves the
    * geometry and the properties.
    */
  val Features = 440
  val Docs = 64
  val Buckets = 8
  /** About one feature in this many is sampled for the oracle check. */
  val SampleEvery = 40

  private val Mapper = new ObjectMapper()

  /** One iteration's output directories. */
  final case class Paths(root: File) {
    val store: String = new File(root, "store").getPath
    val ckpt: String = new File(root, "checkpoint").getPath
    val out: String = new File(root, "lines").getPath
  }

  /** A generated feature: its geometry JSON and its coordinates in document order. */
  final case class Feature(kind: String, geometry: String, lngs: Array[Double], lats: Array[Double])

  private def r6(x: Double): Double = math.round(x * 1e6) / 1e6

  /** Random walk inside [lng0, lng0 + 4) × [36, 38), reflecting at the edges. */
  private def walk(r: SplittableRandom, n: Int, lngLo: Double, step: Double): Seq[(Double, Double)] = {
    var lng = lngLo + 0.05 + r.nextDouble() * 3.9
    var lat = 36.05 + r.nextDouble() * 1.9
    var heading = r.nextDouble() * 2 * math.Pi
    (0 until n).map { _ =>
      heading += (r.nextDouble() - 0.5) * 0.8
      val s = step * (0.5 + r.nextDouble())
      lng += s * math.cos(heading); lat += s * math.sin(heading)
      if (lng < lngLo + 0.001 || lng > lngLo + 3.999) { heading = math.Pi - heading; lng = math.min(math.max(lng, lngLo + 0.001), lngLo + 3.999) }
      if (lat < 36.001 || lat > 37.999) { heading = -heading; lat = math.min(math.max(lat, 36.001), 37.999) }
      (r6(lng), r6(lat))
    }
  }

  private def ring(r: SplittableRandom, n: Int, cx: Double, cy: Double, radius: Double): Seq[(Double, Double)] = {
    val pts = (0 until n).map { k =>
      val a = 2 * math.Pi * k / n
      val rr = radius * (0.7 + 0.3 * r.nextDouble())
      (r6(cx + rr * math.cos(a)), r6(cy + rr * math.sin(a)))
    }
    pts :+ pts.head
  }

  private def arr(ps: Seq[(Double, Double)]): String =
    ps.map { case (x, y) => s"[$x,$y]" }.mkString("[", ",", "]")

  /** Feature `i` of the schedule: per 20 features, 9 LineStrings (8 to 300
    * vertices), 5 Points, 3 Polygons with a hole, 3 MultiLineStrings. The
    * seeded `r` places it; `off` places it east of the tile store (no data).
    */
  def feature(r: SplittableRandom, i: Int, off: Boolean): Feature = {
    val lngLo = if (off) -116.0 else -120.0
    val slot = i % 20
    val (kind, parts, json) =
      if (slot < 9) {
        val line = walk(r, 8 + (i * 37) % 293, lngLo, 0.001)
        ("LineString", Seq(line), arr(line))
      } else if (slot < 14) {
        val p = walk(r, 1, lngLo, 0.001)
        ("Point", p.map(Seq(_)), s"[${p.head._1},${p.head._2}]")
      } else if (slot < 17) {
        val c = walk(r, 1, lngLo, 0.001).head
        val radius = 0.005 + r.nextDouble() * 0.015
        val shell = ring(r, 12 + i % 29, c._1, c._2, radius)
        val hole = ring(r, 6 + i % 7, c._1, c._2, radius * 0.3).reverse
        ("Polygon", Seq(shell, hole), Seq(arr(shell), arr(hole)).mkString("[", ",", "]"))
      } else {
        val lines = (0 until 2 + i % 3).map(j => walk(r, 8 + (i * 13 + j * 7) % 53, lngLo, 0.001))
        ("MultiLineString", lines, lines.map(arr).mkString("[", ",", "]"))
      }
    val flat = parts.flatten
    Feature(kind, s"""{"type":"$kind","coordinates":$json}""",
      flat.map(_._1).toArray, flat.map(_._2).toArray)
  }
}
