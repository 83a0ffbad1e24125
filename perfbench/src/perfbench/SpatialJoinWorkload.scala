package perfbench

import graft.geo.{Hex, RayCast}
import graft.ops.SpatialJoin
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.joins.HashJoin
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File
import java.lang.Math.floorMod
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** Point-in-polygon over seeded points (one third in a dense hotspot)
  * against seeded rings, some with holes, then k-nearest-neighbours for a
  * subset of the points. The only workload that runs `ops.SpatialJoin` and
  * the S2/hex covers.
  */
final class SpatialJoinWorkload(val ctx: Ctx) extends Workload {
  import SpatialJoinWorkload._

  private val seed = ctx.seed
  def unitsPerIter: Long = Points

  private var polys: IndexedSeq[(Long, Array[Array[Double]], Array[Array[Double]])] = IndexedSeq.empty
  private var expectedPairs = (0L, 0L)
  private var expectedSample: Set[(Long, Long)] = Set.empty
  private var knnExpected: Map[Long, Seq[(Long, Double)]] = Map.empty
  private var knnProbeCount = 0
  private var lastKnnProbe = 0L
  private var faultPoint = -1L
  private var polyPath: String = _
  private var sessions = 0

  /** Points as `spark.range` computes them; [[lngLat]] replays them. */
  def points(spark: SparkSession): DataFrame = {
    val hp = xxhash64(col("id"), lit(seed))
    val hot = pmod(hp, lit(3L)) === 0
    val u1 = pmod(shiftright(hp, 8), lit(1000000L)) + lit(0.5)
    val u2 = pmod(shiftright(hp, 32), lit(1000000L)) + lit(0.5)
    spark.range(0, Points, 1, ctx.cpus * 4).select(col("id").as("point_id"),
      when(hot, lit(HotLng) + u1 / lit(1e6) * lit(HotSpan))
        .otherwise(lit(RegionLng) + u1 / lit(1e6) * lit(1.0)).as("lng"),
      when(hot, lit(HotLat) + u2 / lit(1e6) * lit(HotSpan))
        .otherwise(lit(RegionLat) + u2 / lit(1e6) * lit(1.0)).as("lat"))
  }

  def lngLat(id: Long): (Double, Double) = {
    val hp = XXH64.hashLong(seed, XXH64.hashLong(id, 42L))
    val u1 = floorMod(hp >> 8, 1000000L) + 0.5
    val u2 = floorMod(hp >> 32, 1000000L) + 0.5
    if (floorMod(hp, 3L) == 0) (HotLng + u1 / 1e6 * HotSpan, HotLat + u2 / 1e6 * HotSpan)
    else (RegionLng + u1 / 1e6 * 1.0, RegionLat + u2 / 1e6 * 1.0)
  }

  /** kNN probes: every `KnnEvery`-th point in the region's interior, away
    * from the hotspot, so each probe settles in the first ring batch.
    */
  private def knnProbes(spark: SparkSession): DataFrame =
    points(spark).where(pmod(col("point_id"), lit(KnnEvery)) === 0 &&
      col("point_id") <= lit(lastKnnProbe) &&
      col("lng") > lit(RegionLng + Margin) && col("lng") < lit(RegionLng + 1 - Margin) &&
      col("lat") > lit(RegionLat + Margin) && col("lat") < lit(RegionLat + 1 - Margin) &&
      !(col("lng") > lit(HotLng - Margin) && col("lng") < lit(HotLng + HotSpan + Margin) &&
        col("lat") > lit(HotLat - Margin) && col("lat") < lit(HotLat + HotSpan + Margin)))
      .select(col("point_id").as("probe_id"), col("lng"), col("lat"))

  private def isKnnProbe(id: Long, lng: Double, lat: Double): Boolean =
    floorMod(id, KnnEvery) == 0 &&
      lng > RegionLng + Margin && lng < RegionLng + 1 - Margin &&
      lat > RegionLat + Margin && lat < RegionLat + 1 - Margin &&
      !(lng > HotLng - Margin && lng < HotLng + HotSpan + Margin &&
        lat > HotLat - Margin && lat < HotLat + HotSpan + Margin)

  private def targets(spark: SparkSession): DataFrame =
    points(spark).select(col("point_id").as("target_id"), col("lng"), col("lat"))

  /** Hex resolution whose cells hold about 8k targets at the region's
    * uniform density, so a probe's first ring batch (7 cells) settles it.
    */
  private val knnRes: Int = (4 to 12).minBy { r =>
    val area = 1.5 * math.sqrt(3) * Hex.edge(r) * Hex.edge(r)
    math.abs(math.log(Points * 2.0 / 3 * area / (8 * K)))
  }

  def generate(): Seq[(String, Any)] = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    polys = (0 until Polys).map { i =>
      val inHot = i % 3 == 0
      val (cx, cy) =
        if (inHot) (HotLng + r.nextDouble() * HotSpan, HotLat + r.nextDouble() * HotSpan)
        else (RegionLng + r.nextDouble(), RegionLat + r.nextDouble())
      val radius = if (inHot) 0.0005 + r.nextDouble() * 0.0015 else 0.003 + r.nextDouble() * 0.017
      val shell = ring(r, 8 + r.nextInt(17), cx, cy, radius)
      val rings = if (r.nextInt(10) < 3) Seq(shell, ring(r, 6 + r.nextInt(6), cx, cy, radius * 0.35))
                  else Seq(shell)
      (i.toLong, rings.map(_._1).toArray, rings.map(_._2).toArray)
    }
    // full PIP oracle through a uniform grid over polygon bboxes
    val cell = 0.02
    val grid = scala.collection.mutable.Map.empty[(Int, Int), ArrayBuffer[Int]]
    val bbox = polys.map { case (_, xss, yss) =>
      (xss.flatten.min, xss.flatten.max, yss.flatten.min, yss.flatten.max) }
    bbox.zipWithIndex.foreach { case ((x0, x1, y0, y1), i) =>
      for (gx <- math.floor(x0 / cell).toInt to math.floor(x1 / cell).toInt;
           gy <- math.floor(y0 / cell).toInt to math.floor(y1 / cell).toInt)
        grid.getOrElseUpdate((gx, gy), ArrayBuffer.empty) += i
    }
    var n = 0L; var hash = 0L; var hot = 0L
    val sample = Set.newBuilder[(Long, Long)]
    var id = 0L
    while (id < Points) {
      val (x, y) = lngLat(id)
      if (x >= HotLng && x <= HotLng + HotSpan && y >= HotLat && y <= HotLat + HotSpan) hot += 1
      grid.get((math.floor(x / cell).toInt, math.floor(y / cell).toInt)).foreach(_.foreach { i =>
        val (x0, x1, y0, y1) = bbox(i)
        if (x >= x0 && x <= x1 && y >= y0 && y <= y1 && RayCast.containsMulti(x, y, polys(i)._2, polys(i)._3)) {
          n += 1; hash += pairHash(id, i)
          if (sampledPoint(id)) { sample += ((id, i.toLong)); if (faultPoint < 0) faultPoint = id }
        }
      })
      id += 1
    }
    expectedPairs = (n, hash)
    expectedSample = sample.result()
    // brute-force kNN for the first probes
    val pts = (0L until Points).map(lngLat).toArray
    val xs = pts.map(_._1); val ys = pts.map(_._2)
    val probeIds = pts.indices.filter(j => isKnnProbe(j, xs(j), ys(j))).map(_.toLong).take(KnnProbes)
    knnProbeCount = probeIds.size
    lastKnnProbe = probeIds.last
    knnExpected = probeIds.take(KnnChecked).map { pid =>
      val (px, py) = pts(pid.toInt)
      // running top-k by (dist2, id); ids ascend, so ties keep the earlier id
      val best = ArrayBuffer.empty[(Long, Double)]
      var j = 0
      while (j < xs.length) {
        val d = (xs(j) - px) * (xs(j) - px) + (ys(j) - py) * (ys(j) - py)
        if (best.size < K || d < best.last._2) {
          val at = best.indexWhere(_._2 > d)
          best.insert(if (at < 0) best.size else at, (j.toLong, d))
          if (best.size > K) best.remove(K)
        }
        j += 1
      }
      pid -> best.toSeq
    }.toMap
    Seq("points" -> Points, "hotspot_share" -> hot.toDouble / Points, "polygons" -> Polys,
      "polygons_with_holes" -> polys.count(_._2.length > 1),
      "vertices_per_polygon" -> polys.map(_._2.map(_.length).sum).sum.toDouble / Polys,
      "pip_pairs" -> n, "knn_probes" -> knnProbeCount, "knn_k" -> K,
      "knn_res" -> knnRes)
  }

  /** Set-up: write the polygons as a parquet table the job reads. */
  override def prepare(spark: SparkSession): Unit = {
    import spark.implicits._
    sessions += 1
    polyPath = new File(ctx.work, s"polygons-$sessions").getPath
    polys.toDF("poly_id", "xss", "yss").write.parquet(polyPath)
  }

  private def pip(spark: SparkSession): DataFrame = {
    val out = SpatialJoin.pointInPolygonMulti(points(spark), spark.read.parquet(polyPath))
    if (ctx.fault) out.where(col("point_id") =!= lit(faultPoint)) else out
  }

  private def knn(spark: SparkSession): DataFrame =
    SpatialJoin.knn(knnProbes(spark), targets(spark), K, knnRes)

  def iteration(spark: SparkSession, i: Int): (Double, () => Option[String]) = {
    val ((pairs, nearest), secs) = Bench.timed {
      (pairStats(pip(spark)), knn(spark).select("probe_id", "target_id", "rank", "dist2").collect())
    }
    (secs, () => check(pairs, nearest.map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))))
  }

  private def check(p: (Long, Long, Seq[(Long, Long)]), nearest: Seq[(Long, Long, Int, Double)])
      : Option[String] = {
    val byProbe = nearest.groupBy(_._1)
    Seq(
      (p._1 != expectedPairs._1) -> s"pip pairs ${p._1} != oracle ${expectedPairs._1}",
      (p._2 != expectedPairs._2) -> "pip pair checksum differs from the oracle",
      (p._3.toSet != expectedSample) -> "sampled points' polygons differ from brute-force RayCast",
      (nearest.size != knnProbeCount * K) -> s"knn rows ${nearest.size} != ${knnProbeCount * K}",
      knnExpected.exists { case (pid, want) =>
        byProbe.getOrElse(pid, Nil).sortBy(_._3).map(r => (r._2, r._4)) != want
      } -> "knn differs from brute force on a sampled probe"
    ).collectFirst { case (true, m) => m }
  }

  /** Count, order-independent checksum and sampled pairs of (point_id, poly_id). */
  private def pairStats(df: DataFrame): (Long, Long, Seq[(Long, Long)]) = {
    val qe = df.select(col("point_id"), col("poly_id")).queryExecution
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench.pairs")) {
      qe.toRdd.mapPartitions { it =>
        var n = 0L; var h = 0L
        val kept = ArrayBuffer.empty[(Long, Long)]
        while (it.hasNext) {
          val r = it.next()
          val (a, b) = (r.getLong(0), r.getLong(1))
          n += 1; h += pairHash(a, b)
          if (sampledPoint(a)) kept += ((a, b))
        }
        Iterator((n, h, kept.toSeq))
      }.collect()
    }
    (parts.map(_._1).sum, parts.map(_._2).sum, parts.flatMap(_._3).toSeq)
  }

  def traced(spark: SparkSession, t: Tracer): Map[String, Double] = {
    val sGen = t.rung("bench.gen") { Bench.noop(points(spark)) }
    // the call's eager work (the cover-level aggregate) is the join's own, so it counts
    val sPip = t.rung("ops.SpatialJoin.pointInPolygonMulti") {
      Bench.noop(t.span("ops.SpatialJoin.pointInPolygonMulti.call")(pip(spark)))
    }
    val joins = Plans.all(t.plans(sPip)).collect { case j: HashJoin =>
      (j.leftKeys.flatMap(_.references.map(_.name)).toSet, j) }
    def rows(key: String) = joins.filter(_._1.contains(key)).map(j => Plans.metric(j._2, "numOutputRows")).sum
    val cellJoin = joins.filter(_._1.contains("cell")).map(_._2)
    val coverRows = cellJoin.flatMap(j => Plans.nodes(j))
      .filter(_.nodeName.contains("BroadcastExchange")).map(Plans.metric(_, "numOutputRows")).sum
    val sKnn = t.rung("ops.SpatialJoin.knn") { Bench.noop(knn(spark)) }
    val knnNodes = Plans.all(t.plans(sKnn))
    val candidates = knnNodes.collect {
      case j: HashJoin if j.leftKeys.exists(_.references.exists(_.name == "tcell")) => Plans.metric(j, "numOutputRows")
      case j if j.nodeName.contains("NestedLoopJoin") => Plans.metric(j, "numOutputRows")
    }.sum
    Map(
      "bench.gen_s" -> sGen.seconds,
      "ops.SpatialJoin.pip_s" -> (sPip.seconds - sGen.seconds),
      "ops.SpatialJoin.pip_candidates_per_match" -> rows("cell").toDouble / math.max(1L, rows("poly_id")),
      "ops.SpatialJoin.cover_cells_per_poly" -> coverRows.toDouble / Polys,
      "ops.SpatialJoin.knn_s" -> (sKnn.seconds - sGen.seconds),
      "ops.SpatialJoin.knn_candidates_per_probe" -> candidates.toDouble / math.max(1, knnProbeCount),
      "ops.SpatialJoin.knn_jobs" -> t.sparkTotals(sKnn)("jobs"))
  }
}

object SpatialJoinWorkload {
  val Points: Long = 200000L
  val Polys = 1200
  val K = 5
  /** Every this many points is a kNN probe. */
  val KnnEvery = 500L
  /** kNN probes per iteration (the first that qualify), the same for every seed. */
  val KnnProbes = 150
  /** Distance (degrees) kNN probes keep from the region edge and the hotspot. */
  val Margin = 0.05
  /** kNN probes checked against brute force. */
  val KnnChecked = 24
  val RegionLng = -122.0
  val RegionLat = 37.0
  val HotLng = -121.62
  val HotLat = 37.38
  val HotSpan = 0.04

  def pairHash(point: Long, poly: Long): Long = Bench.mix(point * 1000003L + poly)
  def sampledPoint(id: Long): Boolean = floorMod(Bench.mix(id), 500L) == 0

  private def ring(r: SplittableRandom, n: Int, cx: Double, cy: Double, radius: Double)
      : (Array[Double], Array[Double]) = {
    val pts = (0 until n).map { k =>
      val a = 2 * math.Pi * k / n
      val rr = radius * (0.6 + 0.4 * r.nextDouble())
      (cx + rr * math.cos(a), cy + rr * math.sin(a))
    }
    (pts.map(_._1).toArray, pts.map(_._2).toArray)
  }
}
