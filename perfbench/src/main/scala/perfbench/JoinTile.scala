package perfbench

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Geom, Pip, Tiles, Wkt}
import graft.operators.SpatialJoins
import graft.sources.ImagesTable

/** The flagship shape: seeded image rows PIP-joined against a seeded
  * polygon overlay whose hot tenth sits on one cell, then z16 tiles with
  * their z12/z8 parents, level-12 cells, and an aggregate per
  * (polygon, z8 tile). Per-row kernel work dominates. */
final class JoinTile(seed: Long) extends Workload {
  val name = "join_tile"
  val rows = 1000000L
  val inputRows: Long = rows
  /** Image ids start here, so each seed draws a different set of rows. */
  val offset: Long = java.lang.Math.floorMod(seed, 1000000L) * 100000000L

  private var expected: Seq[(Long, Long, Long)] = Nil
  private var imagesPath: String = _
  private var polys: DataFrame = _

  def expect(): Unit = {
    val geoms = JoinTile.polygonWkts(seed).map { case (id, w) => (id, Wkt.parse(w)) }
    val boxes = geoms.map { case (_, g) => Geom.envelope(g) }
    val chunks = 8
    val parts = (0 until chunks).map { c =>
      Future {
        val counts = scala.collection.mutable.HashMap[(Long, Long), Long]()
        var i = offset + rows * c / chunks
        val until = offset + rows * (c + 1) / chunks
        while (i < until) {
          val ph = ImagesTable.phashOf(i)
          val lon = ImagesTable.lonOf(ph)
          val lat = ImagesTable.latOf(ph)
          var tile8 = Long.MinValue
          var p = 0
          while (p < geoms.length) {
            val b = boxes(p)
            if (lon >= b(0) && lon <= b(2) && lat >= b(1) && lat <= b(3) &&
              Pip.containsPoint(geoms(p)._2, lon, lat)) {
              if (tile8 == Long.MinValue) tile8 = Tiles.parentAt(Tiles.tileId(lon, lat, 16), 8)
              val k = (geoms(p)._1, tile8)
              counts(k) = counts.getOrElse(k, 0L) + 1
            }
            p += 1
          }
          i += 1
        }
        counts
      }
    }
    val merged = scala.collection.mutable.HashMap[(Long, Long), Long]()
    parts.foreach(f => Await.result(f, Duration.Inf).foreach { case (k, n) =>
      merged(k) = merged.getOrElse(k, 0L) + n
    })
    expected = merged.iterator.map { case ((p, t), n) => (p, t, n) }.toSeq
  }

  def prepare(spark: SparkSession, dir: String): Unit = {
    ImagesTable.registerSynth(spark)
    imagesPath = s"$dir/images"
    spark.range(offset, offset + rows, 1, 16)
      .withColumn("phash", call_function("synth_phash", col("id")))
      .select(col("id").as("image_id"), col("phash"),
        call_function("synth_lon", col("phash")).as("lon"),
        call_function("synth_lat", col("phash")).as("lat"))
      .write.parquet(imagesPath)
    polys = JoinTile.polygons(spark, seed)
  }

  def cycle(ctx: Ctx): Unit =
    ctx.op("operators.join_tile_pass") {
      val images = ctx.span("sources.read_parquet")(ctx.spark.read.parquet(imagesPath))
      val joined = ctx.span("operators.pip_join")(SpatialJoins.pipJoin(images, polys,
        "poly", "lon", "lat", zoom = 6, broadcastPolys = true))
      val agg = ctx.span("operators.assign_tiles") {
        SpatialJoins.assignTiles(joined, "lon", "lat", zoom = 16)
          .withColumnRenamed("tile_id", "tile16")
          .withColumn("tile_id", call_function("st_tileparent", col("tile16"), lit(12)))
          .withColumn("cell", call_function("st_cellid", col("lon"), col("lat"), lit(12)))
          .groupBy(col("poly_id"),
            call_function("st_tileparent", col("tile16"), lit(8)).as("tile8"))
          .agg(count(lit(1)).as("n"),
            approx_count_distinct(col("tile_id")).as("n_tiles12"),
            max(col("tile16")).as("max_tile16"), max(col("cell")).as("max_cell"))
      }
      ctx.span("spark.collect")(agg.select("poly_id", "tile8", "n").collect())
    } { out =>
      Check.multiset("(poly_id, tile8, n)", expected,
        out.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))))
    }

  /** Joined rows over the candidate pairs of the tile equi-join: how much
    * of the refine work finds a containing polygon. */
  override def traceExtras(ctx: Ctx): Map[String, Double] = {
    val images = ctx.spark.read.parquet(imagesPath)
    val cover = polys.withColumn("__tile", explode(call_function("st_tilecover",
      col("poly"), lit(6))))
    val candidates = images
      .withColumn("__ptile", call_function("st_tilezxy", col("lon"), col("lat"), lit(6)))
      .join(broadcast(cover), col("__ptile") === col("__tile")).count()
    val joined = expected.map(_._3).sum
    Map("operators.pip.refine_hit_ratio" ->
      (if (candidates == 0) 0.0 else joined.toDouble / candidates))
  }
}

object JoinTile {
  val Polygons = 400

  /** The seeded overlay: convex k-gons on a jittered grid, with every tenth
    * polygon re-centred on one seeded hot cell (the hot-cell skew). */
  def polygonWkts(seed: Long): IndexedSeq[(Long, String)] = {
    val hot = Gen.rng(seed, 1, 0)
    val hotX = hot.between(-150.0, 150.0)
    val hotY = hot.between(-60.0, 60.0)
    val side = math.ceil(math.sqrt(Polygons / 2.0)).toInt
    (0 until Polygons).map { i =>
      val r = Gen.rng(seed, 2, i)
      val isHot = i % 10 == 9
      val cx = if (isHot) hotX + r.between(-0.6, 0.6)
        else (i % (side * 2)) * (340.0 / (side * 2)) - 160.0 + r.between(-2.0, 2.0)
      val cy = if (isHot) hotY + r.between(-0.4, 0.4)
        else ((i / (side * 2)) % side) * (150.0 / side) - 70.0 + r.between(-2.0, 2.0)
      val k = 4 + r.int(9)
      val radius = r.between(2.0, 10.0)
      val sb = new java.lang.StringBuilder("POLYGON ((")
      (0 to k).foreach { v =>
        val ang = 2 * math.Pi * (v % k) / k
        if (v > 0) sb.append(", ")
        Gen.appendFixed(sb, cx + radius * math.cos(ang))
        sb.append(' ')
        Gen.appendFixed(sb, cy + radius * math.sin(ang))
      }
      sb.append("))")
      (i.toLong, sb.toString)
    }
  }

  def polygons(spark: SparkSession, seed: Long): DataFrame = {
    import spark.implicits._
    polygonWkts(seed).toDF("poly_id", "wkt")
      .withColumn("poly", call_function("st_geomfromwkt", $"wkt"))
  }
}
