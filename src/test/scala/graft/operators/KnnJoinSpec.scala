package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.sql.GeoOps

class KnnJoinSpec extends AnyFunSuite {
  lazy val spark = graft.sql.SparkTestSession.spark
  import spark.implicits._

  test("distributed knnJoin matches brute force at 200 queries") {
    val pts = (0 until 4000).map { i =>
      val h = GeoOps.splitmix64(100L + i)
      val lon = java.lang.Long.remainderUnsigned(h, 3600000L) / 10000.0 - 180.0
      val lat = java.lang.Long.remainderUnsigned(
        java.lang.Long.divideUnsigned(h, 3600000L), 1700000L) / 10000.0 - 85.0
      (i.toLong, lon, lat)
    }
    val queries = (0 until 200).map { i =>
      val h = GeoOps.splitmix64(9999L + i)
      val lon = java.lang.Long.remainderUnsigned(h, 3400000L) / 10000.0 - 170.0
      val lat = java.lang.Long.remainderUnsigned(
        java.lang.Long.divideUnsigned(h, 3400000L), 1500000L) / 10000.0 - 75.0
      (i.toLong, lon, lat)
    }
    val got = Knn.knnJoin(
      pts.toDF("pid", "lon", "lat"),
      queries.toDF("qid", "qlon", "qlat"),
      k = 3, res = 6.0, tieCols = Seq("pid"))
      .select("qid", "rank", "pid").as[(Long, Int, Long)].collect()
      .map(t => (t._1, t._2.toLong, t._3)).toSeq.sorted

    val expected = queries.flatMap { case (qid, qlon, qlat) =>
      pts.map { case (pid, lon, lat) =>
        (pid, (lon - qlon) * (lon - qlon) + (lat - qlat) * (lat - qlat))
      }.sortBy { case (pid, d2) => (d2, pid) }
        .take(3).zipWithIndex.map { case ((pid, _), i) => (qid, (i + 1).toLong, pid) }
    }.sorted
    assert(got == expected)
  }

  test("spherical knnMetersJoin matches brute-force haversine, all regimes") {
    import graft.core.Measure
    val pts = (0 until 3000).map { i =>
      val h = GeoOps.splitmix64(500L + i)
      val lon = java.lang.Long.remainderUnsigned(h, 3600000L) / 10000.0 - 180.0
      val lat = java.lang.Long.remainderUnsigned(
        java.lang.Long.divideUnsigned(h, 3600000L), 1700000L) / 10000.0 - 85.0
      (i.toLong, lon, lat)
    } ++ Seq( // planted structure: polar cluster + antimeridian pair
      (9001L, 15.0, 89.2), (9002L, 160.0, 89.3), (9003L, -80.0, 89.4),
      (9004L, 179.95, -10.0), (9005L, -179.9, -10.02))
    val queries = ((0 until 60).map { i =>
      val h = GeoOps.splitmix64(777L + i)
      val lon = java.lang.Long.remainderUnsigned(h, 3400000L) / 10000.0 - 170.0
      val lat = java.lang.Long.remainderUnsigned(
        java.lang.Long.divideUnsigned(h, 3400000L), 1500000L) / 10000.0 - 75.0
      (i.toLong, lon, lat)
    }) ++ Seq(
      (100L, -100.0, 89.9),   // north pole: nearest are the polar cluster
      (101L, -179.99, -10.01) // antimeridian: both sides must match
    )
    val got = Knn.knnMetersJoin(
      pts.toDF("pid", "lon", "lat"),
      queries.toDF("qid", "qlon", "qlat"),
      k = 3, startLevel = 8, tieCols = Seq("pid"))
      .select("qid", "rank", "pid").as[(Long, Int, Long)].collect()
      .map(t => (t._1, t._2.toLong, t._3)).toSeq.sorted

    val expected = queries.flatMap { case (qid, qlon, qlat) =>
      pts.map { case (pid, lon, lat) =>
        (pid, Measure.haversineMeters(lon, lat, qlon, qlat))
      }.sortBy { case (pid, d) => (d, pid) }
        .take(3).zipWithIndex.map { case ((pid, _), i) => (qid, (i + 1).toLong, pid) }
    }.sorted
    assert(got == expected)
    // the polar query really found the polar cluster (cross-face rings)
    val polar = got.filter(_._1 == 100L).map(_._3)
    assert(polar.sorted == Seq(9001L, 9002L, 9003L), polar.toString)
    val anti = got.filter(_._1 == 101L).map(_._3)
    assert(anti.contains(9004L) && anti.contains(9005L), anti.toString)
  }

  test("adaptive-start spherical kNN is exact and matches the fixed-level path") {
    // skewed density: a dense town (2000 points in ~1 degree) + a sparse
    // global scatter — exactly the mix where one fixed start level is
    // wrong for somebody. Results must equal knnMetersJoin's bit-for-bit;
    // dense-region queries should START finer than sparse ones.
    val pts = ((0 until 2000).map { i =>
      val h = GeoOps.splitmix64(42L + i)
      (i.toLong,
        10.0 + java.lang.Long.remainderUnsigned(h, 10000L) / 10000.0,
        50.0 + java.lang.Long.remainderUnsigned(
          java.lang.Long.divideUnsigned(h, 10000L), 10000L) / 10000.0)
    } ++ (0 until 100).map { i =>
      val h = GeoOps.splitmix64(900L + i)
      (2000L + i,
        java.lang.Long.remainderUnsigned(h, 3600000L) / 10000.0 - 180.0,
        java.lang.Long.remainderUnsigned(
          java.lang.Long.divideUnsigned(h, 3600000L), 1600000L) / 10000.0 - 80.0)
    }).toDF("pid", "lon", "lat")
    val qs = Seq(
      (1L, 10.5, 50.5),    // inside the dense town
      (2L, -120.0, -30.0), // sparse ocean
      (3L, 10.5, 49.0),    // near the town but outside it
      (4L, 170.0, 75.0)    // sparse arctic
    ).toDF("qid", "qlon", "qlat")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long)] =
      df.select("qid", "rank", "pid").as[(Long, Int, Long)].collect()
        .toSeq.sorted
    val rounds = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long)]
    val adaptive = rows(Knn.knnMetersJoinAdaptive(pts, qs, k = 4,
        tieCols = Seq("pid"), onRound = (r, lvl, n) => rounds += ((r, lvl, n))))
    val fixed = rows(Knn.knnMetersJoin(pts, qs, k = 4, startLevel = 10,
        tieCols = Seq("pid")))
    assert(adaptive == fixed)
    assert(adaptive.size == 16)
    // one round retires every active query while a coarser entry level is
    // still pending: the retired query must not be re-activated and
    // emitted a second time
    val pair = rows(Knn.knnMetersJoinAdaptive(pts, qs.filter($"qid" <= 2L),
        k = 4, tieCols = Seq("pid")))
    assert(pair == fixed.filter(_._1 <= 2L), pair.toString)
    assert(pair.size == 8)
    // the density split actually produced distinct behavior: dense-region
    // queries retire at a finer level than sparse ones (rounds are GLOBAL
    // in the unified staged-activation loop, so entry levels surface as
    // the levels where retirements land, not as distinct round-0 rows)
    val retiredLevels = rounds.filter(_._3 > 0).map(_._2).toSet
    assert(retiredLevels.size >= 2,
      s"expected retirements at multiple levels: $rounds")
  }

  test("spherical kNN: dataset smaller than k returns the partial top-k") {
    val pts = Seq((1L, 10.0, 20.0), (2L, 30.0, -40.0)).toDF("pid", "lon", "lat")
    val qs = Seq((1L, 0.0, 0.0), (2L, 170.0, 60.0)).toDF("qid", "qlon", "qlat")
    val out = Knn.knnMetersJoin(pts, qs, k = 5, startLevel = 6,
        tieCols = Seq("pid"))
      .select("qid", "rank", "pid").as[(Long, Int, Long)].collect()
    // every query gets BOTH points (all that exist), ranked — not a
    // "did not converge" failure
    assert(out.length == 4)
    assert(out.groupBy(_._1).forall { case (_, rows) =>
      rows.map(_._3).sorted.toSeq == Seq(1L, 2L) })
  }
}
