package perfbench

import org.apache.spark.sql.{Row, SparkSession}

import graft.core.{Dims, Geom, GeomTypes, Wkb, Wkt}
import graft.sources.{ArrowIpc, GeoParquet}

/** The GeoArrow data model end to end on seeded mixed geometries. The
  * write leg parses WKT, casts every geometry to its multi type in XYZ,
  * round-trips it through the native separate or interleaved layout and
  * writes GeoParquet plus one GeoArrow IPC dataset per type family; the
  * read leg reads both back and formats and aggregates them. Both legs are
  * SQL text, so Catalyst runs on every pass. Codecs and columnar IO
  * dominate; there is no PIP work. */
final class GeoarrowIo(seed: Long) extends Workload {
  val name = "geoarrow_io"
  val rows = 30000L
  val inputRows: Long = rows
  override val warmupCycles = 3

  private var expectedFp: Fingerprint = _
  private var expectedBox: Seq[Double] = Nil
  private var expectedTypes: Seq[Int] = Nil
  private var dir: String = _

  def expect(): Unit = {
    val fp = new Fingerprint.Builder
    val box = Array(Double.PositiveInfinity, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.NegativeInfinity)
    val types = scala.collection.mutable.TreeSet[Int]()
    var i = 0L
    while (i < rows) {
      val g = GeoarrowIo.cast(Wkt.parse(GeoarrowIo.wkt(seed, i)))
      fp.add(i, Wkb.write(g), Wkt.write(g), Wkt.write(g, 6))
      Geom.accumulateEnvelope(g, box)
      types += Geom.isoTypeId(g)
      i += 1
    }
    expectedFp = fp.result
    expectedBox = box.toSeq
    expectedTypes = types.toSeq
  }

  def prepare(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    this.dir = dir
    val s = seed
    spark.range(0, rows, 1, 8).map(i => (i, GeoarrowIo.wkt(s, i)))
      .toDF("id", "wkt").write.parquet(s"$dir/wkt")
  }

  private def arrowPath(fam: String) = s"$dir/arrow_$fam"

  def cycle(ctx: Ctx): Unit = {
    val spark = ctx.spark
    ctx.op("sources.write_leg") {
      ctx.span("sql.cast_native") {
        spark.read.parquet(s"$dir/wkt").createOrReplaceTempView("wkt_input")
        spark.sql(GeoarrowIo.CastSql).createOrReplaceTempView("cast_geoms")
      }
      ctx.span("sources.geoparquet_write") {
        GeoParquet.write(spark.sql("SELECT id, geom FROM cast_geoms"), "geom", s"$dir/gpq")
      }
      GeoarrowIo.Families.foreach { case (fam, coordType) =>
        ctx.span("sources.arrow_write_geo") {
          ArrowIpc.writeGeo(spark.sql(s"SELECT id, geom FROM cast_geoms WHERE fam = '$fam'"),
            "geom", arrowPath(fam), fam, "xyz", coordType)
        }
      }
    }(_ => Nil)
    ctx.op("sources.read_leg") {
      val gpq = ctx.span("sources.geoparquet_read")(GeoParquet.read(spark, s"$dir/gpq", "geom"))
      gpq.createOrReplaceTempView("gpq_read")
      val arrow = ctx.span("sources.arrow_read_geo") {
        GeoarrowIo.Families.map { case (fam, _) => ArrowIpc.readGeo(spark, arrowPath(fam)) }
          .reduce(_ unionByName _)
      }
      arrow.createOrReplaceTempView("arrow_read")
      ctx.span("spark.collect") {
        Seq("gpq_read", "arrow_read").map(v => spark.sql(GeoarrowIo.readSql(v)).head())
      }
    } { results => results.zip(Seq("geoparquet", "arrow")).flatMap { case (r, src) =>
      check(src, r)
    } }
  }

  private def check(src: String, r: Row): Seq[String] = {
    val b = r.getStruct(r.fieldIndex("box"))
    Check.equal(s"$src WKB/WKT/format fingerprint", expectedFp,
        Fingerprint(r.getAs[Long]("fp_n"), r.getAs[Long]("fp_x"), r.getAs[Long]("fp_s"))) ++
      Check.equal(s"$src st_box_agg", expectedBox, (0 until 4).map(b.getDouble)) ++
      Check.equal(s"$src st_uniquetypes_agg", expectedTypes,
        r.getSeq[Int](r.fieldIndex("types")).sorted)
  }
}

object GeoarrowIo {
  /** Type family of each geometry, with the coordinate layout its GeoArrow
    * IPC dataset is written in. */
  val Families = Seq("multipoint" -> "separate", "multilinestring" -> "interleaved",
    "multipolygon" -> "separate")

  private def castBranch(fam: String): String =
    s"WHEN '$fam' THEN st_castdims(st_casttype(g, '$fam'), 'xyz')"

  private def nativeBranch(fam: String, layout: String, parity: Int): String =
    s"WHEN fam = '$fam' AND id % 2 = $parity THEN st_fromnative(st_tonative(c, " +
      s"'$fam', 'xyz', '$layout'), '$fam', 'xyz', '$layout')"

  val CastSql: String =
    s"""SELECT id, fam, CASE
       |  ${Families.flatMap { case (f, _) =>
            Seq(nativeBranch(f, "separate", 0), nativeBranch(f, "interleaved", 1)) }
          .mkString("\n  ")}
       |END AS geom
       |FROM (SELECT id, fam, CASE fam
       |  ${Families.map { case (f, _) => castBranch(f) }.mkString("\n  ")}
       |  END AS c
       |  FROM (SELECT id, g, CASE st_typeid(g) % 1000
       |      WHEN 1 THEN 'multipoint' WHEN 4 THEN 'multipoint'
       |      WHEN 2 THEN 'multilinestring' WHEN 5 THEN 'multilinestring'
       |      ELSE 'multipolygon' END AS fam
       |    FROM (SELECT id, st_geomfromwkt(wkt) AS g FROM wkt_input)))""".stripMargin

  def readSql(view: String): String =
    s"""SELECT ${Fingerprint.sql("id, st_aswkb(geom), st_aswkt(geom), st_format(geom, 6)")},
       |  st_box_agg(geom) AS box, st_uniquetypes_agg(geom) AS types
       |FROM $view""".stripMargin

  /** The oracle's view of the write leg: promote to the multi type, then
    * to XYZ. */
  def cast(g: Geom): Geom = {
    val multi = g.geomType match {
      case GeomTypes.Point | GeomTypes.MultiPoint => GeomTypes.MultiPoint
      case GeomTypes.LineString | GeomTypes.MultiLineString => GeomTypes.MultiLineString
      case _ => GeomTypes.MultiPolygon
    }
    Geom.castDims(Geom.castType(g, multi), Dims.XYZ)
  }

  /** Seeded geometry `i`: the type mix (points, lines, polygons with and
    * without holes, their multi forms) and XY/XYZ are drawn per row. */
  def wkt(seed: Long, i: Long): String = {
    val r = Gen.rng(seed, 3, i)
    val t = r.int(100)
    val z = r.double() < 0.5
    val cx = r.between(-170.0, 170.0)
    val cy = r.between(-80.0, 80.0)
    val sb = new java.lang.StringBuilder(256)
    def coord(x: Double, y: Double): Unit = {
      Gen.appendFixed(sb, x); sb.append(' '); Gen.appendFixed(sb, y)
      if (z) { sb.append(' '); Gen.appendFixed(sb, r.between(0.0, 1000.0)) }
    }
    def line(x0: Double, y0: Double): Unit = {
      val n = 2 + r.int(11)
      var x = x0; var y = y0
      sb.append('(')
      (0 until n).foreach { k =>
        if (k > 0) sb.append(", ")
        coord(x, y)
        x += r.between(-0.01, 0.01); y += r.between(-0.01, 0.01)
      }
      sb.append(')')
    }
    def ring(x0: Double, y0: Double, radius: Double, k: Int): Unit = {
      sb.append('(')
      // the closing vertex repeats the first one exactly
      val first = sb.length
      (0 until k).foreach { v =>
        if (v > 0) sb.append(", ")
        val ang = 2 * math.Pi * v / k
        coord(x0 + radius * math.cos(ang), y0 + radius * math.sin(ang))
      }
      val firstVertex = sb.substring(first, sb.indexOf(",", first))
      sb.append(", ").append(firstVertex).append(')')
    }
    def polygon(x0: Double, y0: Double): Unit = {
      val radius = r.between(0.001, 0.05)
      sb.append('(')
      ring(x0, y0, radius, 4 + r.int(7))
      if (r.double() < 0.3) { sb.append(", "); ring(x0, y0, radius / 3, 4) }
      sb.append(')')
    }
    def parts(n: Int)(one: (Double, Double) => Unit): Unit = {
      sb.append('(')
      (0 until n).foreach { k =>
        if (k > 0) sb.append(", ")
        one(cx + k * 0.1, cy + k * 0.05)
      }
      sb.append(')')
    }
    val tag = if (z) " Z " else " "
    if (t < 20) { sb.append("POINT").append(tag).append('('); coord(cx, cy); sb.append(')') }
    else if (t < 40) { sb.append("LINESTRING").append(tag); line(cx, cy) }
    else if (t < 60) { sb.append("POLYGON").append(tag); polygon(cx, cy) }
    else if (t < 73) {
      sb.append("MULTIPOINT").append(tag)
      parts(2 + r.int(4)) { (x, y) => sb.append('('); coord(x, y); sb.append(')') }
    }
    else if (t < 86) { sb.append("MULTILINESTRING").append(tag); parts(2 + r.int(3))(line) }
    else { sb.append("MULTIPOLYGON").append(tag); parts(2 + r.int(2))(polygon) }
    sb.toString
  }
}
