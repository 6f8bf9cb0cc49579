package perfbench

import org.apache.spark.sql.catalyst.InternalRow

import graft.core.{Cells, Geom, Pip, Tiles, Wkb, Wkt}
import graft.sources.ImagesTable
import graft.sql.GeoStruct

/** Single-threaded timers of the per-row kernels of `core` and the struct
  * codec of `sql`, on seeded samples drawn like the join_tile and
  * geoarrow_io inputs. Each figure is nanoseconds per item, the median
  * over repeated passes of the sample. */
object Micro {
  private val PassNs = 40L * 1000 * 1000
  @volatile private var sink = 0L

  /** Median ns per item over passes of `body`, which returns its item count
    * and folds its results into the checksum it returns. */
  private def time(body: () => (Long, Long)): Double = {
    (0 until 3).foreach(_ => sink ^= body()._2)
    val perItem = scala.collection.mutable.ArrayBuffer[Double]()
    val until = System.nanoTime() + 5 * PassNs
    while (perItem.size < 5 || System.nanoTime() < until) {
      val t0 = System.nanoTime()
      val (items, check) = body()
      perItem += (System.nanoTime() - t0).toDouble / math.max(items, 1L)
      sink ^= check
    }
    val s = perItem.sorted
    s(s.size / 2)
  }

  def run(seed: Long): Map[String, Double] = {
    val offset = new JoinTile(seed).offset
    val n = 20000
    val lon = new Array[Double](n)
    val lat = new Array[Double](n)
    (0 until n).foreach { i =>
      val ph = ImagesTable.phashOf(offset + i)
      lon(i) = ImagesTable.lonOf(ph); lat(i) = ImagesTable.latOf(ph)
    }
    val polys = JoinTile.polygonWkts(seed).map(p => Wkt.parse(p._2)).toArray
    val boxes = polys.map(Geom.envelope)
    // the refine calls the join makes: (point, polygon) pairs whose boxes match
    val pairs = (0 until n).flatMap { i =>
      polys.indices.filter { p =>
        val b = boxes(p); lon(i) >= b(0) && lon(i) <= b(2) && lat(i) >= b(1) && lat(i) <= b(3)
      }.map(p => (i, p))
    }.toArray
    val wkts = (0 until 4000).map(i => GeoarrowIo.wkt(seed, i)).toArray
    val geoms = wkts.map(w => GeoarrowIo.cast(Wkt.parse(w)))
    val wkbs = geoms.map(Wkb.write)
    val rows: Array[InternalRow] = geoms.map(GeoStruct.encode)

    Map(
      "core.pip_ns" -> time { () =>
        var c = 0L
        pairs.foreach { case (i, p) => if (Pip.containsPoint(polys(p), lon(i), lat(i))) c += 1 }
        (pairs.length.toLong, c)
      },
      "core.tile_ns" -> time { () =>
        var c = 0L
        var i = 0
        while (i < n) {
          val t16 = Tiles.tileId(lon(i), lat(i), 16)
          c += Tiles.parentAt(t16, 12) ^ Tiles.parentAt(t16, 8)
          i += 1
        }
        (n.toLong, c)
      },
      "core.cell_ns" -> time { () =>
        var c = 0L
        var i = 0
        while (i < n) { c ^= Cells.cellId(lon(i), lat(i), 12); i += 1 }
        (n.toLong, c)
      },
      "core.wkt_parse_ns" -> time { () =>
        (wkts.length.toLong, wkts.foldLeft(0L)((c, w) => c + Wkt.parse(w).numCoords))
      },
      "core.wkt_write_ns" -> time { () =>
        (geoms.length.toLong, geoms.foldLeft(0L)((c, g) => c + Wkt.write(g).length))
      },
      "core.wkb_parse_ns" -> time { () =>
        (wkbs.length.toLong, wkbs.foldLeft(0L)((c, b) => c + Wkb.parse(b).numCoords))
      },
      "core.wkb_write_ns" -> time { () =>
        (geoms.length.toLong, geoms.foldLeft(0L)((c, g) => c + Wkb.write(g).length))
      },
      "sql.encode_ns" -> time { () =>
        (geoms.length.toLong, geoms.foldLeft(0L)((c, g) => c + GeoStruct.encode(g).numFields))
      },
      "sql.decode_ns" -> time { () =>
        (rows.length.toLong, rows.foldLeft(0L)((c, r) => c + GeoStruct.decode(r).numCoords))
      })
  }
}
