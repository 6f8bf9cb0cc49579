package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.Pipeline

/** Maintenance of a `graft.pipeline` table of seeded, bucketed rows. Each
  * cycle builds a fresh table: snapshot write, merge (seeded upserts that
  * move their rows plus fresh keys), delete, merge-on-read reads, then
  * compaction, and a resumable run interrupted after a seeded part of the
  * world and resumed. The driver, the scheduler and small-file writes
  * dominate; kernel work is almost nil. */
final class SnapshotTable(seed: Long) extends Workload {
  val name = "snapshot_table"
  val rows = 20000L
  val inputRows: Long = rows
  override val warmupCycles = 1
  val fresh: Long = rows / 50
  /** Rows of this group are deleted. */
  val deleteGroup: Int = java.lang.Math.floorMod(seed, SnapshotTable.Groups.toLong).toInt
  /** The 60° x 30° box of the `readBox` query. */
  val (boxLon, boxLat) = { val r = Gen.rng(seed, 7, 0); (r.between(-170.0, 100.0), r.between(-60.0, 20.0)) }
  /** The resumable run is cut after the buckets west of this meridian (a
    * bucket boundary). */
  val cutLon: Double = -90.0 + 90.0 * Gen.rng(seed, 8, 0).int(3)

  private var expectedCurrent: Fingerprint = _
  private var expectedBox: Fingerprint = _
  private var expectedBase: Fingerprint = _
  private var dir: String = _

  /** `readCurrent` is merge-on-read: the newest version of each key, less
    * the deleted group. `readBox` reads storage as it is: every committed
    * version inside the box, tombstoned or not. */
  def expect(): Unit = {
    val cur = new Fingerprint.Builder
    val box = new Fingerprint.Builder
    val base = new Fingerprint.Builder
    def stored(i: Long, ver: Long): Unit = {
      val (lon, lat, _) = SnapshotTable.place(seed, i, ver)
      if (lon >= boxLon && lon <= boxLon + 60.0 && lat >= boxLat && lat <= boxLat + 30.0)
        box.add(SnapshotTable.key(i), ver)
    }
    def current(i: Long, ver: Long): Unit =
      if (SnapshotTable.place(seed, i, ver)._3 != deleteGroup) cur.add(SnapshotTable.key(i), ver)
    var i = 0L
    while (i < rows) {
      base.add(SnapshotTable.key(i), 1L)
      stored(i, 1L)
      if (SnapshotTable.upserted(seed, i)) { stored(i, 2L); current(i, 2L) }
      else current(i, 1L)
      i += 1
    }
    while (i < rows + fresh) { stored(i, 1L); current(i, 1L); i += 1 }
    expectedCurrent = cur.result
    expectedBox = box.result
    expectedBase = base.result
  }

  def prepare(spark: SparkSession, dir: String): Unit = {
    this.dir = dir
    val s = seed
    val base = SnapshotTable.frame(spark, s, 0, rows, _ => true, 1L)
    base.write.parquet(s"$dir/base")
    SnapshotTable.frame(spark, s, 0, rows, SnapshotTable.upserted(s, _), 2L)
      .unionByName(SnapshotTable.frame(spark, s, rows, rows + fresh, _ => true, 1L))
      .write.parquet(s"$dir/updates")
  }

  private def fp(df: DataFrame): Fingerprint =
    Fingerprint.of(df, col("key"), col("ver").cast("long"))

  private def table(ctx: Ctx) = s"${ctx.dir}/table${ctx.cycleNo}"
  private def resumed(ctx: Ctx) = s"${ctx.dir}/resumed${ctx.cycleNo}"

  override def afterCycle(ctx: Ctx): Unit =
    Seq(table(ctx), resumed(ctx)).foreach(d => Io.deleteRecursively(java.nio.file.Paths.get(d)))

  def cycle(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val table = this.table(ctx)
    val resumed = this.resumed(ctx)
    def bucketed(path: String) = Pipeline.withBucket(spark.read.parquet(path), "lon", "lat", SnapshotTable.Zoom)
    ctx.op("pipeline.write") {
      Pipeline.writeSnapshot(bucketed(s"${ctx.dir}/base"), table, 1L,
        keyCol = "key", bytesCol = "payload")
    }(_ => Nil)
    ctx.op("pipeline.merge") {
      Pipeline.mergeSnapshot(bucketed(s"${ctx.dir}/updates"), table, 2L,
        mergeKeyCol = "key", bytesCol = "payload")
    }(_ => Nil)
    ctx.op("pipeline.delete") {
      Pipeline.deleteWhere(spark, table, col("grp") === deleteGroup, 3L, keyCol = "key")
    }(_ => Nil)
    ctx.op("pipeline.read_current") {
      fp(Pipeline.readCurrent(spark, table, keyCol = "key"))
    }(got => Check.equal("readCurrent (key, ver) fingerprint", expectedCurrent, got))
    ctx.op("pipeline.read_box") {
      fp(Pipeline.readBox(spark, table, boxLon, boxLat, boxLon + 60.0, boxLat + 30.0))
    }(got => Check.equal("readBox (key, ver) fingerprint", expectedBox, got))
    val stored = Io.sizeOf(table)
    ctx.note("stored_bytes_per_row", stored.toDouble /
      (expectedCurrent.rows + 0.0))
    ctx.note("pipeline.data_files_before_compact", Pipeline.dataFileCount(table))
    ctx.op("pipeline.compact") {
      Pipeline.compactSnapshots(spark, table, 3L, keyCol = "key", bytesCol = "payload")
    } { _ =>
      Check.equal("readCurrent after compaction", expectedCurrent,
          fp(Pipeline.readCurrent(spark, table, keyCol = "key"))) ++
        Check.equal("tombstones left after compaction", 0L,
          spark.read.parquet(s"$table/deletes").count())
    }
    ctx.note("pipeline.data_files_after_compact", Pipeline.dataFileCount(table))
    ctx.op("pipeline.resume") {
      val input = spark.read.parquet(s"${ctx.dir}/base")
      val (_, first) = Pipeline.runResumable(input.filter(col("lon") < cutLon),
        "lon", "lat", resumed, 1L, SnapshotTable.Zoom, keyCol = "key", bytesCol = "payload")(identity)
      val (_, rest) = Pipeline.runResumable(input, "lon", "lat", resumed, 2L,
        SnapshotTable.Zoom, keyCol = "key", bytesCol = "payload")(identity)
      first + rest
    } { n =>
      Check.equal("rows committed by the cut and resumed runs", rows, n) ++
        Check.equal("resumed table (key, ver) fingerprint", expectedBase,
          fp(spark.read.parquet(s"$resumed/data")))
    }
  }
}

object SnapshotTable {
  val Groups = 16
  /** Buckets are the 16 Web-Mercator tiles of zoom 2. */
  val Zoom = 2

  def key(i: Long): String = s"k$i"

  /** About 5% of the rows are upserted; an upsert moves its row east. */
  def upserted(seed: Long, i: Long): Boolean = Gen.unit(Gen.hash(seed, 5, i)) < 0.05

  /** (lon, lat, delete group) of row `i` in version `ver`. */
  def place(seed: Long, i: Long, ver: Long): (Double, Double, Int) = {
    val r = Gen.rng(seed, 6, i)
    val lon = r.between(-180.0, 180.0)
    val lat = r.between(-80.0, 80.0)
    val grp = r.int(Groups)
    (if (ver == 2L) Gen.wrapLon(lon + 7.5) else lon, lat, grp)
  }

  /** Rows `[from, until)` passing `keep`, all in version `ver`. */
  def frame(spark: SparkSession, seed: Long, from: Long, until: Long,
            keep: Long => Boolean, ver: Long): DataFrame = {
    import spark.implicits._
    spark.range(from, until, 1, 4).as[Long].filter(i => keep(i)).map { i =>
      val (lon, lat, grp) = place(seed, i, ver)
      (key(i), lon, lat, grp, ver, f"payload-$i%012d-$ver")
    }.toDF("key", "lon", "lat", "grp", "ver", "payload")
  }
}
