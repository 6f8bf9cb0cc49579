package graft.pipeline

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ImagesTable

class PipelineSpec extends AnyFunSuite {
  lazy val spark = graft.sql.SparkTestSession.spark

  private def freshDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_$tag").toFile
    d.delete(); d.getAbsolutePath
  }

  /** Spark jobs started by `body`: a listener counts job starts tagged with
    * a job group set around `body`, and a marker job in a second group
    * closes the window — events reach a listener in order, so once the
    * marker's start arrives every job `body` started has been counted. */
  private def jobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"pipeline-spec-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val closed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(g) if g == group => jobs.incrementAndGet()
          case Some(g) if g == s"$group-end" => closed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-end", "marker")
      try sc.parallelize(Seq(0), 1).count() finally sc.clearJobGroup()
      assert(closed.await(15, TimeUnit.SECONDS), "marker job start not delivered")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  /** Parquet files under `d/data`, counted per bucket directory. */
  private def filesPerBucket(d: String): Map[String, Int] = {
    val root = java.nio.file.Paths.get(d, "data")
    val out = scala.collection.mutable.Map.empty[String, Int]
    java.nio.file.Files.walk(root).forEach { p =>
      if (p.toString.endsWith(".parquet")) {
        val bucket = p.getParent.getFileName.toString
        out(bucket) = out.getOrElse(bucket, 0) + 1
      }
    }
    out.toMap
  }

  test("snapshot write + resume + time travel") {
    val dir = freshDir("pipe")
    val images = Pipeline.withBucket(
      ImagesTable.generate(spark, 3000L), "lon", "lat", zoom = 3)
    Pipeline.writeSnapshot(images.filter(pmod(col("bucket"), lit(2)) === 0), dir, 1L)
    val remaining = Pipeline.remainingInput(images, dir)
    assert(remaining.count() > 0)
    Pipeline.writeSnapshot(remaining, dir, 2L)
    assert(Pipeline.remainingInput(images, dir).count() == 0)

    // time travel: snapshot 1 sees only its half; snapshot 2 sees all
    val s1 = Pipeline.readSnapshot(spark, dir, 1L).count()
    val s2 = Pipeline.readSnapshot(spark, dir, 2L).count()
    assert(s1 > 0 && s1 < 3000 && s2 == 3000)

    // manifests carry lineage metrics per bucket
    val manifest = spark.read.parquet(s"$dir/manifests")
    assert(manifest.columns.toSet ==
      Set("bucket", "rows", "bytes", "min_key", "max_key", "snapshot_id"))
    assert(manifest.agg(sum("rows")).collect()(0).getLong(0) == 3000)
  }

  test("manifest-driven spatial data skipping reads only intersecting buckets") {
    val dir = freshDir("skip")
    val images = Pipeline.withBucket(
      ImagesTable.generate(spark, 3000L), "lon", "lat", zoom = 3)
    Pipeline.writeSnapshot(images, dir, 1L)

    val box = (0.0, 0.0, 40.0, 40.0)
    val got = Pipeline.readBox(spark, dir, box._1, box._2, box._3, box._4)
    val expected = images.filter(col("lon") >= box._1 && col("lon") <= box._3 &&
      col("lat") >= box._2 && col("lat") <= box._4).count()
    assert(got.count() == expected && expected > 0)
    // the scan's partition filter keeps non-intersecting buckets unread
    val formatted = got.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("PartitionFilters") &&
      formatted.contains("bucket#"), formatted)
  }

  test("snapshots are partition directories: manifest/time-travel reads prune") {
    val dir = freshDir("snapdir")
    val images = Pipeline.withBucket(
      ImagesTable.generate(spark, 1000L), "lon", "lat", zoom = 3)
    Pipeline.writeSnapshot(images.filter(pmod(col("bucket"), lit(2)) === 0), dir, 1L)
    Pipeline.writeSnapshot(images.filter(pmod(col("bucket"), lit(2)) === 1), dir, 2L)
    // layout: data/snapshot_id=N/bucket=M — snapshot N's manifest build and
    // time travel prune at the directory level, never opening other
    // snapshots' files (O(snapshot), not O(table history))
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(dir, "data", "snapshot_id=1")))
    val scan = spark.read.parquet(s"$dir/data")
      .filter(col("snapshot_id") === 2L)
    val formatted = scan.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("PartitionFilters") &&
      formatted.contains("snapshot_id#"), formatted)
  }

  test("readIncremental returns exactly the snapshot delta, pruned") {
    val dir = freshDir("incr")
    val images = Pipeline.withBucket(
      ImagesTable.generate(spark, 900L), "lon", "lat", zoom = 3)
    (0 until 3).foreach { m =>
      Pipeline.writeSnapshot(
        images.filter(pmod(col("image_id").substr(lit(5), lit(18)).cast("long"),
          lit(3)) === m), dir, m + 1L)
    }
    val total = spark.read.parquet(s"$dir/data").count()
    val delta = Pipeline.readIncremental(spark, dir, 1L, 3L)
    val snap1 = spark.read.parquet(s"$dir/data")
      .filter(col("snapshot_id") === 1L).count()
    assert(delta.count() == total - snap1 && snap1 > 0)
    assert(delta.select("snapshot_id").distinct()
      .collect().map(_.getInt(0)).toSet == Set(2, 3))
    // O(new data): both bounds prune at the partition-directory level
    val formatted = delta.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("PartitionFilters") &&
      formatted.contains("snapshot_id#"), formatted)
  }

  test("readBox polar query boxes reach the clamped edge-tile rows") {
    // points beyond the Web-Mercator clamp (|lat| > 85.05) store in edge
    // tiles whose envelope tops out at +-85.05; the partition predicate
    // must extend edge rows to the poles or such rows become unreachable
    val dir = freshDir("polar")
    import spark.implicits._
    val pts = Seq((1L, 10.0, 89.0), (2L, 10.0, 50.0), (3L, -170.0, -89.5))
      .toDF("image_id", "lon", "lat")
    Pipeline.writeSnapshot(
      Pipeline.withBucket(pts, "lon", "lat", zoom = 3), dir, 1L,
      bytesCol = "nope")
    val north = Pipeline.readBox(spark, dir, 0.0, 88.0, 20.0, 90.0)
    assert(north.select("image_id").collect().map(_.getLong(0)).toSeq == Seq(1L))
    val south = Pipeline.readBox(spark, dir, -180.0, -90.0, 0.0, -86.0)
    assert(south.select("image_id").collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("writeSnapshot bounds file counts; filesPerBucket salts hot buckets") {
    val dir = freshDir("files")
    val images = Pipeline.withBucket(
      ImagesTable.generate(spark, 2000L), "lon", "lat", zoom = 1)
    Pipeline.writeSnapshot(images, dir, 1L)
    // co-located write: exactly one file per bucket per snapshot
    assert(filesPerBucket(dir).values.forall(_ == 1), filesPerBucket(dir))

    val dir2 = freshDir("files2")
    Pipeline.writeSnapshot(images, dir2, 1L, filesPerBucket = 4)
    val counts = filesPerBucket(dir2)
    assert(counts.values.forall(_ <= 4), counts)
    assert(counts.values.exists(_ > 1), s"hot buckets should split: $counts")
    // same rows either way
    assert(spark.read.parquet(s"$dir2/data").count() == 2000L)
  }

  test("compaction squashes snapshots: reads identical, files per bucket = 1") {
    val dir = freshDir("compact")
    val images = Pipeline.withBucket(
      ImagesTable.generate(spark, 3000L), "lon", "lat", zoom = 3)
    Pipeline.writeSnapshot(images.filter(col("image_id") < "img000001000"), dir, 1L)
    Pipeline.writeSnapshot(images.filter(col("image_id") >= "img000001000" &&
      col("image_id") < "img000002000"), dir, 2L)
    Pipeline.writeSnapshot(images.filter(col("image_id") >= "img000002000"), dir, 3L)

    val beforeRows = Pipeline.readSnapshot(spark, dir, 3L)
      .select("image_id", "phash").collect().map(_.toString).sorted
    val beforeFiles = Pipeline.dataFileCount(dir)
    val beforeManifestRows = spark.read.parquet(s"$dir/manifests")
      .agg(sum("rows")).collect()(0).getLong(0)

    val manifest = Pipeline.compactSnapshots(spark, dir, 3L)
    val nBuckets = manifest.count()

    // byte-identical read at the base snapshot, one file per bucket
    val afterRows = Pipeline.readSnapshot(spark, dir, 3L)
      .select("image_id", "phash").collect().map(_.toString).sorted
    assert(afterRows.toSeq == beforeRows.toSeq)
    val afterFiles = Pipeline.dataFileCount(dir)
    assert(afterFiles == nBuckets && afterFiles < beforeFiles,
      s"files $beforeFiles -> $afterFiles, buckets $nBuckets")
    // manifest totals preserved; squashed range now one row per bucket
    val m = spark.read.parquet(s"$dir/manifests")
    assert(m.agg(sum("rows")).collect()(0).getLong(0) == beforeManifestRows)
    assert(m.count() == nBuckets)
    // resume keeps working against the compacted manifest
    assert(Pipeline.remainingInput(images, dir).count() == 0)
    // a later append lands on top and time travel still separates it
    Pipeline.writeSnapshot(images.limit(10), dir, 4L)
    assert(Pipeline.readSnapshot(spark, dir, 3L).count() == 3000L)
    assert(Pipeline.readSnapshot(spark, dir, 4L).count() == 3010L)
  }

  test("compaction fences a concurrent snapshot append: manifest rows survive, resume skips its buckets") {
    val dir = freshDir("fence")
    val images = Pipeline.withBucket(
      ImagesTable.generate(spark, 2000L), "lon", "lat", zoom = 3)
    val first = images.filter(pmod(col("bucket"), lit(2)) === 0)
    val second = images.filter(pmod(col("bucket"), lit(2)) === 1)
    Pipeline.writeSnapshot(first, dir, 1L)
    // a writer commits snapshot 2 AFTER compaction has read + merged the
    // manifests but BEFORE the directory swap — exactly the window where
    // the unfenced swap lost the appended manifest rows
    var appended = false
    Pipeline.compactSnapshots(spark, dir, 1L, beforeManifestSwap = () => {
      Pipeline.writeSnapshot(second, dir, 2L)
      appended = true
    })
    assert(appended)
    val m = spark.read.parquet(s"$dir/manifests")
    // snapshot 2's manifest rows survived the compaction swap
    assert(m.filter(col("snapshot_id") === 2L).count() > 0)
    assert(m.agg(sum("rows")).collect()(0).getLong(0) == 2000L)
    // resume does NOT re-process the racer's buckets (they are manifested)
    assert(Pipeline.remainingInput(images, dir).count() == 0)
    // and the table itself holds both halves, time-travel intact
    assert(Pipeline.readSnapshot(spark, dir, 2L).count() == 2000L)
    assert(Pipeline.readSnapshot(spark, dir, 1L).count() == first.count())
  }

  test("compaction rescues a manifest part committed between the fence check and the swap") {
    // the fence re-list and the directory move are not one atomic step: a
    // part committed in that residual window travels to the aside dir
    // unmerged, and destroying the aside would destroy its rows. The
    // post-swap reconciliation must move it verbatim into the new
    // manifests dir before the aside dies.
    val dir = freshDir("fence2")
    val images = Pipeline.withBucket(
      ImagesTable.generate(spark, 2000L), "lon", "lat", zoom = 3)
    val first = images.filter(pmod(col("bucket"), lit(2)) === 0)
    val second = images.filter(pmod(col("bucket"), lit(2)) === 1)
    Pipeline.writeSnapshot(first, dir, 1L)
    var appended = false
    Pipeline.compactSnapshots(spark, dir, 1L, afterFence = () => {
      Pipeline.writeSnapshot(second, dir, 2L)
      appended = true
    })
    assert(appended)
    val m = spark.read.parquet(s"$dir/manifests")
    // snapshot 2's manifest rows were rescued from the aside dir
    assert(m.filter(col("snapshot_id") === 2L).count() > 0)
    assert(m.agg(sum("rows")).collect()(0).getLong(0) == 2000L)
    // resume does NOT re-process the racer's buckets
    assert(Pipeline.remainingInput(images, dir).count() == 0)
    assert(Pipeline.readSnapshot(spark, dir, 2L).count() == 2000L)
  }

  test("mergeSnapshot upserts: new keys insert, existing replace — even across buckets") {
    val dir = freshDir("merge")
    val images = Pipeline.withBucket(
      ImagesTable.generate(spark, 2000L), "lon", "lat", zoom = 3)
    Pipeline.writeSnapshot(images, dir, 1L)
    // updates: 300 replaced captions, 100 of them MOVED to a different
    // bucket (lon shifted), plus 50 brand-new keys
    val replaced = images.filter(col("image_id") < "img000000300")
      .withColumn("caption", concat(lit("v2_"), col("caption")))
    val moved = Pipeline.withBucket(
      replaced.filter(col("image_id") < "img000000100")
        .withColumn("lon", -col("lon")).drop("bucket"), "lon", "lat", zoom = 3)
    val updates = replaced.filter(col("image_id") >= "img000000100")
      .unionByName(moved)
      .unionByName(images.filter(col("image_id") < "img000000050")
        .withColumn("image_id", concat(col("image_id"), lit("_new"))))
    Pipeline.mergeSnapshot(updates, dir, 2L, mergeKeyCol = "image_id")

    val cur = Pipeline.readCurrent(spark, dir)
    assert(cur.count() == 2050L)
    // exactly one version per key survives
    assert(cur.groupBy("image_id").count().filter(col("count") > 1).count() == 0)
    // replaced keys carry the v2 caption — including the moved-bucket ones
    val v2 = cur.filter(col("image_id") < "img000000300" &&
      !col("image_id").endsWith("_new"))
    assert(v2.count() == 300L)
    assert(v2.filter(col("caption").startsWith("v2_")).count() == 300L)
    // time travel: the pre-merge view still shows version 1
    val asOf1 = Pipeline.readCurrent(spark, dir, asOf = 1L)
    assert(asOf1.count() == 2000L)
    assert(asOf1.filter(col("caption").startsWith("v2_")).count() == 0)
  }

  test("deleteWhere tombstones current rows; compaction applies and retires them") {
    val dir = freshDir("rowdel")
    val images = Pipeline.withBucket(
      ImagesTable.generate(spark, 1500L), "lon", "lat", zoom = 3)
    Pipeline.writeSnapshot(images, dir, 1L)
    val upd = images.filter(col("image_id") < "img000000200")
      .withColumn("caption", lit("v2"))
    Pipeline.mergeSnapshot(upd, dir, 2L, mergeKeyCol = "image_id")
    Pipeline.deleteWhere(spark, dir, col("image_id") >= "img000001400", 3L)

    val expect = Pipeline.readCurrent(spark, dir)
      .select("image_id", "caption").collect().map(_.toString).sorted.toSeq
    assert(expect.size == 1400)
    // the merged view hides the masked versions but the delete set is live
    assert(spark.read.parquet(s"$dir/deletes").count() > 0)

    val manifest = Pipeline.compactSnapshots(spark, dir, 3L)
    // tombstones are baked into the base snapshot and retired
    assert(spark.read.parquet(s"$dir/deletes").count() == 0)
    val after = Pipeline.readCurrent(spark, dir)
      .select("image_id", "caption").collect().map(_.toString).sorted.toSeq
    assert(after == expect)
    // raw storage holds exactly the current rows now — no masked versions
    assert(spark.read.parquet(s"$dir/data").count() == 1400L)
    // the rebuilt manifest counts the surviving rows, not the appended ones
    assert(manifest.agg(sum("rows")).collect()(0).getLong(0) == 1400L)
    assert(Pipeline.dataFileCount(dir) == manifest.count())
    // a tombstone committed after the squash point still masks the base
    Pipeline.deleteWhere(spark, dir, col("caption") === "v2", 4L)
    assert(Pipeline.readCurrent(spark, dir).count() == 1200L)
  }

  test("snapshot log appends are whole-line atomic under concurrent writers") {
    // hammer the log-append primitive from many threads (what concurrent
    // writeSnapshot commits reduce to); every line must come out complete —
    // no interleaved bytes, no torn lines. Concurrent DATA writes to one
    // table dir remain serialized by the caller (Spark's FileOutputCommitter
    // shares _temporary/), which is why the log append is the fence point.
    val dir = freshDir("log")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val threads = (1 to 8).map { t =>
      new Thread(() => (0 until 25).foreach { i =>
        Pipeline.appendLogLine(dir,
          s"""{"snapshot_id":${t * 100 + i},"ts":${"9" * (t * 2)}1}""")
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(dir, "snapshots.jsonl"))
    assert(lines.size() == 200)
    lines.forEach { l =>
      assert(l.matches("""\{"snapshot_id":\d+,"ts":\d+\}"""), l)
    }
  }

  test("stage metrics listener records pipeline stage volumes") {
    val dir = freshDir("metrics")
    val images = Pipeline.withBucket(
      ImagesTable.generate(spark, 1000L), "lon", "lat", zoom = 3)
    val ((_, total), nStages) = Metrics.withStageMetrics(spark, dir) {
      Pipeline.runResumable(ImagesTable.generate(spark, 1000L), "lon", "lat",
        dir, 1L)(df => df)
    }
    assert(total == 1000L)
    assert(nStages > 0)
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$dir/metrics.jsonl"))
    assert(lines.size() == nStages)
    assert(lines.get(0).contains("\"tasks\":"))
  }

  test("re-running a finished resumable run commits nothing and returns (empty manifest, 0)") {
    val dir = freshDir("rerun")
    val input = ImagesTable.generate(spark, 2000L)
    val (_, first) = Pipeline.runResumable(input, "lon", "lat", dir, 1L)(df => df)
    assert(first == 2000L)
    // every bucket is manifested: the re-run (a crash after the last
    // commit) writes an empty frame, which creates no snapshot subtree
    val (manifest, again) = Pipeline.runResumable(input, "lon", "lat", dir, 2L)(df => df)
    assert(again == 0L)
    assert(manifest.count() == 0L)
    assert(manifest.columns.toSet ==
      Set("bucket", "rows", "bytes", "min_key", "max_key", "snapshot_id"))
    // the same for direct writes and merges of an empty frame
    val empty = Pipeline.withBucket(input, "lon", "lat", zoom = 3).limit(0)
    assert(Pipeline.writeSnapshot(empty, dir, 3L).count() == 0L)
    assert(Pipeline.mergeSnapshot(empty, dir, 4L, mergeKeyCol = "image_id").count() == 0L)
    assert(Pipeline.readCurrent(spark, dir).count() == 2000L)
    assert(Pipeline.remainingInput(
      Pipeline.withBucket(input, "lon", "lat", zoom = 3), dir).count() == 0L)
  }

  test("building read frames runs no Spark job; footer reads keep the inferred schema") {
    val dir = freshDir("nojobs")
    // zoom 2: at most 16 bucket directories per snapshot, below Spark's
    // parallel-listing threshold, so file listing stays on the driver too
    val images = Pipeline.withBucket(
      ImagesTable.generate(spark, 1000L), "lon", "lat", zoom = 2)
    Pipeline.writeSnapshot(images, dir, 1L)
    Pipeline.mergeSnapshot(images.filter(col("image_id") < "img000000100")
      .withColumn("caption", lit("v2")), dir, 2L, mergeKeyCol = "image_id")
    Pipeline.deleteWhere(spark, dir, col("image_id") >= "img000000900", 3L)
    var frames = Seq.empty[org.apache.spark.sql.DataFrame]
    val jobs = jobsIn {
      frames = Seq(
        Pipeline.readCurrent(spark, dir),
        Pipeline.readBox(spark, dir, -180.0, -90.0, 180.0, 90.0),
        Pipeline.readSnapshot(spark, dir, 2L))
    }
    assert(jobs == 0, s"$jobs Spark jobs before any action")
    assert(frames.map(_.count()) == Seq(900L, 1100L, 1100L))
    val inferred = spark.read.parquet(s"$dir/data")
    assert(Pipeline.readSnapshot(spark, dir, 2L).schema == inferred.schema)
    assert(Pipeline.readSnapshot(spark, dir, 2L).schema.map(_.name) ==
      images.columns.filter(_ != "bucket").toSeq ++ Seq("snapshot_id", "bucket"))
  }

  test("writeSnapshot writes its bucket files from several tasks, one file per bucket") {
    val dir = freshDir("wide")
    val images = Pipeline.withBucket(
      ImagesTable.generate(spark, 2000L), "lon", "lat", zoom = 2)
    Pipeline.writeSnapshot(images, dir, 1L)
    val counts = filesPerBucket(dir)
    assert(counts.size > 1 && counts.values.forall(_ == 1), counts)
    // part-NNNNN is the writing task's partition id
    val tasks = scala.collection.mutable.Set.empty[String]
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "data")).forEach { p =>
      val n = p.getFileName.toString
      if (n.endsWith(".parquet")) tasks += n.take("part-00000".length)
    }
    assert(tasks.size > 1, s"one writer task wrote every bucket: $tasks")
  }

  test("compaction below every tombstone keeps them: reads and manifest totals unchanged") {
    val dir = freshDir("keepdel")
    val images = Pipeline.withBucket(
      ImagesTable.generate(spark, 1500L), "lon", "lat", zoom = 3)
    Pipeline.writeSnapshot(images.filter(col("image_id") < "img000000800"), dir, 1L)
    Pipeline.writeSnapshot(images.filter(col("image_id") >= "img000000800"), dir, 2L)
    Pipeline.mergeSnapshot(images.filter(col("image_id") < "img000000200")
      .withColumn("caption", lit("v2")), dir, 3L, mergeKeyCol = "image_id")
    def current = Pipeline.readCurrent(spark, dir)
      .select("image_id", "caption").collect().map(_.toString).sorted.toSeq
    val before = current
    val tombstones = spark.read.parquet(s"$dir/deletes").count()
    val manifestRows = spark.read.parquet(s"$dir/manifests")
      .agg(sum("rows")).collect()(0).getLong(0)
    assert(before.size == 1500 && tombstones == 200L)

    // every tombstone (delete_snapshot 3) is newer than the squash point
    Pipeline.compactSnapshots(spark, dir, 2L)
    assert(spark.read.parquet(s"$dir/deletes").count() == tombstones)
    assert(current == before)
    assert(spark.read.parquet(s"$dir/manifests")
      .agg(sum("rows")).collect()(0).getLong(0) == manifestRows)
  }

  test("runResumable's row count is the committed snapshot's, for a cut run and its resume") {
    val dir = freshDir("rescount")
    val input = ImagesTable.generate(spark, 2000L)
    val (_, cut) = Pipeline.runResumable(
      input.filter(col("lon") < 0.0), "lon", "lat", dir, 1L)(df => df)
    assert(cut > 0L && cut == Pipeline.readSnapshot(spark, dir, 1L).count())
    val (_, resumed) = Pipeline.runResumable(input, "lon", "lat", dir, 2L)(df => df)
    assert(resumed > 0L &&
      resumed == Pipeline.readIncremental(spark, dir, 1L, 2L).count())
    assert(cut + resumed == 2000L)
  }
}
