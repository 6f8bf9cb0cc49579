package graft.pipeline

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sql.Geo

/** Snapshot/manifest checkpointing with per-partition lineage + metrics
  * (SURVEY.md §2C "checkpoint/resume"). No Iceberg jar exists offline
  * (SURVEY.md §7), so the same semantics are provided over partitioned
  * Parquet: each snapshot appends spatial-bucket outputs plus a manifest
  * row per bucket (rows, bytes, bounds); resume anti-joins the already-
  * manifested buckets so rerunning after a failure processes only the
  * remainder. The layout mirrors an Iceberg table (data/ + manifests) so a
  * real catalog can slot in via `df.writeTo` when the jar is present.
  *
  * Like Iceberg, the table plans from its own metadata: every read of
  * `data/`, a snapshot subtree, `manifests/` or `deletes/` takes its schema
  * from a Parquet footer ([[Footers]]) instead of a schema-inference job,
  * compaction's tombstone probe reads footer statistics, and a resumable
  * run's committed-row count sums footer row counts. Building a read frame
  * runs no Spark job.
  */
object Pipeline {

  /** Partition-lineage key: Web-Mercator tile at `zoom` — spatial buckets,
    * so lineage is meaningful (which part of the world a file covers). */
  def withBucket(df: DataFrame, lonCol: String, latCol: String,
                 zoom: Int): DataFrame = {
    Geo.register(df.sparkSession)
    df.withColumn("bucket", call_function("st_tilezxy",
      col(lonCol).cast("double"), col(latCol).cast("double"), lit(zoom)))
  }

  /** One processing snapshot: write `df` (already bucketed) partitioned by
    * bucket, then append a manifest of per-bucket lineage metrics.
    * Returns the manifest DataFrame of this snapshot.
    *
    * The manifest is derived from the files just written, NOT from `df` —
    * aggregating `df` directly would re-execute the whole input lineage a
    * second time (at 100 TB that doubles the pipeline); reading back the
    * snapshot's own parquet is pure IO on the (already reduced) output. */
  def writeSnapshot(df: DataFrame, tableDir: String, snapshotId: Long,
                    keyCol: String = "image_id",
                    bytesCol: String = "bytes",
                    filesPerBucket: Int = 1): DataFrame =
    writeSnapshotReturningWritten(df, tableDir, snapshotId, keyCol,
      bytesCol, filesPerBucket)._1

  /** [[writeSnapshot]] plus the read-back frame over the snapshot's own
    * committed subtree — so callers that need a second derivation from
    * the files actually written (mergeSnapshot's tombstone keys) reuse
    * the one directory open instead of re-listing it (r06). */
  private def writeSnapshotReturningWritten(
      df: DataFrame, tableDir: String, snapshotId: Long,
      keyCol: String, bytesCol: String,
      filesPerBucket: Int): (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    val data = df.withColumn("snapshot_id", lit(snapshotId))
    // snapshot_id leads the partition spec so each snapshot owns its own
    // directory subtree: the manifest read-back below and `readSnapshot`
    // prune at the directory level (PartitionFilters) instead of opening
    // every file in table history — manifesting snapshot N must stay O(N's
    // output), not O(table history).
    coLocated(data, filesPerBucket)
      .write.mode(SaveMode.Append).partitionBy("snapshot_id", "bucket")
      .parquet(s"$tableDir/data")
    // read the just-written snapshot's own subtree, not the table root: a
    // root read lists EVERY snapshot's partition directories before the
    // filter prunes — O(table history) per commit on a long-lived table.
    // An empty write creates no subtree at all (a resumed run with nothing
    // left to do): its read-back is an empty frame of the written columns.
    val written = Footers.read(spark, snapshotDir(tableDir, snapshotId))
      .getOrElse(spark.createDataFrame(
        java.util.List.of[Row](), data.drop("snapshot_id").schema))
      // partition-column types are inferred from directory names (int vs
      // long depends on the values present) — pin them so manifests from
      // different snapshots always share one schema
      .withColumn("bucket", col("bucket").cast("long"))
    val manifest = manifestOf(written, snapshotId, keyCol, bytesCol)
    manifest.write.mode(SaveMode.Append).parquet(s"$tableDir/manifests")
    // snapshot log (Iceberg-style metadata trail)
    appendLogLine(tableDir,
      s"""{"snapshot_id":$snapshotId,"ts":${System.currentTimeMillis()}}""")
    (manifest, written)
  }

  /** Co-locate each bucket before a dynamic-partition write (the snapshot
    * write and the compaction rewrite): without this every task writes a
    * file per bucket it happens to hold (tasks x buckets tiny files — a
    * small-file explosion at scale); with it the file count is bounded by
    * bucket count x filesPerBucket. filesPerBucket > 1 salts hot buckets
    * across that many writer tasks — at 100 TB a dense world region lands
    * in one bucket, and a single writer task for it would be the straggler.
    *
    * The exchange gets the explicit width `defaultParallelism`: AQE never
    * coalesces a user-specified partition count, while it squeezes an
    * unsized one down to its 64 MB advisory target — one task writing every
    * bucket file in turn on a small snapshot. Each bucket (or bucket x salt)
    * still hashes to exactly one partition, so the file count is unchanged
    * and the writers run as wide as the cluster. */
  private def coLocated(data: DataFrame, filesPerBucket: Int): DataFrame = {
    val width = data.sparkSession.sparkContext.defaultParallelism
    if (filesPerBucket > 1)
      data.repartition(width, col("bucket"),
        pmod(hash(data.columns.map(col): _*), lit(filesPerBucket)))
    else data.repartition(width, col("bucket"))
  }

  private def snapshotDir(tableDir: String, snapshotId: Long): String =
    s"$tableDir/data/snapshot_id=$snapshotId"

  /** A table directory that must already hold a committed file (`data/`
    * and `manifests/` after the first commit, `deletes/` once the
    * tombstone probe found one); reading it earlier is an error. */
  private def committed(spark: SparkSession, dir: String): DataFrame =
    Footers.read(spark, dir).getOrElse(throw new IllegalArgumentException(
      s"$dir holds no data file: nothing is committed there yet"))

  /** Per-bucket lineage row (rows, bytes, key range) over already-written
    * snapshot data — shared by `writeSnapshot` and the compaction rebuild. */
  private def manifestOf(written: DataFrame, snapshotId: Long,
                         keyCol: String, bytesCol: String): DataFrame = {
    val bytesAgg =
      if (written.columns.contains(bytesCol))
        sum(length(col(bytesCol)).cast("long"))
      else lit(null).cast("long")
    val (minKey, maxKey) =
      if (written.columns.contains(keyCol))
        (min(col(keyCol).cast("string")), max(col(keyCol).cast("string")))
      else (lit(null).cast("string"), lit(null).cast("string"))
    written.groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("rows"),
        bytesAgg.as("bytes"),
        minKey.as("min_key"), maxKey.as("max_key"))
      .withColumn("snapshot_id", lit(snapshotId))
  }

  private val logLock = new Object
  /** Atomic append to `snapshots.jsonl`: one O_APPEND channel write per
    * line (the kernel advances the offset atomically per write call, so
    * cross-process appends of whole lines never interleave bytes) plus a
    * JVM-wide lock serializing same-process writers. Replaces the former
    * Files.writeString APPEND, whose concurrent appends could tear. */
  private[pipeline] def appendLogLine(tableDir: String, line: String): Unit =
    logLock.synchronized {
      val dir = Paths.get(tableDir)
      Files.createDirectories(dir)
      val ch = java.nio.channels.FileChannel.open(
        dir.resolve("snapshots.jsonl"), StandardOpenOption.CREATE,
        StandardOpenOption.WRITE, StandardOpenOption.APPEND)
      try ch.write(java.nio.ByteBuffer.wrap(
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      finally ch.close()
    }

  /** Buckets already committed across all snapshots of the table. */
  def processedBuckets(spark: SparkSession, tableDir: String): DataFrame =
    Footers.read(spark, s"$tableDir/manifests") match {
      case Some(m) => m.select("bucket").distinct()
      case None =>
        import spark.implicits._
        Seq.empty[Long].toDF("bucket")
    }

  /** Resume: drop the input rows whose bucket is already manifested. The
    * anti-join is broadcast (bucket list is small) so the big input is
    * filtered map-side without a shuffle. */
  def remainingInput(input: DataFrame, tableDir: String): DataFrame = {
    val done = processedBuckets(input.sparkSession, tableDir)
    input.join(broadcast(done), Seq("bucket"), "left_anti")
  }

  /** Snapshot-isolation read (Iceberg-style time travel): rows committed up
    * to and including `snapshotId`. */
  def readSnapshot(spark: SparkSession, tableDir: String,
                   snapshotId: Long): DataFrame =
    committed(spark, s"$tableDir/data")
      .filter(col("snapshot_id") <= snapshotId)

  /** Incremental read (Iceberg's `incremental-from-snapshot` / CDC append
    * scan): exactly the rows committed in snapshots
    * `(fromExclusive, toInclusive]` — what a downstream consumer processes
    * per tick without rescanning table history. Both bounds are predicates
    * on the `snapshot_id` partition directory, so planning prunes to the
    * new snapshots' directories (`PartitionFilters`) — the scan cost is
    * O(new data), never O(table), no matter how much history accumulates. */
  def readIncremental(spark: SparkSession, tableDir: String,
                      fromExclusive: Long, toInclusive: Long): DataFrame =
    committed(spark, s"$tableDir/data")
      .filter(col("snapshot_id") > fromExclusive &&
        col("snapshot_id") <= toInclusive)

  // ---- row-level operations (Iceberg v2 equality-delete semantics) ----
  //
  // The table is append-only at the file level; row-level UPSERT/DELETE is
  // merge-on-read: a `deletes/` parquet dir holds equality tombstones
  // (del_key, delete_snapshot), and a tombstone masks every data row of
  // that key committed BEFORE the tombstone's snapshot (strictly older —
  // the version a merge appends in the same snapshot survives). Readers
  // resolve current state with one anti-join on key; compaction applies
  // the tombstones to the rewritten base and retires them, so the live
  // delete set stays bounded by the merge traffic since the last
  // maintenance pass (exactly Iceberg's v2 contract: merge-on-read
  // between compactions, copy-on-write at compaction). Keys compare as
  // strings (the manifests' key-range convention). Snapshot ids must be
  // assigned monotonically — a tombstone can only mask snapshots below it.

  /** UPSERT: append `updates` (already bucketed) as snapshot `snapshotId`
    * and tombstone every older version of its keys. New keys insert,
    * existing keys replace — including rows whose coordinates moved to a
    * different bucket (masking is by key, not by bucket). Returns the
    * appended snapshot's manifest.
    *
    * Not atomic across the two dirs: a crash between the data append and
    * the tombstone write leaves both versions visible (append-only view);
    * clean up by re-writing the tombstones for `snapshotId`. On an object
    * store both writes ride one catalog CAS commit. */
  def mergeSnapshot(updates: DataFrame, tableDir: String, snapshotId: Long,
                    mergeKeyCol: String,
                    bytesCol: String = "bytes",
                    filesPerBucket: Int = 1): DataFrame = {
    val (manifest, written) = writeSnapshotReturningWritten(updates,
      tableDir, snapshotId, keyCol = mergeKeyCol, bytesCol = bytesCol,
      filesPerBucket = filesPerBucket)
    // tombstone the keys of the rows ACTUALLY WRITTEN (pure IO over the
    // committed snapshot — `written` is writeSnapshot's read-back of the
    // snapshot's own subtree, shared so the directory is opened once),
    // never a re-evaluation of `updates` — a nondeterministic input plan
    // (sampled/recomputed-after-retry) could otherwise tombstone a
    // different key set than it appended, leaving duplicate versions or
    // silently deleting un-replaced rows
    val dels = written
      .select(col(mergeKeyCol).cast("string").as("del_key")).distinct()
      .withColumn("delete_snapshot", lit(snapshotId))
    dels.write.mode(SaveMode.Append).parquet(s"$tableDir/deletes")
    appendLogLine(tableDir,
      s"""{"merge_snapshot":$snapshotId,"ts":${System.currentTimeMillis()}}""")
    manifest
  }

  /** Row-level DELETE: tombstone the keys of the CURRENT rows matching
    * `cond` (predicate evaluated against the merged view, like SQL DELETE
    * WHERE). No data files are touched — compaction reclaims the space.
    * Returns the tombstone DataFrame written. */
  def deleteWhere(spark: SparkSession, tableDir: String,
                  cond: org.apache.spark.sql.Column, snapshotId: Long,
                  keyCol: String = "image_id"): DataFrame = {
    val keys = readCurrent(spark, tableDir, keyCol = keyCol)
      .filter(cond)
      .select(col(keyCol).cast("string").as("del_key")).distinct()
      .withColumn("delete_snapshot", lit(snapshotId))
    keys.write.mode(SaveMode.Append).parquet(s"$tableDir/deletes")
    appendLogLine(tableDir,
      s"""{"delete_snapshot":$snapshotId,"ts":${System.currentTimeMillis()}}""")
    keys
  }

  /** Merged (current-state) read at snapshot `asOf` (default: latest):
    * data rows visible at `asOf`, minus rows masked by a newer-than-row
    * tombstone visible at `asOf`. The tombstone side is the small side —
    * bounded by merge/delete traffic since the last compaction — so the
    * anti-join broadcasts and the 100-TB data side never shuffles; if the
    * delete set outgrows the broadcast threshold the join degrades to a
    * shuffled hash anti-join on the key equi-component, which is the
    * signal to run `compactSnapshots`. */
  def readCurrent(spark: SparkSession, tableDir: String,
                  asOf: Long = Long.MaxValue,
                  keyCol: String = "image_id"): DataFrame = {
    val data = committed(spark, s"$tableDir/data")
      .filter(col("snapshot_id") <= asOf)
    Footers.read(spark, s"$tableDir/deletes") match {
      case None => data
      case Some(all) =>
        val dels = all.filter(col("delete_snapshot") <= asOf)
        data.join(dels,
          data(keyCol).cast("string") === dels("del_key") &&
            dels("delete_snapshot") > data("snapshot_id"),
          "left_anti")
    }
  }

  /** Spatial data skipping: buckets are z/x/y tiles, so the partition value
    * itself knows which part of the world each partition covers. The tile-
    * envelope intersection is expressed directly over the `bucket` partition
    * column — a deterministic predicate on partition columns only, which
    * Spark evaluates against directory values at planning time
    * (`PartitionFilters` in the scan; non-matching partitions are never
    * opened). Fully plan-side: no manifest collect, no driver-built In-list
    * — the shape survives 10^5 buckets. */
  def readBox(spark: SparkSession, tableDir: String, minLon: Double,
              minLat: Double, maxLon: Double, maxLat: Double): DataFrame = {
    Geo.register(spark)
    val b = col("bucket").cast("long")
    val env = call_function("st_tileenvelope", b)
    // edge rows absorb the Web-Mercator lat clamp: points with |lat| beyond
    // ±85.05 are stored (clamped) in the edge tiles, whose envelope tops out
    // at ±85.05 — extend those rows' test box to the poles so a polar query
    // box still matches the partition that actually holds its rows (the same
    // clamp absorption Tiles.coverGeom.hit applies).
    val n = expr("shiftleft(1L, st_tilez(CAST(bucket AS LONG)))")
    val ymax = when(call_function("st_tiley", b) === 0, lit(90.0))
      .otherwise(env.getField("ymax"))
    val ymin = when(call_function("st_tiley", b).cast("long") === n - 1, lit(-90.0))
      .otherwise(env.getField("ymin"))
    committed(spark, s"$tableDir/data")
      .filter(env.getField("xmin") <= maxLon && env.getField("xmax") >= minLon &&
        ymin <= maxLat && ymax >= minLat)
      .filter(col("lon") >= minLon && col("lon") <= maxLon &&
        col("lat") >= minLat && col("lat") <= maxLat)
  }

  /** Small-files compaction + snapshot expiry (the Iceberg
    * `rewrite_data_files` + `expire_snapshots` maintenance pass): squashes
    * every snapshot `<= upToSnapshotId` into one base snapshot, rewriting
    * each bucket's accumulated per-snapshot files as one file (or
    * `filesPerBucket` for hot buckets). At 100 TB an hourly-append table
    * grows O(snapshots x buckets) files — scan planning, footer reads, and
    * shuffle-fetch counts all degrade linearly with file count, so
    * periodic compaction is what keeps the table readable; reads at or
    * after the base snapshot are byte-identical before/after, while
    * history below it is expired (exactly Iceberg's retention contract).
    *
    * Commit is write-to-temp then directory swap — the same two-phase
    * shape a real catalog commit provides; on an object store the swap
    * becomes the catalog's atomic metadata pointer flip. Returns the
    * compacted manifest (one row per bucket). */
  def compactSnapshots(spark: SparkSession, tableDir: String,
                       upToSnapshotId: Long,
                       filesPerBucket: Int = 1,
                       beforeManifestSwap: () => Unit = () => (),
                       afterFence: () => Unit = () => (),
                       keyCol: String = "image_id",
                       bytesCol: String = "bytes"): DataFrame = {
    import java.nio.file.{Files => F}
    val dataDir = Paths.get(tableDir, "data")
    val delDir = Paths.get(tableDir, "deletes")
    // 1. rewrite the squashed range, partitioned by bucket only, to a temp
    // subtree (reads prune to snapshot_id<=N directories — PartitionFilters).
    // Equality tombstones at or below the squash point are APPLIED here
    // (their masked rows simply don't travel into the base snapshot) and
    // retired in step 4 — this is the copy-on-write leg of the v2
    // contract, and what keeps the live delete set bounded.
    val raw = committed(spark, dataDir.toString)
      .filter(col("snapshot_id") <= upToSnapshotId)
      .withColumn("bucket", col("bucket").cast("long"))
    // footer statistics answer "is any tombstone at or below the squash
    // point?" without a job; a row group without statistics answers yes,
    // which takes the exact (rebuild) path below
    val tombstonesApplied = Footers.mayHoldAtMost(delDir.toString,
      "delete_snapshot", upToSnapshotId)
    val applied =
      if (!tombstonesApplied) raw
      else {
        val dels = committed(spark, delDir.toString)
          .filter(col("delete_snapshot") <= upToSnapshotId)
        raw.join(dels,
          raw(keyCol).cast("string") === dels("del_key") &&
            dels("delete_snapshot") > raw("snapshot_id"),
          "left_anti")
      }
    val base = applied.drop("snapshot_id")
    val tmp = Paths.get(tableDir, s"compact_tmp_$upToSnapshotId")
    coLocated(base, filesPerBucket)
      .write.mode(SaveMode.Overwrite).partitionBy("bucket")
      .parquet(tmp.toString)
    // 2. swap, delete-last: rename the expired snapshot directories ASIDE
    // (into a staging dir outside the scan root), move the compacted
    // subtree in as the new base snapshot, and only then delete the aside
    // copies. A crash before the final deletes leaves both the old data
    // (recoverable from the aside dir) and the compacted tree on disk —
    // never a window where neither exists. On an object store the swap
    // becomes the catalog's atomic metadata pointer flip.
    val aside = Paths.get(tableDir, s"compact_aside_$upToSnapshotId")
    F.createDirectories(aside)
    val expired = F.list(dataDir).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter { p =>
        val n = p.getFileName.toString
        n.startsWith("snapshot_id=") &&
          (try n.stripPrefix("snapshot_id=").toLong <= upToSnapshotId
           catch { case _: NumberFormatException => false })
      }
    expired.foreach(p => F.move(p, aside.resolve(p.getFileName)))
    val target = dataDir.resolve(s"snapshot_id=$upToSnapshotId")
    F.createDirectories(dataDir)
    F.move(tmp, target)
    // 3. rewrite manifests: squashed range aggregated to one row per
    // bucket, later snapshots kept verbatim (same rename-aside discipline),
    // FENCED against concurrent writers: a writeSnapshot can append
    // manifest part files between our read and the directory swap, and an
    // unfenced swap would silently drop those rows (resume would then
    // re-process that snapshot's buckets — duplicate data). The merge
    // records the manifests listing BEFORE reading, re-lists immediately
    // before the swap, and re-runs the merge on any change, so every
    // appended row lands in the merged output. Bounded retries — sustained
    // append traffic during compaction means the maintenance job is
    // racing live writers and should back off (on an object store this
    // whole block is the catalog's CAS commit).
    val manifestsDir = Paths.get(tableDir, "manifests")
    val mTmp = Paths.get(tableDir, s"manifests_tmp_$upToSnapshotId")
    fencedRewrite(manifestsDir, mTmp, aside.resolve("manifests_old"),
      "manifests", onFirstAttempt = beforeManifestSwap,
      afterFenceSeam = afterFence) { () =>
      val m = committed(spark, manifestsDir.toString)
      // Summing the old manifest rows is exact only when every squashed row
      // survived the rewrite; once tombstones dropped rows, rebuild the base
      // manifest from the compacted files themselves (pure IO over the
      // already-reduced output — the same derivation writeSnapshot uses).
      val squashed0 =
        if (!tombstonesApplied)
          m.filter(col("snapshot_id") <= upToSnapshotId)
            .groupBy(col("bucket"))
            .agg(sum("rows").as("rows"), sum("bytes").as("bytes"),
              min("min_key").as("min_key"), max("max_key").as("max_key"))
            .withColumn("snapshot_id", lit(upToSnapshotId))
        else Footers.read(spark, target.toString) match {
          case None => m.filter(lit(false)) // every row tombstoned
          case Some(t) => manifestOf(
            t.withColumn("bucket", col("bucket").cast("long")),
            upToSnapshotId, keyCol, bytesCol)
        }
      val squashed = squashed0.select(m.columns.map(col): _*)
      squashed.unionByName(m.filter(col("snapshot_id") > upToSnapshotId))
        .write.mode(SaveMode.Overwrite).parquet(mTmp.toString)
    }
    // 4. retire the applied tombstones: rewrite `deletes/` keeping only
    // delete_snapshot > upTo (older ones are baked into the compacted
    // base). Same fenced swap as the manifests: a deleteWhere /
    // mergeSnapshot committing tombstones during this window must never
    // lose them. A straggler necessarily has delete_snapshot > upTo
    // (snapshot ids are monotonic), so the reconcile's verbatim move is
    // exactly what the filter would have kept.
    if (tombstonesApplied) {
      val dTmp = Paths.get(tableDir, s"deletes_tmp_$upToSnapshotId")
      fencedRewrite(delDir, dTmp, aside.resolve("deletes_old"),
        "deletes") { () =>
        committed(spark, delDir.toString)
          .filter(col("delete_snapshot") > upToSnapshotId)
          .repartition(1) // one part even when empty — dir stays readable
          .write.mode(SaveMode.Overwrite).parquet(dTmp.toString)
      }
    }
    // both swaps landed — the aside copies are now the only stale state
    deleteRecursively(aside)
    appendLogLine(tableDir,
      s"""{"compacted_to":$upToSnapshotId,"ts":${System.currentTimeMillis()}}""")
    committed(spark, manifestsDir.toString)
      .filter(col("snapshot_id") === upToSnapshotId)
  }

  /** Fenced directory rewrite — the ONE copy of the concurrency-critical
    * swap logic both the manifests merge and the tombstone retirement use.
    * `rewrite` must read `dir` and overwrite `tmp` from a consistent view;
    * the fence records the part listing before each rewrite, re-lists
    * after, and re-runs on any change (bounded retries — sustained traffic
    * means the maintenance job is racing live writers and should back
    * off). After the rename-aside swap, part files committed in the
    * fence-check→move window travel to the aside dir unmerged — the
    * post-swap reconciliation moves them verbatim into the new dir, so
    * rows can land late but never be lost. The caller destroys the aside
    * dir once every swap has landed. On an object store this whole shape
    * is the catalog's CAS commit. */
  private def fencedRewrite(dir: java.nio.file.Path, tmp: java.nio.file.Path,
      asideTarget: java.nio.file.Path, what: String,
      onFirstAttempt: () => Unit = () => (),
      afterFenceSeam: () => Unit = () => ())(rewrite: () => Unit): Unit = {
    import java.nio.file.{Files => F}
    def parts(): Set[String] = {
      val s = F.list(dir)
      try s.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
      finally s.close()
    }
    var attempts = 0
    var fenced = false
    var merged = Set.empty[String] // the parts the final rewrite read
    while (!fenced) {
      attempts += 1
      require(attempts <= 5,
        s"compactSnapshots: $what kept changing under concurrent " +
          "writers across 5 merge attempts — quiesce writers and retry")
      val listingAtRead = parts()
      rewrite()
      if (attempts == 1) onFirstAttempt() // test seam: inject a racer
      // the fence: a part appended since the pre-read listing is not
      // guaranteed to be in tmp — rewrite again over the fresh listing
      fenced = parts() == listingAtRead
      if (fenced) merged = listingAtRead
    }
    afterFenceSeam() // test seam: racer in the fence-check -> swap window
    F.move(dir, asideTarget)
    F.move(tmp, dir)
    locally {
      val s = F.list(asideTarget)
      try s.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter { p =>
          val n = p.getFileName.toString
          n.endsWith(".parquet") && !merged.contains(n)
        }
        .foreach(p => F.move(p, dir.resolve(p.getFileName)))
      finally s.close()
    }
  }

  /** Data-file count of the table (compaction's before/after metric). */
  def dataFileCount(tableDir: String): Int = {
    val root = Paths.get(tableDir, "data")
    if (!Files.exists(root)) return 0
    val s = Files.walk(root)
    try s.filter(p => p.getFileName.toString.endsWith(".parquet")).count().toInt
    finally s.close()
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))
      finally s.close()
    }
  }

  /** Full checkpointed run: bucket the input, skip processed buckets,
    * apply `transform`, write a new snapshot. Returns (manifest, #rows):
    * #rows is the footer row count of the snapshot's committed subtree (no
    * job), so a re-run with nothing left returns (empty manifest, 0). */
  def runResumable(input: DataFrame, lonCol: String, latCol: String,
                   tableDir: String, snapshotId: Long, zoom: Int = 3,
                   keyCol: String = "image_id", bytesCol: String = "bytes")(
      transform: DataFrame => DataFrame): (DataFrame, Long) = {
    val bucketed = withBucket(input, lonCol, latCol, zoom)
    val todo = remainingInput(bucketed, tableDir)
    val out = transform(todo)
    val manifest = writeSnapshot(out, tableDir, snapshotId, keyCol, bytesCol)
    (manifest, Footers.rowCount(snapshotDir(tableDir, snapshotId)))
  }
}
