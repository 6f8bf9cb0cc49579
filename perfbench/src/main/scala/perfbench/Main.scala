package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark. The harness calls `expect` once (driver
  * oracles from the seed alone, untimed), `prepare` in each set-up (a fresh
  * session each), `cycle` to warm up, then `cycle` in a closed loop until
  * the run's time is up. */
trait Workload {
  def name: String
  /** Input rows that `rows_per_s` divides by the median cycle time. */
  def inputRows: Long
  /** Unmeasured cycles before the measured ones: the first runs cold and
    * later ones still speed up while the JIT compiles the hot paths, for as
    * many cycles as the workload's measurements showed. */
  def warmupCycles: Int = 2
  def expect(): Unit
  def prepare(spark: SparkSession, dir: String): Unit
  def cycle(ctx: Ctx): Unit
  /** Per-layer figures that only the traced run takes. */
  def traceExtras(ctx: Ctx): Map[String, Double] = Map.empty
  /** Runs after a cycle's checks, untimed. */
  def afterCycle(ctx: Ctx): Unit = ()
}

/** One call into the engine. `threw`: it did not complete (its time is not
  * a sample); `ok`: it completed and its output passed the check. */
final case class OpRecord(phase: String, cycle: Int, name: String, wallNs: Long,
                          threw: Boolean, var ok: Boolean, var error: String)

/** Thrown by [[Ctx.op]] when a call into the engine fails: the rest of the
  * cycle depends on it, so the cycle ends there. */
final class CycleAborted extends RuntimeException

/** What a cycle sees: the session, its data directory and the recorders. */
final class Ctx(val spark: SparkSession, val dir: String, val cores: Int,
                val ops: mutable.ArrayBuffer[OpRecord],
                val notes: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]) {
  var tracer: Tracer = null
  var phase = "warmup"
  var cycleNo = 0
  private val pendingChecks = mutable.ArrayBuffer[(OpRecord, () => Seq[String])]()

  def span[T](name: String)(body: => T): T =
    if (tracer == null) body else tracer.span(name)(body)

  /** A timed call into the engine. Its output check is queued and runs
    * after the cycle, so checks never count into a timing or a span. */
  def op[T](name: String)(body: => T)(check: T => Seq[String]): T = {
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try Right(span(name)(body)) catch { case e: Exception => Left(e) }
    val rec = OpRecord(phase, cycleNo, name, System.nanoTime() - t0, res.isLeft,
      ok = res.isRight, "")
    ops += rec
    System.err.println(f"perfbench: [$phase cycle $cycleNo] $name ${rec.wallNs / 1e9}%.3f s")
    if (tracer != null) Io.recordWritten(tracer, tracer.spans.last.id, dir, ms0)
    res match {
      case Left(e) =>
        rec.error = s"$name threw: ${Main.brief(e)}"
        throw new CycleAborted
      case Right(v) =>
        pendingChecks += ((rec, () => check(v)))
        v
    }
  }

  /** Adds a figure that the report summarises by its median. */
  def note(key: String, v: Double): Unit =
    if (phase != "warmup") notes.getOrElseUpdate(key, mutable.ArrayBuffer()) += v

  def runChecks(): Unit = {
    pendingChecks.foreach { case (rec, check) =>
      val errs = try check() catch { case e: Exception => Seq(s"check threw: ${Main.brief(e)}") }
      if (errs.nonEmpty) { rec.ok = false; rec.error = s"${rec.name}: ${errs.mkString("; ")}" }
    }
    pendingChecks.clear()
  }
}

object Io {
  /** Bytes and files under `dir` modified since `sinceMs`: what an op wrote
    * and kept, whichever writer (SQL, RDD or plain file IO) wrote it. */
  def recordWritten(tracer: Tracer, span: Int, dir: String, sinceMs: Long): Unit = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return
    val s = Files.walk(root)
    try s.filter(p => Files.isRegularFile(p)).forEach { p =>
      val a = Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes])
      if (a.lastModifiedTime.toMillis >= sinceMs) {
        tracer.counters.add(span, "io_files_written", 1)
        tracer.counters.add(span, "io_bytes_written", a.size.toDouble)
      }
    } finally s.close()
  }

  def sizeOf(dir: String): Long = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return 0L
    val s = Files.walk(root)
    try s.filter(p => Files.isRegularFile(p)).mapToLong(p => Files.size(p)).sum()
    finally s.close()
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
}

object Main {
  val SetupReps = 3

  def brief(e: Throwable): String = {
    val m = s"${e.getClass.getSimpleName}: ${e.getMessage}"
    if (m.length > 400) m.take(400) + "..." else m
  }

  def session(cores: Int, dir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.sql.Geo.register(s)
    s
  }

  def workload(name: String, seed: Long): Workload = name match {
    case "join_tile" => new JoinTile(seed)
    case "geoarrow_io" => new GeoarrowIo(seed)
    case "snapshot_table" => new SnapshotTable(seed)
    case "iterative_ops" => new IterativeOps(seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = a.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val wl = workload(arg("workload"), arg("seed").toLong)
    val result = new Runner(wl, arg("seed").toLong, arg("seconds").toDouble,
      arg("trace") == "1", arg("dir"), arg("spans")).run()
    Files.writeString(Paths.get(arg("out")), Json.write(result))
  }
}

/** Set-up repetitions, warm-up cycles, then the closed measuring loop
  * (one operation at a time on one client thread). A traced run measures
  * its first half untraced and its second half traced, so it reports its
  * own overhead. */
final class Runner(wl: Workload, seed: Long, seconds: Double, trace: Boolean,
                   dataDir: String, spansPath: String) {
  private val cores = Runtime.getRuntime.availableProcessors()
  private val ops = mutable.ArrayBuffer[OpRecord]()
  private val notes = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val cycles = mutable.ArrayBuffer[Map[String, Any]]()

  private def runCycle(ctx: Ctx, phase: String): Unit = {
    ctx.phase = phase
    ctx.cycleNo += 1
    val t0 = System.nanoTime()
    val complete = try { ctx.span("cycle")(wl.cycle(ctx)); true }
    catch { case _: CycleAborted => false }
    val wall = System.nanoTime() - t0
    ctx.runChecks()
    wl.afterCycle(ctx)
    cycles += Map("phase" -> phase, "cycle" -> ctx.cycleNo, "wall_ns" -> wall,
      "complete" -> complete)
  }

  private def loop(ctx: Ctx, phase: String, untilNs: Long): Unit = {
    runCycle(ctx, phase)
    while (System.nanoTime() < untilNs) runCycle(ctx, phase)
  }

  def run(): Map[String, Any] = {
    val e0 = System.nanoTime()
    wl.expect()
    val expectS = (System.nanoTime() - e0) / 1e9
    System.err.println(f"perfbench: oracles ready in $expectS%.3f s")

    // each set-up starts a fresh session and generates and writes the
    // seeded inputs again; the last one's session and inputs are measured
    val setup = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    var repDir = ""
    for (rep <- 0 until Main.SetupReps) {
      if (spark != null) spark.stop()
      if (rep > 0) Io.deleteRecursively(Paths.get(repDir))
      repDir = Paths.get(dataDir, s"rep$rep").toAbsolutePath.toString
      val t0 = System.nanoTime()
      spark = Main.session(cores, repDir)
      wl.prepare(spark, repDir)
      setup += (System.nanoTime() - t0) / 1e9
      System.err.println(f"perfbench: set-up ${rep + 1} took ${setup.last}%.3f s")
    }
    val ctx = new Ctx(spark, repDir, cores, ops, notes)
    (0 until wl.warmupCycles).foreach(_ => runCycle(ctx, "warmup"))

    val start = System.nanoTime()
    val end = start + (seconds * 1e9).toLong
    var micro = Map.empty[String, Double]
    var extras = Map.empty[String, Double]
    if (!trace) loop(ctx, "measure", end)
    else {
      loop(ctx, "untraced", start + (seconds * 0.5e9).toLong)
      val tracer = new Tracer(spark.sparkContext)
      val collector = new Collector(tracer.counters)
      spark.sparkContext.addSparkListener(collector)
      spark.listenerManager.register(collector)
      ctx.tracer = tracer
      loop(ctx, "traced", end)
      extras = wl.traceExtras(ctx)
      micro = Micro.run(seed)
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      collector.attributePlans(tracer)
      writeSpans(tracer)
    }
    spark.stop()

    Map(
      "workload" -> wl.name, "seed" -> seed, "trace" -> trace, "cores" -> cores,
      "input_rows" -> wl.inputRows, "expect_s" -> expectS, "setup_s" -> setup,
      "warmup_s" -> cycles.take(wl.warmupCycles).map(_("wall_ns").asInstanceOf[Long]).sum / 1e9,
      "cycles" -> cycles,
      "ops" -> ops.map(o => Map("phase" -> o.phase, "cycle" -> o.cycle,
        "name" -> o.name, "wall_ns" -> o.wallNs, "threw" -> o.threw, "ok" -> o.ok,
        "error" -> o.error)),
      "notes" -> notes, "micro" -> micro, "extras" -> extras,
      "peak_rss_kb" -> peakRssKb())
  }

  /** Spans as JSON lines with each span's own (exclusive) counters. */
  private def writeSpans(tracer: Tracer): Unit = {
    val counters = tracer.counters.snapshot
    val runId = s"${wl.name}-$seed-${System.currentTimeMillis()}"
    val lines = tracer.spans.sortBy(_.id).map { s =>
      Json.write(Map("run" -> runId, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "counters" -> counters.getOrElse(s.id, Map.empty)))
    } :+ Json.write(Map("run" -> runId, "id" -> -1, "parent" -> -1,
      "name" -> "unattributed", "start_ns" -> 0L, "end_ns" -> 0L,
      "counters" -> counters.getOrElse(-1, Map.empty)))
    Files.createDirectories(Paths.get(spansPath).toAbsolutePath.getParent)
    Files.writeString(Paths.get(spansPath), lines.mkString("", "\n", "\n"))
  }

  private def peakRssKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    finally src.close()
  }
}
