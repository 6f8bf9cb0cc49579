package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.Measure
import graft.operators.{Cluster, Graph, Knn}

/** The fixpoint loops: adaptive kNN over points with one dense cluster,
  * DBSCAN over seeded blobs (through `Dedup.dupClusters`), and k-core
  * plus PageRank over a skewed edge list. Each operation is many small
  * rounds, each with its own checkpoint and action. */
final class IterativeOps(seed: Long) extends Workload {
  import IterativeOps._
  val name = "iterative_ops"
  val inputRows: Long = KnnPoints + DbscanPoints + Edges

  private var knnExpected: Seq[(Long, Long, Long)] = Nil
  private var dbscanExpected: Seq[(Long, String, Long)] = Nil
  private var kcoreExpected: Seq[Long] = Nil
  private var pagerankExpected: Seq[(Long, Long)] = Nil
  private var dir: String = _

  def expect(): Unit = {
    knnExpected = expectKnn()
    dbscanExpected = expectDbscan()
    val edges = (0L until Edges).map(edge(seed, _))
    kcoreExpected = expectKcore(edges)
    pagerankExpected = expectPagerank(edges)
  }

  /** Brute-force haversine top-k, ties broken by point id. */
  private def expectKnn(): Seq[(Long, Long, Long)] = {
    val pts = Array.tabulate(KnnPoints.toInt)(i => knnPoint(seed, i))
    (0 until Queries).flatMap { q =>
      val (qlon, qlat) = query(seed, q)
      // the k best (distance, id) so far, in ascending order
      val dist = Array.fill(K)(Double.PositiveInfinity)
      val ids = Array.fill(K)(Long.MaxValue)
      var i = 0
      while (i < pts.length) {
        val d = Measure.haversineMeters(pts(i)._1, pts(i)._2, qlon, qlat)
        var p = K
        while (p > 0 && (d < dist(p - 1) || (d == dist(p - 1) && i < ids(p - 1)))) p -= 1
        if (p < K) {
          System.arraycopy(dist, p, dist, p + 1, K - p - 1)
          System.arraycopy(ids, p, ids, p + 1, K - p - 1)
          dist(p) = d; ids(p) = i
        }
        i += 1
      }
      ids.toSeq.zipWithIndex.map { case (pid, rank) => (q.toLong, rank + 1L, pid) }
    }
  }

  /** DBSCAN by grid neighbour search and union-find: cores have at least
    * `MinPts` points (themselves included) within `Eps`; a cluster is
    * labelled by its smallest core id; a border point takes the smallest
    * label among its core neighbours; the rest is noise (label -1). */
  private def expectDbscan(): Seq[(Long, String, Long)] = {
    val n = DbscanPoints.toInt
    val xy = (0 until n).map(i => dbscanPoint(seed, i))
    val grid = mutable.HashMap[(Long, Long), mutable.ArrayBuffer[Int]]()
    def cell(i: Int) = (math.floor(xy(i)._1 / Eps).toLong, math.floor(xy(i)._2 / Eps).toLong)
    (0 until n).foreach(i => grid.getOrElseUpdate(cell(i), mutable.ArrayBuffer()) += i)
    val nbrs = Array.tabulate(n) { i =>
      val (cx, cy) = cell(i)
      val (x, y) = xy(i)
      (for (dx <- -1L to 1L; dy <- -1L to 1L;
            j <- grid.getOrElse((cx + dx, cy + dy), Nil)
            if j != i && {
              val (u, v) = xy(j)
              (x - u) * (x - u) + (y - v) * (y - v) <= Eps * Eps
            }) yield j).toArray
    }
    val core = Array.tabulate(n)(i => nbrs(i).length + 1 >= MinPts)
    val parent = Array.tabulate(n)(identity)
    def find(i: Int): Int = { var r = i; while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }; r }
    for (i <- 0 until n if core(i); j <- nbrs(i) if core(j)) {
      val (a, b) = (find(i), find(j))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    // union by smaller root keeps each root the minimum id of its component
    (0 until n).map { i =>
      if (core(i)) (i.toLong, "core", find(i).toLong)
      else nbrs(i).filter(core).map(j => find(j)) match {
        case c if c.nonEmpty => (i.toLong, "border", c.min.toLong)
        case _ => (i.toLong, "noise", -1L)
      }
    }
  }

  /** k-core by sequential peeling of the undirected simple graph. */
  private def expectKcore(edges: Seq[(Long, Long)]): Seq[Long] = {
    val und = edges.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val adj = mutable.HashMap[Long, mutable.Set[Long]]()
    und.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, mutable.Set()) += b
      adj.getOrElseUpdate(b, mutable.Set()) += a
    }
    val queue = mutable.Queue(adj.collect { case (v, ns) if ns.size < KcoreK => v }.toSeq: _*)
    while (queue.nonEmpty) {
      val v = queue.dequeue()
      adj.remove(v).foreach(_.foreach { u =>
        adj.get(u).foreach { ns =>
          ns -= v
          if (ns.size == KcoreK - 1) queue.enqueue(u)
        }
      })
    }
    adj.keys.toSeq
  }

  /** The engine's fixed-point PageRank replayed on the driver:
    * r0 = scale; share(u) = ((r(u) * 17) div 20) div outdeg(u);
    * r(v) = scale * 3 / 20 + the shares of its in-links. */
  private def expectPagerank(edges: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val e = edges.distinct
    val nodes = e.flatMap { case (a, b) => Seq(a, b) }.distinct
    val outdeg = e.groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
    val base = Scale * 3L / 20L
    var r = nodes.map(_ -> Scale).toMap
    (1 to PagerankIters).foreach { _ =>
      val in = mutable.HashMap[Long, Long]()
      e.foreach { case (a, b) => in(b) = in.getOrElse(b, 0L) + (r(a) * 17L / 20L) / outdeg(a) }
      r = nodes.map(v => v -> (base + in.getOrElse(v, 0L))).toMap
    }
    r.toSeq
  }

  def prepare(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    this.dir = dir
    val s = seed
    spark.range(0, KnnPoints, 1, 4).as[Long].map { i =>
      val (lon, lat) = knnPoint(s, i); (i, lon, lat)
    }.toDF("pid", "lon", "lat").write.parquet(s"$dir/knn_points")
    (0 until Queries).map { q => val (lon, lat) = query(s, q); (q.toLong, lon, lat) }
      .toDF("qid", "qlon", "qlat").write.parquet(s"$dir/knn_queries")
    spark.range(0, DbscanPoints, 1, 4).as[Long].map { i =>
      val (lon, lat) = dbscanPoint(s, i.toInt); (i, lon, lat)
    }.toDF("id", "lon", "lat").write.parquet(s"$dir/dbscan_points")
    spark.range(0, Edges, 1, 4).as[Long].map(j => edge(s, j))
      .toDF("src", "dst").write.parquet(s"$dir/edges")
  }

  def cycle(ctx: Ctx): Unit = {
    val spark = ctx.spark
    ctx.op("operators.knn") {
      var rounds = 0
      var retired = 0L
      val out = Knn.knnMetersJoinAdaptive(spark.read.parquet(s"$dir/knn_points"),
          spark.read.parquet(s"$dir/knn_queries"), K, tieCols = Seq("pid"),
          onRound = (_, _, n) => { rounds += 1; retired += n })
        .select(col("qid"), col("rank").cast("long"), col("pid")).collect()
      ctx.note("operators.knn.rounds", rounds)
      ctx.note("operators.knn.retired", retired.toDouble)
      out
    } { out =>
      Check.multiset("kNN (qid, rank, pid)", knnExpected,
        out.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))))
    }
    ctx.op("operators.dbscan") {
      Cluster.dbscan(spark.read.parquet(s"$dir/dbscan_points"), "id", "lon", "lat",
        Eps, MinPts).collect()
    } { out =>
      Check.multiset("DBSCAN (id, role, cluster)", dbscanExpected,
        out.toSeq.map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))))
    }
    val edges = spark.read.parquet(s"$dir/edges")
    ctx.op("operators.kcore") {
      Graph.kCore(edges, "src", "dst", KcoreK).collect()
    } { out => Check.multiset("k-core nodes", kcoreExpected, out.toSeq.map(_.getLong(0))) }
    ctx.op("operators.pagerank") {
      Graph.pageRank(edges, "src", "dst", PagerankIters, Scale).collect()
    } { out =>
      Check.multiset("PageRank (node, rank)", pagerankExpected,
        out.toSeq.map(r => (r.getLong(0), r.getLong(1))))
    }
  }
}

object IterativeOps {
  val KnnPoints = 10000L
  val Queries = 25
  val K = 5
  /** Share of kNN points in the dense cluster (the cluster density). */
  val ClusterShare = 0.3
  val Blobs = 4
  val BlobPoints = 300
  /** Blob spread: with `Eps` it sets the cluster density, hence the number
    * of neighbour pairs and of label-propagation rounds. */
  val BlobSigma = 0.01
  val DbscanPoints: Long = Blobs * BlobPoints + 600L
  val Eps = 0.03
  val MinPts = 5
  val Nodes = 1000
  val Edges = 4000L
  val KcoreK = 3
  val PagerankIters = 5
  val Scale = 1000000000L

  private def clusterCentre(seed: Long): (Double, Double) = {
    val r = Gen.rng(seed, 11, 0); (r.between(-150.0, 150.0), r.between(-50.0, 50.0))
  }

  def knnPoint(seed: Long, i: Long): (Double, Double) = {
    val r = Gen.rng(seed, 10, i)
    if (r.double() < ClusterShare) {
      val (cx, cy) = clusterCentre(seed)
      (cx + 0.2 * r.gaussian(), cy + 0.2 * r.gaussian())
    } else (r.between(-180.0, 180.0), r.between(-70.0, 70.0))
  }

  /** The first ten queries sit in the dense cluster, the rest anywhere. */
  def query(seed: Long, q: Int): (Double, Double) = {
    val r = Gen.rng(seed, 12, q)
    if (q < 10) {
      val (cx, cy) = clusterCentre(seed)
      (cx + r.between(-0.3, 0.3), cy + r.between(-0.3, 0.3))
    } else (r.between(-180.0, 180.0), r.between(-70.0, 70.0))
  }

  /** Gaussian blobs (sigma `BlobSigma` degrees) plus uniform noise, all inside one
    * seeded 10-degree square. */
  def dbscanPoint(seed: Long, i: Int): (Double, Double) = {
    val o = Gen.rng(seed, 14, 0)
    val (x0, y0) = (o.between(-150.0, 140.0), o.between(-60.0, 50.0))
    val r = Gen.rng(seed, 16, i)
    if (i < Blobs * BlobPoints) {
      val b = Gen.rng(seed, 13, i / BlobPoints)
      (x0 + b.between(1.0, 9.0) + BlobSigma * r.gaussian(),
        y0 + b.between(1.0, 9.0) + BlobSigma * r.gaussian())
    } else (x0 + r.between(0.0, 10.0), y0 + r.between(0.0, 10.0))
  }

  /** Edge `j`: uniform source; the target skews to low node ids (hubs). */
  def edge(seed: Long, j: Long): (Long, Long) = {
    val r = Gen.rng(seed, 15, j)
    (r.int(Nodes).toLong, (Nodes * math.pow(r.double(), 2.5)).toLong)
  }
}
