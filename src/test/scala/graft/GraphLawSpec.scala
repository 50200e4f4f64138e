package graft

import scala.util.Random

import graft.graphs.Graphs
import org.apache.spark.sql.DataFrame

/** Randomized brute-force laws for the iterative graph operators, on small
  * graphs with the awkward cases mixed in: self-loops, duplicate edges with
  * different weights, disconnected parts, isolated and dangling nodes, a
  * skewed star, empty seed sets, and negative weights for shortest paths.
  *
  *  - [[Graphs.shortestPaths]] equals a driver Bellman–Ford limited to at
  *    most `h` hops.
  *  - [[Graphs.pageRank]], [[Graphs.weightedPageRank]] and
  *    [[Graphs.personalizedPageRank]] equal a driver power iteration on the
  *    same 10^-scale grid, with `convergeEarly` on and off, and their total
  *    rank mass is 1 within the grid.
  */
class GraphLawSpec extends SparkSpec {
  import spark.implicits._

  private type Edge = (Long, Long, Long)

  /** A named graph on nodes `0 until n`. */
  private case class G(name: String, n: Int, edges: Seq[Edge])

  private def randomGraph(rng: Random, name: String, n: Int, m: Int, wLo: Int, wHi: Int): G = {
    val base = Seq.fill(m)((rng.nextInt(n).toLong, rng.nextInt(n).toLong,
      (wLo + rng.nextInt(wHi - wLo + 1)).toLong))
    // duplicates of some edges with a different weight, and self-loops
    val dups = base.take(m / 4).map { case (a, b, w) => (a, b, w + 1 + rng.nextInt(3)) }
    val loops = Seq.fill(2)(rng.nextInt(n).toLong).map(v => (v, v, wLo.toLong))
    G(name, n, rng.shuffle(base ++ dups ++ loops))
  }

  /** The graphs every law runs on; `wLo` may be negative (shortest paths). */
  private def graphs(seed: Long, wLo: Int): Seq[G] = {
    val rng = new Random(seed)
    val parts = {
      // two components, 3 isolated nodes at the top of the range
      val a = randomGraph(rng, "", 8, 14, wLo, 9).edges
      val b = randomGraph(rng, "", 7, 10, wLo, 9).edges.map { case (x, y, w) => (x + 8, y + 8, w) }
      G("disconnected", 18, a ++ b)
    }
    // hub 0 points at every node and every node points back, plus a tail
    val star = G("skewed star", 20,
      (1L until 16L).flatMap(v => Seq((0L, v, 1L + v % 3), (v, 0L, 2L))) ++
        Seq((16L, 17L, 4L), (17L, 18L, wLo.toLong), (18L, 19L, 1L), (0L, 0L, 1L)))
    Seq(
      randomGraph(rng, "random sparse", 12, 16, wLo, 9),
      randomGraph(rng, "random dense", 25, 90, wLo, 9),
      parts,
      star,
      G("no edges", 5, Nil))
  }

  private def edgeDf(g: G): DataFrame = g.edges.toDF("src", "dst", "w")
  private def nodeDf(g: G): DataFrame = (0L until g.n.toLong).toDF("node")

  // ---- shortest paths --------------------------------------------------

  /** Synchronous Bellman–Ford over at most `h` hops; self-loops dropped,
    * parallel edges at their cheapest weight.
    */
  private def bellmanFord(g: G, seeds: Set[Long], h: Int): Map[Long, Long] = {
    val cheapest = g.edges.filter(e => e._1 != e._2).groupBy(e => (e._1, e._2))
      .map { case (k, es) => k -> es.map(_._3).min }
    var dist = seeds.map(_ -> 0L).toMap
    for (_ <- 1 to h) {
      val next = scala.collection.mutable.Map(dist.toSeq: _*)
      for (((s, d), w) <- cheapest; ds <- dist.get(s))
        if (next.get(d).forall(ds + w < _)) next(d) = ds + w
      dist = next.toMap
    }
    dist
  }

  test("shortestPaths equals a driver Bellman–Ford limited to h hops, negative weights included") {
    val rng = new Random(7)
    for (g <- graphs(11, wLo = -4); seeds <- Seq(Set.empty[Long], Set(0L), Set(1L, 3L, 99L))) {
      val h = rng.nextInt(6)
      val got = Graphs.shortestPaths(edgeDf(g), $"src", $"dst", $"w",
          seeds.toSeq.toDF("s"), $"s", maxHops = h)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == bellmanFord(g, seeds, h), s"${g.name}, seeds $seeds, $h hops")
    }
  }

  // ---- PageRank family -------------------------------------------------

  /** Spark's `round` on a double: HALF_UP on its decimal representation. */
  private def grid(x: Double, scale: Int): Double =
    BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The synchronous power iteration the operators run, on the grid.
    * `share(u)` lists u's out-edges with the fraction of u's rank each
    * carries; `teleport` is t(v), or None for the uniform variant.
    */
  private def powerIteration(
      n: Int,
      share: Map[Long, Seq[(Long, Fr)]],
      teleport: Option[Map[Long, Double]],
      iters: Int,
      scale: Int,
      d: Double = 0.85): Map[Long, Double] = {
    val nodes = 0L until n.toLong
    val nn = n.toDouble
    var rank = nodes.map(v => v -> grid(teleport.fold(1.0 / nn)(_(v)), scale)).toMap
    for (_ <- 1 to iters) {
      val dangling = nodes.filterNot(share.contains).map(rank).sum
      val inflow = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
      for ((u, out) <- share; (v, fr) <- out) inflow(v) += fr(rank(u))
      rank = nodes.map { v =>
        v -> grid(teleport match {
          case None => (1.0 - d) / nn + d * (inflow(v) + dangling / nn)
          case Some(t) => (1.0 - d) * t(v) + d * (inflow(v) + t(v) * dangling)
        }, scale)
      }.toMap
    }
    rank
  }

  /** `fr(rank)`: an edge's share, computed as the operator computes it. */
  private type Fr = Double => Double

  private def uniformShares(g: G): Map[Long, Seq[(Long, Fr)]] = {
    val simple = g.edges.filter(e => e._1 != e._2).map(e => (e._1, e._2)).distinct
    simple.groupBy(_._1).map { case (u, es) =>
      val deg = es.size.toLong
      u -> es.map { case (_, v) => v -> ((r: Double) => r / deg) }
    }
  }

  private def weightedShares(g: G): Map[Long, Seq[(Long, Fr)]] = {
    val w = g.edges.filter(e => e._1 != e._2 && e._3 > 0).groupBy(e => (e._1, e._2))
      .map { case (k, es) => k -> es.map(_._3.toDouble).sum }
    w.toSeq.groupBy(_._1._1).map { case (u, es) =>
      val outw = es.map(_._2).sum
      u -> es.map { case ((_, v), wt) => val fr = wt / outw; v -> ((r: Double) => r * fr) }
    }
  }

  private def assertLaw(label: String, got: Map[Long, Double], want: Map[Long, Double],
      n: Int, scale: Int): Unit = {
    assert(got == want, s"$label: " + want.keys.toSeq.sorted
      .filter(v => !got.get(v).contains(want(v)))
      .map(v => s"node $v got ${got.get(v)} want ${want(v)}").take(5).mkString("; "))
    val mass = got.values.sum
    assert(math.abs(mass - 1.0) <= n * math.pow(10, -scale), s"$label: total rank $mass")
  }

  private def collectRanks(df: DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("pageRank and weightedPageRank equal a driver power iteration on the grid, " +
      "convergeEarly on and off; total mass is 1 within the grid") {
    val rng = new Random(5)
    for (g <- graphs(13, wLo = -1)) {
      val iters = 1 + rng.nextInt(6)
      val scale = if (rng.nextBoolean()) 4 else 7
      val plain = powerIteration(g.n, uniformShares(g), None, iters, scale)
      val weighted = powerIteration(g.n, weightedShares(g), None, iters, scale)
      for (early <- Seq(false, true)) {
        assertLaw(s"pageRank ${g.name} iters=$iters scale=$scale early=$early",
          collectRanks(Graphs.pageRank(nodeDf(g), $"node", edgeDf(g), $"src", $"dst",
            iters = iters, scale = scale, convergeEarly = early)), plain, g.n, scale)
        assertLaw(s"weightedPageRank ${g.name} iters=$iters scale=$scale early=$early",
          collectRanks(Graphs.weightedPageRank(nodeDf(g), $"node", edgeDf(g), $"src", $"dst",
            $"w", iters = iters, scale = scale, convergeEarly = early)), weighted, g.n, scale)
      }
    }
  }

  test("personalizedPageRank equals a driver power iteration on the grid, " +
      "convergeEarly on and off; total mass is 1 within the grid") {
    val rng = new Random(9)
    for (g <- graphs(17, wLo = 1)) {
      val iters = 1 + rng.nextInt(6)
      val scale = if (rng.nextBoolean()) 4 else 7
      // duplicate seeds and a seed outside the node set carry no extra mass
      val seeds = Seq(0L, 0L, (g.n - 1).toLong, 1000L)
      val present = seeds.filter(_ < g.n).distinct
      val t = (0L until g.n.toLong).map(v =>
        v -> (if (present.contains(v)) 1.0 / present.size else 0.0)).toMap
      val want = powerIteration(g.n, uniformShares(g), Some(t), iters, scale)
      for (early <- Seq(false, true))
        assertLaw(s"personalizedPageRank ${g.name} iters=$iters scale=$scale early=$early",
          collectRanks(Graphs.personalizedPageRank(nodeDf(g), $"node", edgeDf(g), $"src", $"dst",
            seeds.toDF("s"), $"s", iters = iters, scale = scale, convergeEarly = early)),
          want, g.n, scale)
    }
  }
}
