package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic distributed k-means (Lloyd's algorithm) with
  * grid-rounded state — the clustering primitive behind IVF coarse
  * quantizers, SemDeDup cell assignment, and data-mixture analysis.
  *
  * Each iteration is the canonical two-job Spark shape:
  *  1. ASSIGN — a pure map: per-row squared-L2 distance to each of the k
  *     driver-held centroids (k·dim doubles — broadcast-trivial), argmin
  *     with ties to the lowest cluster index;
  *  2. UPDATE — one partial-aggregated shuffle: `avg` of every dimension
  *     grouped by cluster (k·dim running sums per map task — the shuffle
  *     carries k rows per partition, never the corpus), k rows collected
  *     to the driver for the next round's literals.
  *
  * Nothing driver-side ever exceeds k·dim; at 100 TB the cost is
  * `iters` corpus scans with map-side combine, which is Lloyd's lower
  * bound. (Contrast [[graft.FitCentroids]], which delegates to MLlib for
  * the one-off IVF bank fit — this operator exists for PIPELINES that
  * need the fit to be reproducible cross-engine, row-for-row.)
  *
  * Determinism: initial centroids are the `k` rows with the smallest ids
  * (no RNG); distances and centroid coordinates are rounded onto fixed
  * decimal grids after every step, so double-summation order differences
  * between partitions (or engines — the DuckDB oracle replays iterations
  * exactly) never flip an argmin or drift a coordinate.
  */
object Clustering {

  /** Driver-side grid rounding, the SAME convention as the kernel and the
    * oracle: decimal HALF_UP via BigDecimal ([[graft.plans.DistBank]],
    * Spark's DoubleType `Round`). The previous `math.round(x·f)/f` was
    * half-toward-+∞, which diverges from HALF_UP on NEGATIVE half-ties —
    * centroid coordinate averages go negative on real embeddings, and one
    * flipped ulp there cascades through every later Lloyd iteration.
    * NaN/Inf pass through, as in the kernel.
    */
  private[graft] def gridHalfUp(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  /** The lambda-HOF distance form the [[graft.plans.SqDistsB]] kernel
    * replaced — kept (not dead code) as the cross-checkable semantic
    * specification: `CodegenSpec` ("SqDistsB: bit-identical to the
    * zip_with/aggregate/round lambda form") asserts the codegen bank is
    * bit-identical to this on real embeddings plus null/ragged edges.
    */
  private[graft] def declarativeSqDists(
      v: Column, cs: Array[Array[Double]], distScale: Int): Column =
    array(cs.map { c =>
      round(
        aggregate(zip_with(v, lit(c), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x),
        distScale)
    }: _*)

  /** Final assignment after `iters` Lloyd rounds: one row per input row —
    * (id, cluster INT, dist DOUBLE on the 10^-distScale grid).
    *
    * Empty clusters keep their previous centroid (standard Lloyd
    * convention; no re-seeding, which would need RNG).
    */
  def lloyd(
      df: DataFrame,
      id: Column,
      vec: Column,
      k: Int,
      iters: Int,
      distScale: Int = 6,
      centroidScale: Int = 6): DataFrame = {
    val (rows, centroids) = train(df, id, vec, k, iters, distScale, centroidScale)
    assignTo(rows, centroids, distScale).select(col("id"), col("cluster"), col("dist"))
  }

  /** The TRAINED centroid matrix after `iters` Lloyd rounds — same
    * seeding, grids, and update rule as [[lloyd]] (which delegates here),
    * exposed for consumers that need the model rather than the
    * assignment: product quantization trains one codebook per subspace
    * ([[PQ.trainCodebooks]]), IVF cell builds, coreset pipelines.
    * Row k·dim-bounded driver-side result.
    */
  def lloydCentroids(
      df: DataFrame,
      id: Column,
      vec: Column,
      k: Int,
      iters: Int,
      distScale: Int = 6,
      centroidScale: Int = 6): Array[Array[Double]] =
    train(df, id, vec, k, iters, distScale, centroidScale)._2

  /** (cluster, dist) of every row against a FIXED centroid matrix — one
    * fused [[graft.plans.SqDistsB]] kernel evaluation per row.
    */
  private def assignTo(rows: DataFrame, cs: Array[Array[Double]], distScale: Int): DataFrame = {
    val dArr = graft.plans.DistBank.distsColumn(col("v"), cs, distScale)
    rows.select(col("id"), col("v"),
      (array_position(dArr, array_min(dArr)) - 1).cast("int").as("cluster"),
      array_min(dArr).as("dist"))
  }

  private def train(
      df: DataFrame,
      id: Column,
      vec: Column,
      k: Int,
      iters: Int,
      distScale: Int,
      centroidScale: Int): (DataFrame, Array[Array[Double]]) = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 1, s"iters must be >= 1, got $iters")

    val rows = df.select(id.cast("long").as("id"), vec.cast("array<double>").as("v"))
    val dim = {
      val d = rows.select(size(col("v"))).head().getInt(0)
      require(d >= 1, "lloyd: empty vectors")
      d
    }

    def grid(x: Double, scale: Int): Double = gridHalfUp(x, scale)

    // Seed: the k smallest-id rows, coordinates on the centroid grid.
    var centroids: Array[Array[Double]] = rows.orderBy(col("id")).limit(k).collect()
      .map(_.getSeq[Double](1).toArray.map(grid(_, centroidScale)))
    require(centroids.length == k, s"lloyd: need >= $k rows, got ${centroids.length}")

    // ASSIGN rides ONE fused codegen kernel against a broadcast k·dim
    // bank ([[graft.plans.SqDistsB]]) — bit-identical to the per-centroid
    // zip_with/aggregate lambda form ([[declarativeSqDists]],
    // parity-spec'd) but a primitive loop inside whole-stage codegen
    // instead of k·dim interpreted HOF dispatches per row, which at
    // production dims × corpus scale made ASSIGN the bottleneck.
    for (_ <- 1 to iters) {
      val assigned = assignTo(rows, centroids, distScale)
      // ONE aggregate: per-cluster mean of every dimension (map-side
      // combine; k rows out), collected for the next round.
      val dimAvgs = (0 until dim).map(p => avg(element_at(col("v"), p + 1)).as(s"p$p"))
      val updated = assigned.groupBy(col("cluster")).agg(dimAvgs.head, dimAvgs.tail: _*)
        .collect().map { r =>
          r.getInt(0) -> (0 until dim).map(p => grid(r.getDouble(p + 1), centroidScale)).toArray
        }.toMap
      centroids = Array.tabulate(k)(c => updated.getOrElse(c, centroids(c)))
    }
    (rows, centroids)
  }

  /** Greedy k-center coreset selection (farthest-point traversal): start
    * from the smallest id, then repeatedly select the point FARTHEST from
    * every already-selected center (squared L2, ties to the lowest id) —
    * the classic 2-approximation to the k-center cover, and the standard
    * diversity-coreset heuristic for training-data selection ("cover the
    * embedding space, don't re-sample the densest blob").
    *
    * Scale shape: each of the k−1 rounds is a pure map over the corpus —
    * `least(dist-so-far, dist-to-newest-center)` with the newest center a
    * k·dim-bounded literal — plus one `TakeOrdered(1)` argmax
    * (O(partitions) driver work, never a global sort). The running
    * min-distance column is re-materialized per round
    * ([[graft.Materialize]]), so round r does ONE distance evaluation,
    * not r of them. Distances live on the 10^-distScale grid, which
    * makes the argmax (and thus the whole selection) deterministic
    * cross-engine.
    *
    * @return the selected coreset: (sel_rank INT from 0, id, dist DOUBLE
    *         — the point's min distance to the PRIOR centers at
    *         selection time; 0.0 for the seed)
    */
  def kCenter(
      df: DataFrame,
      id: Column,
      vec: Column,
      k: Int,
      distScale: Int = 6): DataFrame = graft.Materialize.scope {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = df.sparkSession
    import spark.implicits._

    val rows = df.select(id.cast("long").as("id"), vec.cast("array<double>").as("v"))
    // 1-centroid bank through the same codegen kernel as lloyd's ASSIGN —
    // one primitive loop per row instead of a per-element interpreted
    // lambda (parity with the zip_with form is spec'd bit-exact).
    def distTo(center: Array[Double]): Column =
      element_at(graft.plans.DistBank.distsColumn(col("v"), Array(center), distScale), 1)

    val seedRow = rows.orderBy(col("id")).limit(1).collect()
    require(seedRow.nonEmpty, "kCenter: empty input")
    var selected = Vector((seedRow(0).getLong(0), 0.0))
    var center = seedRow(0).getSeq[Double](1).toArray

    var state = graft.Materialize(
      rows.select(col("id"), col("v"), distTo(center).as("d")))
    for (_ <- 1 until k) {
      val next = state.orderBy(col("d").desc, col("id").asc).limit(1)
        .select(col("id"), col("v"), col("d")).collect()(0)
      selected = selected :+ (next.getLong(0) -> next.getDouble(2))
      center = next.getSeq[Double](1).toArray
      val prev = state
      state = graft.Materialize(
        prev.select(col("id"), col("v"), least(col("d"), distTo(center)).as("d")))
      graft.Materialize.release(prev)
    }
    selected.zipWithIndex
      .map { case ((i, d), r) => (r, i, d) }
      .toDF("sel_rank", "id", "dist")
  }
}
