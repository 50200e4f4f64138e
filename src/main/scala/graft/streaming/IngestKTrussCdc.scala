package graft.streaming

import graft.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-batch streaming maintenance of FIXED-k TRUSS membership (+ the
  * fixpoint support readout, q198's shape) under edge INSERTS AND
  * DELETES — a `foreachBatch` body over rows (`u`, `v`, `op`).
  *
  * The truss is the k-core idea one level up: membership lives on
  * EDGES, adjacency is TRIANGLE-sharing, and support(e) counts
  * triangles whose other two edges are also members. The same
  * monotonicity split applies:
  *
  *  - '''Demotion''' (deletes): the new truss of E∖del is contained in
  *    the old one, and an edge's in-truss support only changes when a
  *    member triangle loses an edge — so the cascade starts at the
  *    other two edges of every pre-truss triangle through a deleted
  *    member edge, re-evaluates support within the shrinking live set
  *    (one bounded wedge probe per round), and removes below k−2 to
  *    the fixpoint.
  *  - '''Promotion''' (inserts): any newly-feasible edge set decomposes
  *    into TRIANGLE-CONNECTED components each containing a triangle
  *    through an inserted edge (else it was feasible before —
  *    maximality of the intermediate truss), and every member has full
  *    post-graph support ≥ k−2. Candidates expand along triangles from
  *    the inserted edges; the exact promoted set is the peel of that
  *    region with FROZEN TRUSS CREDIT — each candidate triangle's other
  *    two edges are checked against the (static) intermediate truss
  *    once, and against the shrinking live set per round.
  *
  * After membership settles, supports recompute ABSOLUTELY for the
  * touched edges only (promoted edges, triangle-partners of promoted
  * edges, and surviving triangle-partners of removed ones) — one
  * bounded probe over the final truss. Everything is a pure function
  * of the live edge set ⇒ idempotent ⇒ no replay guard (the
  * [[IngestComponentsCdc]] crash analysis, view before store).
  *
  * Bootstrap: edge table (u, v, bkt = pmod(hash(u), buckets)) canonical
  * u < v; truss view (lo, hi, support, bkt = pmod(hash(lo), buckets)) —
  * empty or consistent. Same-edge insert+delete in one batch is
  * refused loudly.
  */
final class IngestKTrussCdc(
    edgeTable: String,
    trussTable: String,
    k: Int,
    buckets: Int,
    maxRounds: Int = 100
) extends ((DataFrame, Long) => Unit) with Serializable {
  require(k >= 3, s"k must be >= 3 (k-2 >= 1 triangle per edge), got $k")
  private val minSup = (k - 2).toLong

  import IngestKTrussCdc._

  override def apply(batch: DataFrame, batchId: Long): Unit = Materialize.scope {
    val spark = batch.sparkSession
    require(spark.catalog.tableExists(edgeTable) && spark.catalog.tableExists(trussTable),
      s"IngestKTrussCdc: '$edgeTable' and '$trussTable' must be initialized first")
    val (ins0, del0) = IngestComponentsCdc.parseCdcBatch("IngestKTrussCdc", batch)
    val ins = Materialize.persist(ins0.select(col("u"), col("v")))
    val del = Materialize.persist(del0)
    spark.sql(s"REFRESH TABLE $edgeTable")
    val old = spark.table(edgeTable).select(col("u"), col("v"))
    val newEdges = Materialize.persist(ins.join(old, Seq("u", "v"), "left_anti"))
    val delEdges = Materialize.persist(del.join(old, Seq("u", "v"), "left_semi"))
    if (newEdges.isEmpty && delEdges.isEmpty) return

    val post = old.join(delEdges, Seq("u", "v"), "left_anti").unionByName(newEdges)
    spark.sql(s"REFRESH TABLE $trussTable")
    val prev = spark.table(trussTable)
    val preTruss = prev.select(col("lo").as("u"), col("hi").as("v"))

    // ---- demotion on E ∖ del ----
    val deletedTruss = Materialize(
      preTruss.join(broadcast(delEdges), Seq("u", "v"), "left_semi"))
    var removedAll = deletedTruss
    if (Materialize.rows(deletedTruss) > 0) {
      var frontier = Materialize(partners(triRows(deletedTruss, preTruss))
        .join(broadcast(removedAll), Seq("u", "v"), "left_anti"))
      while (Materialize.rows(frontier) > 0) {
        val live = preTruss.join(broadcast(removedAll), Seq("u", "v"), "left_anti")
        val sup = triRows(frontier, live)
          .groupBy(col("ku").as("u"), col("kv").as("v")).agg(count(lit(1)).as("s"))
        val drop = Materialize(frontier.join(sup, Seq("u", "v"), "left")
          .where(coalesce(col("s"), lit(0L)) < minSup)
          .select(col("u"), col("v")))
        val (prevFrontier, prevRemoved) = (frontier, removedAll)
        if (Materialize.rows(drop) == 0) frontier = Materialize(drop)
        else {
          val loseFrom = Materialize(partners(triRows(drop, live)))
          removedAll = Materialize(removedAll.unionByName(drop))
          frontier = Materialize(loseFrom.join(broadcast(removedAll), Seq("u", "v"), "left_anti"))
          Materialize.release(loseFrom)
          Materialize.release(prevRemoved)
        }
        Materialize.release(prevFrontier)
        Materialize.release(drop)
      }
    }
    val truss1 = preTruss.join(broadcast(removedAll), Seq("u", "v"), "left_anti")

    // ---- promotion on (E ∖ del) ∪ ins against the shrunk truss ----
    def fullSupOk(cands: DataFrame): DataFrame =
      if (Materialize.rows(cands) == 0) cands
      else triRows(cands, post)
        .groupBy(col("ku").as("u"), col("kv").as("v")).agg(count(lit(1)).as("s"))
        .where(col("s") >= minSup).select(col("u"), col("v"))
    def nonTruss1(pairs0: DataFrame): DataFrame =
      pairs0.join(broadcast(
        truss1.join(broadcast(pairs0), Seq("u", "v"), "left_semi")),
        Seq("u", "v"), "left_anti")
    // every step is materialized: stacking wedge join → partner
    // derivation → membership anti-join → wedge join again in ONE
    // pipeline livelocks local[32] (32 concurrent tasks × one 64 MB
    // hash page per stacked aggregate exhausts executor memory and the
    // allocator retries forever) — and each checkpoint also stops the
    // broadcast subtrees from re-evaluating the previous wedge join
    val seedPartners = Materialize(partners(triRows(newEdges, post)))
    val seedCand = Materialize(newEdges.unionByName(nonTruss1(seedPartners)).distinct())
    var x = Materialize(fullSupOk(seedCand))
    var frontier2 = x
    var round = 0
    while (Materialize.rows(frontier2) > 0) {
      round += 1
      if (round > maxRounds) throw new IllegalStateException(
        s"IngestKTrussCdc: candidate expansion exceeded $maxRounds rounds; " +
          s"raise maxRounds or recompute from scratch")
      val p = Materialize(partners(triRows(frontier2, post)))
      val cand = Materialize(nonTruss1(p).join(broadcast(x), Seq("u", "v"), "left_anti"))
      val (prevFrontier, prevX) = (frontier2, x)
      frontier2 = Materialize(fullSupOk(cand))
      x = Materialize(x.unionByName(frontier2))
      Seq(p, cand, prevFrontier, prevX).foreach(Materialize.release)
    }
    val promoted: DataFrame =
      if (Materialize.rows(x) == 0) x
      else {
        // candidate triangles ONCE, partner-membership vs the STATIC
        // intermediate truss precomputed as flags; only the live-set
        // membership re-joins per round
        val triX0 = Materialize(triRows(x, post)
          .select(col("ku"), col("kv"),
            least(col("e"), col("w")).as("au"), greatest(col("e"), col("w")).as("av"),
            least(col("o"), col("w")).as("bu"), greatest(col("o"), col("w")).as("bv")))
        val inT1 = (cu: String, cv: String, flag: String) => (df: DataFrame) => {
          val pairs0 = df.select(col(cu).as("u"), col(cv).as("v")).distinct()
          val hit = truss1.join(broadcast(pairs0), Seq("u", "v"), "left_semi")
            .select(col("u").as(cu), col("v").as(cv)).withColumn(flag, lit(true))
          df.join(broadcast(hit), Seq(cu, cv), "left")
            .withColumn(flag, coalesce(col(flag), lit(false)))
        }
        val triX = Materialize(inT1("au", "av", "t1")(inT1("bu", "bv", "t2")(triX0)))
        var live = x
        var liveCount = Materialize.rows(live)
        var stable = false
        while (!stable) {
          val m1 = broadcast(live.select(col("u").as("au"), col("v").as("av"))
            .withColumn("m1", lit(true)))
          val m2 = broadcast(live.select(col("u").as("bu"), col("v").as("bv"))
            .withColumn("m2", lit(true)))
          val sup = triX.join(m1, Seq("au", "av"), "left").join(m2, Seq("bu", "bv"), "left")
            .where((col("t1") || coalesce(col("m1"), lit(false))) &&
              (col("t2") || coalesce(col("m2"), lit(false))))
            .groupBy(col("ku").as("u"), col("kv").as("v")).agg(count(lit(1)).as("s"))
          val next = Materialize(live.join(sup.where(col("s") >= minSup),
            Seq("u", "v"), "left_semi"))
          val nextCount = Materialize.rows(next)
          stable = nextCount == liveCount
          liveCount = nextCount
          Materialize.release(live)
          live = next
        }
        live
      }

    // ---- touched-support recompute over the FINAL truss ----
    val finalTruss = truss1.unionByName(promoted)
    val gainedPartners =
      if (Materialize.rows(promoted) == 0) promoted
      else Materialize(partners(triRows(promoted, finalTruss)))
    val lostPartners =
      if (Materialize.rows(removedAll) == 0) removedAll
      else Materialize(partners(triRows(removedAll, preTruss))
        .join(broadcast(removedAll), Seq("u", "v"), "left_anti"))
    val touched = Materialize(promoted.unionByName(gainedPartners)
      .unionByName(lostPartners).distinct())
    if (Materialize.rows(touched) > 0 || Materialize.rows(removedAll) > 0) {
      val supports = Materialize(triRows(touched, finalTruss)
        .groupBy(col("ku").as("lo"), col("kv").as("hi")).agg(count(lit(1)).as("support")))
      val dropIds = Materialize(removedAll.unionByName(touched).distinct()
        .select(col("u").as("lo"), col("v").as("hi")))
      IvmMaintenance.rebuildTouchedBuckets(
        spark, trussTable, prev, supports, dropIds,
        Seq("lo", "hi"), "lo", buckets)
    }

    IvmMaintenance.rebuildTouchedBuckets(
      spark, edgeTable, spark.table(edgeTable), newEdges, delEdges,
      Seq("u", "v"), "u", buckets,
      touchedFromChanges =
        Some(newEdges.select(col("u")).unionByName(delEdges.select(col("u")))))
  }
}

object IngestKTrussCdc {
  /** Per-(probe-edge, triangle) rows over `graph`: (`ku`,`kv`) the
    * probe edge canonical, (`e`,`o`,`w`) the degree-oriented wedge —
    * triangle {e,o,w} with {e,o} the probe edge, both other edges in
    * `graph`. One row per (probe edge, common neighbor) — NOT
    * triple-deduplicated: the per-edge support semantics counts a
    * triangle once per probe edge it contains, which is exactly this
    * shape. Requires probe ⊆ graph.
    */
  private[streaming] def triRows(probe: DataFrame, graph: DataFrame): DataFrame =
    IngestTriangles.orientedWedges(probe, graph)
      .withColumn("cu", least(col("o"), col("w")))
      .withColumn("cv", greatest(col("o"), col("w")))
      .join(graph.select(col("u").as("cu"), col("v").as("cv")), Seq("cu", "cv"), "left_semi")
      .select(least(col("e"), col("o")).as("ku"), greatest(col("e"), col("o")).as("kv"),
        col("e"), col("o"), col("w"))

  /** The OTHER two edges of each triangle row, canonical + distinct. */
  private[streaming] def partners(tri: DataFrame): DataFrame =
    tri.select(least(col("e"), col("w")).as("u"), greatest(col("e"), col("w")).as("v"))
      .unionByName(tri.select(least(col("o"), col("w")).as("u"),
        greatest(col("o"), col("w")).as("v")))
      .distinct()
}
