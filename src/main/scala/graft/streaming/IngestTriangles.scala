package graft.streaming

import graft.Materialize
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Cross-batch streaming maintenance of the GLOBAL TRIANGLE COUNT under
  * a stream of edge INSERTS — the incremental face of the triangle
  * machinery ([[graft.graphs.Graphs.triangleCounts]] is the batch
  * per-vertex readout), run as a `foreachBatch` body over batches of
  * undirected edges (`u`, `v`):
  *
  *  1. the batch canonicalizes (least/greatest, self-loops dropped,
  *     distinct) and anti-joins the stored edge set — only genuinely
  *     NEW edges participate;
  *  2. Δtriangles = the number of DISTINCT vertex triples closed by at
  *     least one new edge: each new edge (u, v) wedge-joins the
  *     accumulated adjacency for common neighbors, and the found
  *     triples are deduplicated on their sorted form — a triangle
  *     closed by two or three same-batch edges is found once per new
  *     edge but COUNTED once (the dedup is the multiplicity
  *     correction). Per-batch cost is |Δ|·avg-degree wedge rows plus a
  *     triple-sized distinct, never a rescan of the full wedge space;
  *  3. the running count carries `__batch` with the
  *     [[IvmMaintenance]] replay guard and sentinel (count arithmetic
  *     is NOT idempotent, unlike [[IngestComponents]]/[[IngestMsf]]);
  *     the edge append IS idempotent (anti-joined), so it re-runs
  *     unconditionally after the count swap — the view-first crash
  *     discipline of every maintainer here.
  *
  * Edge DELETES are out of scope by design (the same wedge probe would
  * subtract, but delete feeds also need the edge store rebuilt —
  * compose with a bucketed store when needed); recompute from scratch
  * when edges retract.
  *
  * Bootstrap: the edge table (u, v) canonical — empty or an existing
  * edge set — and the count table (n_triangles, __batch) seeded with
  * the matching count (0 and -1 for empty).
  */
object IngestTriangles {
  /** DISTINCT sorted triples (x < y < z) of `graph` containing at least
    * one `probe` edge: each probe edge expands ONE endpoint's adjacency
    * for common neighbors, and the found triples dedup on their sorted
    * form — the multiplicity correction that counts a triple reached
    * from two or three probe edges once. `probe` must be a subset of
    * `graph` (a probe edge absent from the graph closes no triple of
    * the graph, but its wedges WOULD — callers intersect first). Both
    * canonical (u < v).
    *
    * The expanded endpoint is the LOWER-DEGREE one (degrees read from
    * `graph`'s adjacency, restricted to the probe endpoints — a
    * column-pruned scan + broadcast semi-join, no full-graph shuffle),
    * matching the batch machinery's hub safety: expanding the smaller-ID
    * endpoint instead would pay a hub's full adjacency in wedge rows for
    * EVERY probe edge touching it, the degenerate case on skewed feeds.
    * Cost ∝ Σ min(deg u, deg v) wedge rows + a triple-sized distinct.
    */
  private[graft] def closedTriples(probe: DataFrame, graph: DataFrame): DataFrame = {
    val wedges = orientedWedges(probe, graph)
      .select(col("e"), col("o"), col("w"),
        least(col("o"), col("w")).as("cu"), greatest(col("o"), col("w")).as("cv"))
    wedges
      .join(graph.select(col("u").as("cu"), col("v").as("cv")), Seq("cu", "cv"), "left_semi")
      .select(
        least(col("e"), col("cu")).as("x"),
        when(col("e") < col("cu"), col("cu"))
          .when(col("e") > col("cv"), col("cv")).otherwise(col("e")).as("y"),
        greatest(col("e"), col("cv")).as("z"))
      .distinct()
  }

  /** The degree-oriented wedge relation behind [[closedTriples]]:
    * (`e`, `o`, `w`) = probe edge {e, o} with deg(e) ≤ deg(o) (ties
    * break to the smaller id) and `w` one of e's other neighbors.
    * Factored out so the hub-safety spec can assert the wedge-row
    * count directly. The probe-derived relations are explicitly
    * broadcast: delta-derived joins get no Catalyst size estimate, and
    * the adjacency must never shuffle on a probe's account.
    */
  private[graft] def orientedWedges(probe: DataFrame, graph: DataFrame): DataFrame = {
    val adj = graph.select(col("u").as("a"), col("v").as("b"))
      .unionByName(graph.select(col("v").as("a"), col("u").as("b")))
    val endpoints = probe.select(col("u").as("a"))
      .unionByName(probe.select(col("v").as("a"))).distinct()
    val deg = adj.join(broadcast(endpoints), Seq("a"), "left_semi")
      .groupBy(col("a")).agg(count(lit(1)).as("d"))
    val oriented = probe
      .join(broadcast(deg.select(col("a").as("u"), col("d").as("du"))), Seq("u"))
      .join(broadcast(deg.select(col("a").as("v"), col("d").as("dv"))), Seq("v"))
      .select(
        when(col("du") <= col("dv"), col("u")).otherwise(col("v")).as("e"),
        when(col("du") <= col("dv"), col("v")).otherwise(col("u")).as("o"))
    broadcast(oriented)
      .join(adj.select(col("a").as("e"), col("b").as("w")), Seq("e"))
      .where(col("w") =!= col("o"))
  }
}

final class IngestTriangles(
    edgeTable: String,
    countTable: String
) extends ((DataFrame, Long) => Unit) with Serializable {

  override def apply(batch: DataFrame, batchId: Long): Unit = Materialize.scope {
    val spark = batch.sparkSession
    require(spark.catalog.tableExists(edgeTable) && spark.catalog.tableExists(countTable),
      s"IngestTriangles: '$edgeTable' and '$countTable' must be initialized first")
    val canon = Materialize.persist(batch
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .where(col("u") =!= col("v")).distinct())
    spark.sql(s"REFRESH TABLE $edgeTable")
    val old = spark.table(edgeTable)
    val newEdges = Materialize.persist(canon.join(old, Seq("u", "v"), "left_anti"))

    spark.sql(s"REFRESH TABLE $countTable")
    val cnt = spark.table(countTable)
    if (batchId > IvmMaintenance.lastApplied(spark, countTable)) {
      val all = old.unionByName(newEdges)
      val delta = IngestTriangles.closedTriples(newEdges, all).count()
      val prevRow = cnt.where(col("n_triangles").isNotNull)
        .agg(coalesce(max(col("n_triangles")), lit(0L))).head().getLong(0)
      val merged = spark.range(1).select(
        lit(prevRow + delta).as("n_triangles"), lit(batchId).as("__batch"))
      IvmMaintenance.swapViewWithSentinel(spark, countTable, merged, batchId)
    }

    // idempotent append AFTER the count swap (view-first discipline)
    if (!newEdges.isEmpty) {
      newEdges.select(old.columns.map(col).toIndexedSeq: _*)
        .write.mode(SaveMode.Append).format("parquet").insertInto(edgeTable)
      spark.sql(s"REFRESH TABLE $edgeTable")
    }
  }
}
