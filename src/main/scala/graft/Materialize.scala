package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Dataset, GraftBridge, Row}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count, lit}

import scala.collection.mutable
import scala.util.control.NonFatal

/** Eager mid-plan materialization with a durability switch, and the one
  * owner of the intermediate state it creates.
  *
  * The iterative / multi-reference operators (the connected-component label
  * rounds in [[graft.dedup.Dedup.nearDupClusters]], the graph loops in
  * [[graft.graphs.Graphs]], the bucket-count offset relations in
  * [[graft.curation.Assembly]] and [[graft.curation.Corpus]]) must cut
  * lineage and materialize an intermediate result: re-executing the
  * upstream plan per iteration (or once per join side) is exactly the scale
  * bug those operators exist to avoid. HOW they materialize is a durability
  * decision this switch centralizes:
  *
  *  - `localCheckpoint()` (the default): blocks live in executor storage
  *    with NO lineage left to recompute them. Fast — no distributed-FS
  *    round trip — and correct on `local[*]`, but on a real cluster one
  *    lost executor loses its blocks and FAILS the job. For an hours-long
  *    CC run over 100 TB that is the difference between "right plan" and
  *    "runs to completion".
  *  - reliable `checkpoint()`: blocks written to the fault-tolerant
  *    filesystem under the `graft.checkpointDir` session conf (HDFS/S3 on
  *    a real cluster). One write+read round trip per materialization buys
  *    executor-loss safety — a lost node re-reads from the FS instead of
  *    killing the job.
  *
  * Cluster deployments should set
  * `spark.conf.set("graft.checkpointDir", "hdfs://…/graft-ckpt")` before
  * running the iterative operators. With the conf unset nothing changes —
  * the local[*] test/bench profile keeps the zero-IO localCheckpoint path.
  *
  * Size. A checkpoint carries its EXACT row count: every call observes
  * `count(1)` on its own checkpoint job (a `CollectMetrics` node at the
  * root of the checkpointed plan, under a metric name unique to the call)
  * and rebuilds the result's `LogicalRDD` with `rowCount = n` and
  * `sizeInBytes = n × row width` (Spark's per-row width estimate). Without
  * this the `LogicalRDD` keeps the optimizer's estimate of the plan it
  * replaced — after a cross join or a few inner joins that is exabytes,
  * and the planner then broadcasts the wrong side of the next join. Rows
  * with a variable-width column (strings, arrays, maps) keep the larger
  * of that product and the replaced plan's estimate: a default width
  * understates long strings, and an understated size is what makes a
  * broadcast run out of memory. [[rows]] reads the count back with no
  * job; [[observed]] returns further aggregates computed on the same job.
  * The metrics are read from the checkpoint action's own query execution
  * when the action returns. They sit in its result stage, whose
  * accumulator updates Spark applies once per partition, so a retried
  * task does not count twice. If a Spark build ever leaves them out, the
  * same aggregates are recomputed over the materialized rows (one extra
  * job, never a wrong count).
  *
  * Releasing. `Dataset.unpersist()` frees nothing here: checkpoint blocks
  * are not `CacheManager` entries. Intermediate state is owned by a
  * [[scope]] instead. Every [[apply]], [[observed]] and [[persist]] call
  * registers what it creates with the innermost scope open on the calling
  * thread, and the scope frees it when its body exits, normally or by an
  * exception:
  *
  *  - a local checkpoint's blocks are removed (`unpersist(blocking =
  *    false)` on the RDD behind its `LogicalRDD`);
  *  - a reliable checkpoint's `rdd-NN` directory under `graft.checkpointDir`
  *    is deleted;
  *  - a [[persist]]ed Dataset is unpersisted.
  *
  * What the body's returned value still reads — every Dataset in it,
  * tuples included, through its logical plan and RDD lineage — is not
  * freed: it passes to the enclosing scope, or, with no scope open, stays
  * resident until Spark's context cleaner drops it after a GC (the
  * behaviour outside any scope). [[release]] frees superseded loop state
  * of the current scope at once. Scopes open at
  * operator boundaries: each looping public operator, each gate of the
  * [[SparkEntry.queries]] registry, and each `foreachBatch` body of the
  * `graft.streaming` maintainers.
  *
  * ONE directory per SparkContext: `graft.checkpointDir` is read from the
  * session conf but `SparkContext.setCheckpointDir` is context-GLOBAL, so
  * two sessions sharing a context with different values would silently
  * re-point each other's checkpoints (e.g. a production run's blocks
  * landing under another session's scratch path — durability lost with no
  * signal). A conf value that CONFLICTS with the one already applied on
  * the context therefore throws instead of re-pointing; a deliberate
  * re-point (scratch → production FS before real work starts) is
  * [[repoint]] + set the conf on every session sharing the context.
  */
private[graft] object Materialize {
  val ConfKey = "graft.checkpointDir"

  // Per-CONTEXT lock objects and applied-dir records, both weak-keyed on
  // the SparkContext itself:
  //  - the read-compare-apply must be atomic per context (two concurrent
  //    first materializations could otherwise interleave setCheckpointDir
  //    calls and record a value the context no longer points at), but the
  //    lock must be PER context — setCheckpointDir does filesystem I/O
  //    (mkdir on HDFS/S3), and one context stalled on a hung endpoint
  //    must not block an unrelated context's materialization behind a
  //    JVM-global monitor (the same driver-stall class the per-session
  //    CC locks avoid);
  //  - weak keys bound the maps in long-lived JVMs that cycle contexts
  //    (notebook kernels, test harnesses): a stopped, unreachable
  //    context's entries are collectable, nothing needs explicit
  //    eviction. The synchronizedMap wrapper makes computeIfAbsent
  //    atomic, and its global mutex is held only for that quick lookup —
  //    never across the FS call.
  private val ctxLocks =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.SparkContext, AnyRef]())
  private val appliedDir =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.SparkContext, String]())

  private def lockFor(sc: org.apache.spark.SparkContext): AnyRef =
    ctxLocks.computeIfAbsent(sc, _ => new AnyRef)

  /** `ds` materialized: a checkpoint that knows its row count and size
    * (see the class doc), owned by the innermost open [[scope]].
    */
  def apply[T](ds: Dataset[T]): Dataset[T] = observed(ds)._1

  /** [[apply]], plus the aggregate `metrics` (each named by `.as`)
    * evaluated over `ds`'s rows on the same checkpoint job: the returned
    * row holds them by name. Loop scalars — a convergence delta, a
    * changed count, the dangling rank mass — cost no job of their own.
    */
  def observed[T](ds: Dataset[T], metrics: Column*): (Dataset[T], Row) = {
    val name = s"graft_materialize_${observations.incrementAndGet()}"
    val all = count(lit(1)).as(RowsMetric) +: metrics
    val watched = ds.observe(name, all.head, all.tail: _*)
    val raw = checkpoint(watched)
    val m = watched.queryExecution.observedMetrics.getOrElse(name,
      raw.agg(all.head, all.tail: _*).head())
    val out = GraftBridge.withStats(raw, exactStats(raw, m.getAs[Long](RowsMetric)))
    checkpointRdd(out).foreach(rdd => own(Checkpointed(rdd)))
    (out, m)
  }

  /** The row count of a [[apply]] / [[observed]] result, read from its
    * statistics: no job. Anything else (a projection or filter over one,
    * a plain Dataset) is refused — its count is not known.
    */
  def rows(ds: Dataset[_]): Long =
    checkpointRdd(ds).flatMap(_ => ds.queryExecution.logical.stats.rowCount) match {
      case Some(n) => n.toLong
      case None => throw new IllegalArgumentException(
        "Materialize.rows needs a Materialize result itself, not a plan over one: " +
          ds.queryExecution.logical.simpleString(2))
    }

  private val RowsMetric = "__graft_rows"
  private val observations = new AtomicLong

  private def exactStats(ds: Dataset[_], rows: Long): Statistics = {
    val plan = ds.queryExecution.logical
    val size = EstimationUtils.getOutputSize(plan.output, rows)
    val fixedWidth = plan.output.forall(a => UnsafeRow.isFixedLength(a.dataType))
    Statistics(
      sizeInBytes = if (fixedWidth) size else size.max(plan.stats.sizeInBytes),
      rowCount = Some(rows))
  }

  private def checkpoint[T](ds: Dataset[T]): Dataset[T] = {
    val spark = ds.sparkSession
    spark.conf.getOption(ConfKey).filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = spark.sparkContext
        lockFor(sc).synchronized {
          val prev = appliedDir.get(sc)
          if (prev == null || sc.getCheckpointDir.isEmpty) {
            sc.setCheckpointDir(dir)
            appliedDir.put(sc, dir)
          } else if (prev != dir)
            throw new IllegalStateException(
              s"$ConfKey=$dir conflicts with the checkpoint directory already applied " +
                s"on this SparkContext ($prev). The checkpoint dir is context-global: " +
                "all sessions sharing a SparkContext must agree on one value. To " +
                "deliberately re-point it, call graft.Materialize.repoint(spark) and " +
                "set the same conf on every session sharing the context.")
        }
        ds.checkpoint()
      case None => ds.localCheckpoint()
    }
  }

  /** `ds.persist()`, owned by the innermost open [[scope]]: the scope
    * unpersists it on exit unless its result still reads it.
    */
  def persist[T](ds: Dataset[T]): Dataset[T] = {
    val out = ds.persist()
    own(Persisted(out))
    out
  }

  /** Runs `body` as the owner of every [[apply]] / [[persist]] it calls
    * on this thread (nested scopes included), then frees what its result
    * does not read. A thrown exception frees everything; a non-local
    * `return` out of `body` counts as a result.
    */
  def scope[T](body: => T): T = {
    val s = new Scope(current.get)
    current.set(s)
    var result: Option[Any] = None
    try {
      val r = body
      result = Some(r)
      r
    } catch {
      case nlr: scala.runtime.NonLocalReturnControl[_] =>
        result = Some(nlr.value)
        throw nlr
    } finally {
      current.set(s.parent)
      close(s, result)
    }
  }

  /** Frees `ds` now, if it is a [[apply]] or [[persist]] result owned by
    * the innermost open scope: superseded loop state whose successor is
    * already materialized. Anything else — a projection over such a
    * result, state owned by an outer scope or by no scope — is left alone.
    */
  def release(ds: Dataset[_]): Unit = {
    val s = current.get
    if (s != null) {
      val rddId = checkpointRdd(ds).map(_.id)
      val mine = s.held.filter {
        case Checkpointed(rdd) => rddId.contains(rdd.id)
        case Persisted(p) => p eq ds
      }
      s.held --= mine
      mine.foreach(free)
    }
  }

  private sealed trait Held
  private final case class Checkpointed(rdd: RDD[_]) extends Held
  private final case class Persisted(ds: Dataset[_]) extends Held

  private final class Scope(val parent: Scope) {
    val held = mutable.ArrayBuffer.empty[Held]
  }
  private val current = new ThreadLocal[Scope]

  private def own(h: Held): Unit = {
    val s = current.get
    if (s != null) s.held += h
  }

  /** The RDD a checkpointed Dataset reads its blocks from. */
  private def checkpointRdd(ds: Dataset[_]): Option[RDD[_]] =
    ds.queryExecution.logical match {
      case r: LogicalRDD => Some(r.rdd)
      case _ => None
    }

  private def close(s: Scope, result: Option[Any]): Unit = if (s.held.nonEmpty) {
    val (kept, dead) =
      try s.held.partition(readBy(result.toSeq.flatMap(datasetsIn)))
      catch { case NonFatal(_) => (s.held, mutable.ArrayBuffer.empty[Held]) } // unsure: free nothing
    dead.foreach(free)
    if (s.parent != null) s.parent.held ++= kept
  }

  private def datasetsIn(v: Any): Seq[Dataset[_]] = v match {
    case d: Dataset[_] => Seq(d)
    case p: Product => p.productIterator.flatMap(datasetsIn).toSeq
    case _ => Nil
  }

  /** Whether the plans of `results` still read a held entry: a checkpoint
    * whose RDD lies in the lineage of an RDD they scan, or a persisted
    * Dataset whose plan is a subtree of theirs (where the cache manager
    * substitutes its cache).
    */
  private def readBy(results: Seq[Dataset[_]]): Held => Boolean = {
    if (results.isEmpty) return _ => false
    val plans = results.map(_.queryExecution.analyzed)
    val rdds = mutable.Set.empty[Int]
    val pending = mutable.Stack[RDD[_]](plans.flatMap(_.collectWithSubqueries {
      case r: LogicalRDD => r.rdd
    }): _*)
    while (pending.nonEmpty) {
      val rdd = pending.pop()
      if (rdds.add(rdd.id)) rdd.dependencies.foreach(d => pending.push(d.rdd))
    }
    {
      case Checkpointed(rdd) => rdds(rdd.id)
      case Persisted(ds) =>
        val cached = ds.queryExecution.analyzed
        plans.exists(_.find(_.sameResult(cached)).isDefined)
    }
  }

  private def free(h: Held): Unit =
    try h match {
      case Checkpointed(rdd) =>
        rdd.unpersist(blocking = false)
        rdd.getCheckpointFile.foreach { f =>
          val path = new org.apache.hadoop.fs.Path(f)
          path.getFileSystem(rdd.context.hadoopConfiguration).delete(path, true)
        }
      case Persisted(ds) => ds.unpersist(blocking = false)
    } catch { case NonFatal(_) => () } // best effort: a stopped context has nothing left to free

  /** Forget the directory applied on `spark`'s context, so the next
    * materialization applies the session's current conf value. For
    * DELIBERATE re-points only (the conflict guard in [[apply]] exists
    * precisely so this never happens by accident).
    */
  def repoint(spark: org.apache.spark.sql.SparkSession): Unit = {
    val sc = spark.sparkContext
    lockFor(sc).synchronized { appliedDir.remove(sc); () }
  }
}
