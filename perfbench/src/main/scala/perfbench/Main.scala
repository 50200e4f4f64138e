package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{GraftSession, SparkEntry}
import graft.streaming.{IngestDedup, IngestJoinViewN}
import org.apache.spark.SparkContext
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** One benchmark run: one workload in one JVM. Starts a session, warms it
  * up, runs the timed phase, writes the outputs the checker compares and
  * a `result.json` with the metrics (plus `trace.json` when tracing).
  *
  * Every layer is timed from outside, around calls into public functions:
  * `SparkEntry.queries(name)` (build), `queryExecution.executedPlan`
  * (plan), a noop-format write (exec), and the foreachBatch bodies of
  * `IngestJoinViewN` and `IngestDedup` (stream). Work is counted by
  * [[Meter]].
  *
  * Usage: `Main --workload W --passes P --trace 0|1 --data DIR
  * --out DIR --cores N` (normally launched by `run.py`), or `Main --oracles
  * FILE` to write every gate's oracle query.
  */
object Main {

  /** Gates per gate workload; why each was chosen is in the README. */
  val Gates: Map[String, Seq[String]] = Map(
    "single-pass" -> Seq(
      "q01_map", "q04_fold", "q11_session", "q19_fold_concat", "q55_asof",
      "q21_dedup_minhash", "q33_simhash_pairs"),
    "graph-iterative" -> Seq("q154_pagerank", "q179_components", "q183_sssp"))

  val ViewMaintenance = "view-maintenance"

  final case class Args(
      workload: String, passes: Int, trace: Boolean,
      data: String, out: String, cores: Int)

  /** One record of the `view-maintenance` join-view feed. */
  final case class JvChange(
      side: String, row_id: Long, ka: Long, kb: Long, grp: Long, value: Long, op: String)

  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def sinceStart: Double = (System.currentTimeMillis() - jvmStartMs) / 1e3

  val MB = 1e6

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--oracles")) {
      // every gate's oracle query, for the checker to prepare its references
      write(Paths.get(argv(1)), Gates.values.flatten.map(g => g -> SparkEntry.oracleSql(g)).toMap)
      return
    }
    val a = parse(argv)
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${a.out}/warehouse")
      .config("spark.local.dir", s"${a.out}/tmp/spark")
      .config("spark.sql.streaming.checkpointLocation", s"${a.out}/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.tune(spark)
    val meter = new Meter
    spark.sparkContext.addSparkListener(meter)
    val run = new Run(spark, a, meter, new Tracer(a.trace), sinceStart)
    try {
      val result =
        if (a.workload == ViewMaintenance) run.viewMaintenance()
        else run.gates(Gates(a.workload))
      write(Paths.get(a.out, "result.json"), result)
      if (a.trace) write(Paths.get(a.out, "trace.json"), run.traceRecord)
    } finally {
      run.close()
      spark.stop()
    }
  }

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    require(workload == ViewMaintenance || Gates.contains(workload), s"unknown workload $workload")
    Args(workload, need("passes").toInt, need("trace") == "1",
      need("data"), need("out"), need("cores").toInt)
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(path: Path, value: Any): Unit = {
    Files.createDirectories(path.getParent)
    Files.writeString(path, json.writerWithDefaultPrettyPrinter().writeValueAsString(value))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Samples the resident RDD-block bytes every 20 ms while a traced run
  * lasts; [[takePeak]] returns the highest sample since its last call.
  */
final class StorageSampler(sc: SparkContext) extends Thread("perfbench-storage") {
  setDaemon(true)
  @volatile private var running = true
  private var peak = 0L

  override def run(): Unit = while (running) {
    val b = Bus.rddBlockBytes(sc)
    synchronized { peak = math.max(peak, b) }
    Thread.sleep(20)
  }

  def takePeak(): Long = synchronized { val p = peak; peak = 0L; p }

  def finish(): Unit = { running = false; join() }
}

/** Spans kept in memory and written out at the end of a traced run. */
final class Tracer(val on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Map[String, Any]]

  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (on) spans += Map("name" -> name, "start_ns" -> startNs, "end_ns" -> endNs)
}

final class Run(spark: SparkSession, a: Main.Args, meter: Meter, tracer: Tracer,
    sessionStartS: Double) {
  import Main._
  import spark.implicits._

  private val sc: SparkContext = spark.sparkContext
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private val breakdown = mutable.LinkedHashMap.empty[String, Any]

  def traceRecord: Map[String, Any] = Map("spans" -> tracer.spans.toSeq, "breakdown" -> breakdown.toMap)

  /** Runs `body` with every Spark job it submits charged to `span`, and
    * returns its result with its wall time in seconds.
    */
  private def timed[T](span: String)(body: => T): (T, Double) = {
    sc.setLocalProperty(Meter.SpanKey, span)
    val t0 = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      tracer.record(span, t0, System.nanoTime())
      sc.setLocalProperty(Meter.SpanKey, null)
    }
  }

  private def fail(what: String, t: Throwable): Unit = {
    failures += s"$what: ${t.getClass.getName}: ${t.getMessage}".take(500)
    System.err.println(s"perfbench: $what FAILED: $t")
  }

  private def rddBytes: Long = Bus.rddBlockBytes(sc)
  private val sampler = new StorageSampler(sc)
  if (tracer.on) sampler.start()

  def close(): Unit = if (tracer.on) sampler.finish()

  /** RDD bytes still resident after a GC, once the context cleaner has
    * stopped removing blocks (two equal reads 200 ms apart).
    */
  private def retainedBytes(): Long = {
    System.gc()
    var prev = -1L
    var cur = rddBytes
    var reads = 0
    while ((cur != prev || reads < 2) && reads < 25) {
      Thread.sleep(200)
      prev = cur
      cur = rddBytes
      reads += 1
    }
    cur
  }

  private def result(e2e: Map[String, Double], layer: Map[String, Double]): Map[String, Any] =
    Map("attempted" -> attempted, "failed" -> failures.size, "failures" -> failures.toSeq,
      "end_to_end" -> e2e, "per_layer" -> layer)

  // --- gate workloads --------------------------------------------------

  private final case class Sample(build: Double, plan: Double, exec: Double) {
    def total: Double = build + plan + exec
  }

  /** One complete gate evaluation, in its own frame so that nothing of
    * the gate stays reachable once it returns.
    */
  private def evaluate(span: String, fn: (SparkSession, String) => DataFrame): Sample = {
    val (df, b) = timed(s"$span/build")(fn(spark, a.data))
    val (_, p) = timed(s"$span/plan")(df.queryExecution.executedPlan)
    val (_, e) = timed(s"$span/exec")(df.write.format("noop").mode("overwrite").save())
    Sample(b, p, e)
  }

  def gates(names: Seq[String]): Map[String, Any] = {
    val fns = names.map(n => n -> SparkEntry.queries(n))

    // Warm-up at full scale, which also writes the outputs the checker
    // compares: outside the timed phase, counted in setup_s.
    val outputs = Paths.get(a.out, "outputs")
    fns.foreach { case (g, fn) =>
      attempted += 1
      try timed(s"warm/$g")(fn(spark, a.data).write.mode("overwrite")
        .parquet(outputs.resolve(g).toString))
      catch { case t: Throwable => fail(s"$g (warm-up)", t) }
    }
    write(outputs.resolve("oracle_sql.json"), names.map(n => n -> SparkEntry.oracleSql(n)).toMap)
    val setupS = sinceStart

    val samples = mutable.LinkedHashMap(names.map(_ -> mutable.ArrayBuffer.empty[Sample]): _*)
    val peaks = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val retained = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val residentAfter = mutable.Map.empty[String, Long].withDefaultValue(0L)
    for (pass <- 0 until a.passes) {
      fns.foreach { case (g, fn) =>
        attempted += 1
        if (tracer.on) sampler.takePeak()
        try samples(g) += evaluate(s"p$pass/$g", fn)
        catch { case t: Throwable => fail(g, t) }
        if (tracer.on) {
          residentAfter(g) = math.max(residentAfter(g), rddBytes)
          peaks(g) = math.max(peaks(g), sampler.takePeak())
          // a GC and a cleaner wait per gate, once: it takes a second
          if (pass == a.passes - 1) retained(g) = retainedBytes()
        }
      }
    }
    Bus.drain(sc)

    def med(g: String, f: Sample => Double) = median(samples(g).map(f).toSeq)
    def phase(p: String) = meter.sum(_.endsWith(s"/$p"))
    val buildS = names.map(med(_, _.build)).sum
    val planS = names.map(med(_, _.plan)).sum
    val execS = names.map(med(_, _.exec)).sum
    val build = phase("build")
    val exec = phase("exec")
    val timedWork = new Counts
    Seq("build", "plan", "exec").foreach(p => timedWork += phase(p))
    def perPass(x: Double) = x / a.passes

    names.foreach { g =>
      val c = Seq("build", "plan", "exec").map(p => p -> meter.sum(k => k.endsWith(s"/$g/$p"))).toMap
      breakdown(g) = Map(
        "samples" -> samples(g).map(s => Map("build_s" -> s.build, "plan_s" -> s.plan,
          "exec_s" -> s.exec)).toSeq,
        "jobs_per_pass" -> c.map { case (p, x) => p -> perPass(x.jobs) },
        "tasks_per_pass" -> c.map { case (p, x) => p -> perPass(x.tasks) },
        "task_run_s_per_pass" -> c.map { case (p, x) => p -> perPass(x.runMs / 1e3) },
        "cpu_s_per_pass" -> c.map { case (p, x) => p -> perPass(x.cpuNs / 1e9) },
        "storage_peak_mb" -> peaks(g) / MB,
        "storage_resident_before_gc_mb" -> residentAfter(g) / MB,
        "storage_retained_mb" -> retained(g) / MB)
    }
    breakdown("passes") = a.passes

    val e2e = Map(
      "setup_s" -> setupS,
      "wall_s" -> names.map(med(_, _.total)).sum,
      "executor_cpu_s" -> median((0 until a.passes).map(k => meter.sum(_.startsWith(s"p$k/")).cpuNs / 1e9)),
      "batch_p50_s" -> median(samples.values.flatten.map(_.total).toSeq))
    val layer = Map(
      "session.start_s" -> sessionStartS,
      "session.warmup_s" -> (setupS - sessionStartS),
      "build.s" -> buildS,
      "build.jobs" -> perPass(build.jobs),
      "build.stages" -> perPass(build.stages),
      "build.tasks" -> perPass(build.tasks),
      "build.task_run_s" -> perPass(build.runMs / 1e3),
      "build.slot_busy" -> (if (buildS > 0) perPass(build.runMs / 1e3) / (buildS * a.cores) else 0.0),
      "plan.s" -> planS,
      "exec.s" -> execS,
      "exec.jobs" -> perPass(exec.jobs),
      "exec.tasks" -> perPass(exec.tasks),
      "exec.task_run_s" -> perPass(exec.runMs / 1e3),
      "exec.cpu_s" -> perPass(exec.cpuNs / 1e9),
      "exec.shuffle_write_mb" -> perPass(exec.shuffleWriteBytes / MB),
      "exec.shuffle_read_mb" -> perPass(exec.shuffleReadBytes / MB),
      "exec.spill_mb" -> perPass(exec.spillBytes / MB),
      "exec.slot_busy" -> (if (execS > 0) perPass(exec.runMs / 1e3) / (execS * a.cores) else 0.0),
      "sources.input_mb" -> perPass(timedWork.inputBytes / MB),
      "sources.input_rows" -> perPass(timedWork.inputRows.toDouble),
      "storage.peak_mb" -> (if (peaks.isEmpty) 0.0 else peaks.values.max / MB),
      "storage.retained_mb" -> (if (retained.isEmpty) 0.0 else retained.values.max / MB))
    result(e2e, layer)
  }

  // --- view-maintenance ------------------------------------------------

  private val Buckets = 8
  private val JvTables = Seq("jv_side0", "jv_side1", "jv_side2")
  private val JvView = "jv_view"
  private val SeenIndex = "dd_seen"

  /** A foreachBatch body wrapped so its jobs are charged to one span per
    * batch and its wall time is recorded.
    */
  private final class Timed(kind: String, body: (DataFrame, Long) => Unit,
      bodyS: mutable.Map[Long, Double]) extends ((DataFrame, Long) => Unit) {
    override def apply(batch: DataFrame, batchId: Long): Unit =
      bodyS(batchId) = timed(s"stream/$kind/$batchId")(body(batch, batchId))._2
  }

  def viewMaintenance(): Map[String, Any] = {
    val feedDir = s"${a.out}/feed"

    // Bootstrap the bucketed side tables and the initial view.
    val (_, bootstrapS) = timed("stream/bootstrap") {
      val keys = Seq("ka", "ka", "kb")
      JvTables.zipWithIndex.foreach { case (t, i) =>
        spark.read.parquet(s"$feedDir/base_$i.parquet")
          .withColumn("bkt", pmod(hash(col(keys(i))), lit(Buckets)))
          .write.partitionBy("bkt").mode("overwrite").format("parquet").saveAsTable(t)
      }
      val Seq(s0, s1, s2) = JvTables.map(t => spark.table(t).drop("bkt", "row_id"))
      s0.join(s1, Seq("ka")).join(s2, Seq("kb"))
        .groupBy(col("grp")).agg(count(lit(1)).as("n"), sum(col("value")).cast("double").as("total"))
        .withColumn("__batch", lit(-1L))
        .write.mode("overwrite").format("parquet").saveAsTable(JvView)
    }

    // The feed, held in memory before anything is timed.
    val jvRows = spark.read.parquet(s"$feedDir/jv.parquet")
      .select("seq", "side", "row_id", "ka", "kb", "grp", "value", "op").collect()
      .groupBy(_.getInt(0)).map { case (s, rs) =>
        s -> rs.map(r => JvChange(r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getString(7))).toIndexedSeq }
    val ddRows = spark.read.parquet(s"$feedDir/dd.parquet").select("seq", "doc_id", "text")
      .collect().groupBy(_.getInt(0)).map { case (s, rs) =>
        s -> rs.map(r => (r.getLong(1), r.getString(2))).toIndexedSeq }
    val schedule = spark.read.parquet(s"$feedDir/schedule.parquet")
      .select("seq", "kind", "warm").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getBoolean(2))).sortBy(_._1)
    val docs = ddRows.values.map(_.size).sum

    val jvBodyS = mutable.LinkedHashMap.empty[Long, Double]
    val ddBodyS = mutable.LinkedHashMap.empty[Long, Double]
    val sink = mutable.ArrayBuffer.empty[String]
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val jvIn = MemoryStream[JvChange]
    val ddIn = MemoryStream[(Long, String)]
    val jvQuery = jvIn.toDS().toDF().writeStream
      .foreachBatch(new Timed("jv",
        new IngestJoinViewN(JvTables, JvView, Seq("ka", "kb"), Buckets), jvBodyS))
      .option("checkpointLocation", s"${a.out}/checkpoints/jv")
      .start()
    val ddQuery = ddIn.toDS().toDF("doc_id", "text").writeStream
      .foreachBatch(new Timed("dd",
        IngestDedup(col("text"), SeenIndex, expectedItems = math.max(16L, docs.toLong)) {
          (novel, _) => sink ++= novel.select(md5(col("text"))).as[String].collect()
        }, ddBodyS))
      .option("checkpointLocation", s"${a.out}/checkpoints/dd")
      .start()

    /** Hands one batch to its running query and waits until the
      * maintained state reflects it (closed loop, one client).
      */
    def apply(seq: Int, kind: String): Option[Double] = {
      attempted += 1
      val t0 = System.nanoTime()
      try {
        val q: StreamingQuery =
          if (kind == "jv") { jvIn.addData(jvRows(seq)); jvQuery }
          else { ddIn.addData(ddRows(seq)); ddQuery }
        q.processAllAvailable()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case t: Throwable => fail(s"batch $seq ($kind)", t); None }
    }

    val (warm, timedBatches) = schedule.partition(_._3)
    warm.foreach { case (s, k, _) => apply(s, k) }
    val setupS = sinceStart
    val warmIds = (jvBodyS.keySet.map(("jv", _)) ++ ddBodyS.keySet.map(("dd", _))).toSet
    sampler.takePeak()

    val t0 = System.nanoTime()
    val latencies = timedBatches.flatMap { case (s, k, _) => apply(s, k).map(l => (s, k, l)) }
    val wallS = (System.nanoTime() - t0) / 1e9
    val peak = sampler.takePeak()
    Bus.drain(sc)
    jvQuery.stop()
    ddQuery.stop()

    // outputs for the checker
    val outputs = Paths.get(a.out, "outputs")
    spark.table(JvView).where(col("n").isNotNull).select("grp", "n", "total")
      .coalesce(1).write.mode("overwrite").parquet(outputs.resolve("view").toString)
    write(outputs.resolve("dedup_sink.json"), sink.toSeq)

    val jvTimed = jvBodyS.toSeq.filterNot(b => warmIds(("jv", b._1)))
    val ddTimed = ddBodyS.toSeq.filterNot(b => warmIds(("dd", b._1)))
    val timedSpans = (jvTimed.map(b => s"stream/jv/${b._1}") ++ ddTimed.map(b => s"stream/dd/${b._1}")).toSet
    val work = meter.sum(timedSpans.contains)
    val stateFiles = Files.walk(Paths.get(a.out, "warehouse"))
    val nFiles = try stateFiles.filter(p => p.toString.endsWith(".parquet")).count() finally stateFiles.close()
    val retained = if (tracer.on) retainedBytes() else 0L

    breakdown("batches") = latencies.map { case (s, k, l) =>
      Map("seq" -> s, "kind" -> k, "latency_s" -> l) }.toSeq
    breakdown("joinview_body_s") = jvTimed.map(_._2)
    breakdown("dedup_body_s") = ddTimed.map(_._2)
    breakdown("jobs_per_batch") = timedSpans.toSeq.sorted.map(s => s -> meter.sum(_ == s).jobs).toMap
    breakdown("warm_batches") = warm.length

    val e2e = Map(
      "setup_s" -> setupS,
      "wall_s" -> wallS,
      "executor_cpu_s" -> work.cpuNs / 1e9,
      "batch_p50_s" -> median(latencies.map(_._3).toSeq))
    val layer = Map(
      "session.start_s" -> sessionStartS,
      "session.warmup_s" -> (setupS - sessionStartS),
      "sources.input_mb" -> work.inputBytes / MB,
      "sources.input_rows" -> work.inputRows.toDouble,
      "storage.peak_mb" -> peak / MB,
      "storage.retained_mb" -> retained / MB,
      "stream.bootstrap_s" -> bootstrapS,
      "stream.joinview.batch_s" -> median(jvTimed.map(_._2)),
      "stream.dedup.batch_s" -> median(ddTimed.map(_._2)),
      "stream.batch_jobs" -> work.jobs.toDouble / math.max(1, timedSpans.size),
      "stream.state_write_mb" -> work.outputBytes / MB,
      "stream.state_files" -> nFiles.toDouble)
    result(e2e, layer)
  }
}
