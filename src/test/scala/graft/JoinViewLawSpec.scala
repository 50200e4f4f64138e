package graft

import scala.util.Random

import org.apache.spark.graft.JobCount
import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The batch-split and replay law of the join-view maintainers: however a
  * seeded CDC stream is cut into micro-batches — empty batches and
  * redelivered batch ids included, and with a crash between the view swap
  * and the base rebuilds — the maintained view equals the from-scratch
  * aggregate and every base equals base + inserts − deletes after every
  * batch. Also pins the per-batch job budget of a 3-side
  * [[graft.streaming.IngestJoinViewN]] batch.
  */
class JoinViewLawSpec extends SparkSpec {

  private val Buckets = 4

  private def dropAll(tables: Seq[String]): Unit = tables.foreach { t =>
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val loc = new java.io.File(s"spark-warehouse/$t")
    if (loc.exists()) org.apache.commons.io.FileUtils.deleteDirectory(loc)
  }

  /** A join chain: side i's two payload columns, the first being the
    * column its base is bucketed on; `label(i)` is its CDC `side` value.
    */
  private case class Chain(tables: Seq[String], view: String,
      payload: Seq[(String, String)], label: Seq[String]) {
    val n: Int = tables.size
    val cdcCols: Seq[String] = payload.flatMap(p => Seq(p._1, p._2)).distinct
    def all: Seq[String] = tables :+ view
  }

  /** One change: side index, row id, payload, insert or delete. */
  private case class Change(side: Int, id: Long, p: (Long, Long), insert: Boolean)

  private type Model = IndexedSeq[Map[Long, (Long, Long)]]

  /** The view from scratch: (grp → (n, total)) over the model's bases. */
  private def scratchView(m: Model): Map[Long, (Long, Double)] = {
    // (grp, carried key) rows folded along the chain
    var acc: Seq[(Long, Long)] = m(0).values.map { case (k, grp) => (grp, k) }.toSeq
    for (i <- 1 until m.size) {
      val byKey = m(i).values.groupBy(_._1)
      acc = acc.flatMap { case (grp, k) =>
        byKey.getOrElse(k, Nil).map { case (_, carry) => (grp, carry) } }
    }
    acc.groupBy(_._1).map { case (g, rs) => g -> ((rs.size.toLong, rs.map(_._2.toDouble).sum)) }
  }

  private def apply(m: Model, batch: Seq[Change]): Model = {
    val dels = batch.filterNot(_.insert)
    val ins = batch.filter(_.insert)
    m.indices.map { i =>
      m(i) -- dels.filter(_.side == i).map(_.id) ++
        ins.filter(_.side == i).map(c => c.id -> c.p)
    }
  }

  private def bootstrap(c: Chain, m: Model): Unit = {
    dropAll(c.all)
    (0 until c.n).foreach(i => writeBase(c, i, m(i)))
    val v = scratchView(m).toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(
        v.map { case (g, (cnt, tot)) => Row(g, cnt, tot, -1L) }, 1),
        StructType(Seq(StructField("grp", LongType), StructField("n", LongType),
          StructField("total", DoubleType), StructField("__batch", LongType))))
      .write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(c.view)
  }

  private def writeBase(c: Chain, i: Int, rows: Map[Long, (Long, Long)]): Unit = {
    val (k, v) = c.payload(i)
    spark.createDataFrame(spark.sparkContext.parallelize(
        rows.toSeq.map { case (id, (a, b)) => Row(id, a, b) }, 1),
        StructType(Seq(StructField("row_id", LongType), StructField(k, LongType),
          StructField(v, LongType))))
      .withColumn("bkt", pmod(hash(col(k)), lit(Buckets)))
      .write.partitionBy("bkt").mode(SaveMode.Overwrite).format("parquet")
      .saveAsTable(c.tables(i))
  }

  private def cdc(c: Chain, batch: Seq[Change]): DataFrame = {
    val schema = StructType(
      Seq(StructField("side", StringType), StructField("row_id", LongType)) ++
        c.cdcCols.map(StructField(_, LongType)) :+ StructField("op", StringType))
    val rows = batch.map { ch =>
      val (k, v) = c.payload(ch.side)
      val vals = c.cdcCols.map(x => if (x == k) ch.p._1 else if (x == v) ch.p._2 else 0L)
      Row.fromSeq(Seq(c.label(ch.side), ch.id) ++ vals :+ (if (ch.insert) "insert" else "delete"))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  private def assertState(c: Chain, m: Model, what: String): Unit = {
    val view = spark.table(c.view).where(col("n").isNotNull)
      .select(col("grp"), col("n"), col("total")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toSeq
    assert(view.map(_._1).distinct.size == view.size, s"$what: duplicate view groups $view")
    assert(view.toMap == scratchView(m), s"$what: view")
    (0 until c.n).foreach { i =>
      val (k, v) = c.payload(i)
      val base = spark.table(c.tables(i)).select(col("row_id"), col(k), col(v)).collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toSeq.sortBy(_._1)
      assert(base == m(i).toSeq.sortBy(_._1), s"$what: base of side $i")
    }
  }

  /** A seeded CDC stream, split at random into valid micro-batches: a cut
    * falls at random and wherever the next change group would touch a row
    * id the open batch already touched (the maintainers' row-id contract
    * is per batch: one insert and one delete of a pre-batch row per id).
    */
  private def stream(rnd: Random, c: Chain, init: Model, groups: Int): Seq[Seq[Change]] = {
    var live = init
    var nextId = 1000L
    def payload(i: Int): (Long, Long) =
      if (i == c.n - 1) (rnd.nextInt(5).toLong, 1L + rnd.nextInt(9))
      else (rnd.nextInt(5).toLong, rnd.nextInt(if (i == 0) 3 else 5).toLong)
    val gs = (0 until groups).map { _ =>
      val i = rnd.nextInt(c.n)
      val ids = live(i).keys.toIndexedSeq.sorted
      val r = rnd.nextDouble()
      val g =
        if (ids.isEmpty || r < 0.5) { nextId += 1; Seq(Change(i, nextId, payload(i), insert = true)) }
        else {
          val id = ids(rnd.nextInt(ids.size))
          val del = Change(i, id, live(i)(id), insert = false)
          if (r < 0.8) Seq(del) else Seq(del, Change(i, id, payload(i), insert = true))
        }
      live = apply(live, g)
      g
    }
    val batches = Seq.newBuilder[Seq[Change]]
    var open = Vector.empty[Change]
    gs.foreach { g =>
      val clash = g.exists(x => open.exists(o => o.side == x.side && o.id == x.id))
      if (open.nonEmpty && (clash || rnd.nextDouble() < 0.3)) { batches += open; open = Vector.empty }
      if (rnd.nextDouble() < 0.1) batches += Seq.empty
      open ++= g
    }
    if (open.nonEmpty) batches += open
    batches.result()
  }

  private def initial(rnd: Random, c: Chain): Model = (0 until c.n).map { i =>
    (1 to 4 + 3 * i).map { j =>
      val p = if (i == c.n - 1) (rnd.nextInt(5).toLong, 1L + rnd.nextInt(9))
        else (rnd.nextInt(5).toLong, rnd.nextInt(if (i == 0) 3 else 5).toLong)
      (100L * i + j) -> p
    }.toMap
  }

  /** Feeds one seeded stream through `handler`, checking the law after
    * every batch, a redelivery and a simulated crash.
    */
  private def law(c: Chain, seed: Long, groups: Int)(handler: (DataFrame, Long) => Unit): Unit = {
    val rnd = new Random(seed)
    val init = initial(rnd, c)
    bootstrap(c, init)
    try {
      var m = init
      var batchId = 0L
      stream(rnd, c, init, groups).foreach { b =>
        val df = cdc(c, b)
        val next = apply(m, b)
        val what = s"seed $seed batch $batchId (${b.size} changes)"
        if (rnd.nextDouble() < 0.25) {
          // crash after the view swap, before some or all base rebuilds:
          // the view is applied, the chosen bases keep their pre-batch rows
          val lost = (0 until c.n).filter(_ => rnd.nextBoolean()) match {
            case Seq() => 0 until c.n
            case s     => s
          }
          handler(df, batchId)
          lost.foreach(i => writeBase(c, i, m(i)))
          handler(df, batchId)
          assertState(c, next, s"$what, redelivered after a crash losing bases ${lost.mkString(",")}")
        } else {
          handler(df, batchId)
          assertState(c, next, what)
          if (rnd.nextDouble() < 0.25) {
            handler(df, batchId)
            assertState(c, next, s"$what, redelivered")
          }
        }
        m = next
        batchId += 1
      }
    } finally dropAll(c.all)
  }

  private val three = Chain(Seq("law_jn_0", "law_jn_1", "law_jn_2"), "law_jn_view",
    Seq(("ka", "grp"), ("ka", "kb"), ("kb", "value")), Seq("0", "1", "2"))
  private val two = Chain(Seq("law_jv_a", "law_jv_b"), "law_jv_view",
    Seq(("key", "grp"), ("key", "value")), Seq("a", "b"))

  test("IngestJoinViewN (3 sides): any batch split of a CDC stream, with empty batches, " +
      "redeliveries and crashes between view swap and base rebuild, keeps view and bases exact") {
    Seq(7L, 19L).foreach { seed =>
      law(three, seed, groups = 24)(
        new graft.streaming.IngestJoinViewN(three.tables, three.view, Seq("ka", "kb"), Buckets))
    }
  }

  test("IngestJoinView (2 sides): the same batch-split, redelivery and crash law") {
    Seq(3L, 11L).foreach { seed =>
      law(two, seed, groups = 20)(
        new graft.streaming.IngestJoinView(two.tables(0), two.tables(1), two.view, Buckets))
    }
  }

  test("a first-delivery 3-side IngestJoinViewN batch with inserts and deletes on every " +
      "side runs at most 38 Spark jobs") {
    val rnd = new Random(5L)
    val init = initial(rnd, three)
    bootstrap(three, init)
    try {
      val batch = (0 until 3).flatMap { i =>
        val id = init(i).keys.min
        Seq(Change(i, id, init(i)(id), insert = false),
          Change(i, 5000L + i, if (i == 2) (1L, 4L) else (1L, 2L), insert = true))
      }
      val handler = new graft.streaming.IngestJoinViewN(
        three.tables, three.view, Seq("ka", "kb"), Buckets)
      val df = cdc(three, batch)
      val (_, jobs) = JobCount(spark.sparkContext)(handler(df, 0L))
      assertState(three, apply(init, batch), "budget batch")
      info(s"$jobs jobs")
      assert(jobs <= 38, s"$jobs jobs")
    } finally dropAll(three.all)
  }
}
