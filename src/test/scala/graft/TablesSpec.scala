package graft

import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** Loader hardening: `Tables.events` must decode `ts` correctly under BOTH
  * encodings the driver has shipped (int64-nanos via `nanosAsLong`, and
  * timestamp[us] → TIMESTAMP_NTZ), and every loader must fail LOUDLY — one
  * message naming the table and column — when the testdata schema drifts.
  * Round 7 lost 15 gates to a silent regeneration; this spec is the alarm.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("tables").toString

  test("events: TIMESTAMP_NTZ (timestamp[us]) encoding casts to session-UTC TimestampType") {
    val dir = tmp()
    // write ts as TIMESTAMP_NTZ, the type Spark infers from tz-less timestamp[us]
    spark
      .range(3)
      .select(
        col("id").as("event_id"),
        timestamp_micros(col("id") * 1000000L + 1700000000000000L).cast(TimestampNTZType).as("ts"),
        col("id").as("user_id"),
        lit("click").as("event_type"),
        col("id").cast("double").as("value"),
        lit("{}").as("props"))
      .write.parquet(s"$dir/events.parquet")

    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType == TimestampType)
    // UTC session → epoch-identity: 1700000000s == 2023-11-14 22:13:20 UTC
    val got = ev.orderBy("event_id").select(unix_timestamp(col("ts"))).as[Long].collect().toSeq
    assert(got == Seq(1700000000L, 1700000001L, 1700000002L))
  }

  test("events: int64-nanos encoding converts via div-1000 to the same instants") {
    val dir = tmp()
    // nanosAsLong reads TIMESTAMP(NANOS) as LongType; emulate with a plain
    // int64 column carrying epoch-nanos (the loader dispatches on LongType)
    spark
      .range(3)
      .select(
        col("id").as("event_id"),
        (col("id") * 1000000000L + 1700000000000000000L).as("ts"),
        col("id").as("user_id"),
        lit("view").as("event_type"),
        col("id").cast("double").as("value"),
        lit("{}").as("props"))
      .write.parquet(s"$dir/events.parquet")

    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType == TimestampType)
    val got = ev.orderBy("event_id").select(unix_timestamp(col("ts"))).as[Long].collect().toSeq
    assert(got == Seq(1700000000L, 1700000001L, 1700000002L))
  }

  test("schema drift fails loudly with table + column in one message") {
    val dir = tmp()
    // deliberately mis-typed: value as string, props missing
    Seq((1L, "2024-01-01", 7L, "click", "oops"))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")

    val ex = intercept[IllegalStateException](Tables.events(spark, dir))
    assert(ex.getMessage.contains("events"))
    assert(ex.getMessage.contains("value"))
    assert(ex.getMessage.contains("props"))
  }

  test("drift guard covers the dimension tables too") {
    val dir = tmp()
    Seq((1, 2.5)).toDF("r_regionkey", "r_name").write.parquet(s"$dir/region.parquet")
    val ex = intercept[IllegalStateException](Tables.region(spark, dir))
    assert(ex.getMessage.contains("region") && ex.getMessage.contains("r_name"))
  }

  test("real driver testdata loads green under the guard (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.limit(1).count() == 1)
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
      "region", "documents", "embeddings").foreach { t =>
      assert(Tables.load(spark, dir, t).limit(1).count() == 1, s"table $t")
    }
  }

  test("a table's inferred schema is cached: a second load runs no job, a rewritten file is inferred again") {
    import org.apache.spark.graft.JobCount
    val dir = tmp()
    val file = java.nio.file.Paths.get(dir, "widgets.parquet")
    def writeFile(df: org.apache.spark.sql.DataFrame): Unit = {
      val out = s"$dir/out-${System.nanoTime()}"
      df.coalesce(1).write.parquet(out)
      val part = new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, file, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    writeFile(spark.range(5).toDF("a"))
    val (first, firstJobs) = JobCount(spark.sparkContext)(Tables.load(spark, dir, "widgets"))
    assert(first.columns.toSeq == Seq("a") && firstJobs >= 1)
    val (again, againJobs) = JobCount(spark.sparkContext)(Tables.load(spark, dir, "widgets"))
    assert(againJobs == 0, s"a second load of an unchanged file ran $againJobs jobs")
    assert(again.collect().map(_.getLong(0)).sorted.toSeq == (0L until 5L))

    writeFile(spark.range(7).select(col("id").as("a"), (col("id") * 2).as("b")))
    val rewritten = Tables.load(spark, dir, "widgets")
    assert(rewritten.columns.toSeq == Seq("a", "b"))
    assert(rewritten.where(col("a") === 6L).select("b").as[Long].head() == 12L)

    // a directory of part files: rewriting it is seen too
    spark.range(3).toDF("x").write.parquet(s"$dir/gadgets.parquet")
    assert(Tables.load(spark, dir, "gadgets").columns.toSeq == Seq("x"))
    assert(JobCount(spark.sparkContext)(Tables.load(spark, dir, "gadgets"))._2 == 0)
    spark.range(3).select(col("id").as("x"), lit("y").as("y"))
      .write.mode("overwrite").parquet(s"$dir/gadgets.parquet")
    assert(Tables.load(spark, dir, "gadgets").columns.toSeq == Seq("x", "y"))
  }
}
