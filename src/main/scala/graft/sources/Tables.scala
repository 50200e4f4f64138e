package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * These are thin `spark.read.parquet` wrappers — predicate pushdown and
  * column pruning happen in Catalyst, so callers should select/filter on the
  * returned DataFrame and let the optimizer reach the scan. The only
  * normalization done here is the `events.ts` timestamp fix-up, which
  * dispatches on the *loaded* schema because the driver has shipped this
  * column as both TIMESTAMP(NANOS) and timestamp[us] across regenerations.
  *
  * Every loader also passes through [[guardSchema]]: a drifted or mis-typed
  * testdata file fails with ONE clear message naming the table and the
  * offending column, instead of 15 scattered analysis errors downstream.
  */
object Tables {

  /** Column-level schema expectation: name → acceptable Spark types. */
  private type Expect = Seq[(String, DataType => Boolean)]

  private val isLong: DataType => Boolean = _ == LongType
  private val isInt: DataType => Boolean = dt => dt == IntegerType || dt == LongType
  private val isDouble: DataType => Boolean = _ == DoubleType
  private val isString: DataType => Boolean = _ == StringType
  private val isTimestampish: DataType => Boolean = {
    case TimestampType | TimestampNTZType | LongType | DateType => true
    case _                                                      => false
  }
  private val isFloatArray: DataType => Boolean = {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _                                                  => false
  }

  /** What each driver table must minimally provide. Extra columns are fine
    * (the driver may widen tables); missing or mis-typed ones are fatal.
    */
  private val expected: Map[String, Expect] = Map(
    "events" -> Seq(
      "event_id" -> isLong, "ts" -> isTimestampish, "user_id" -> isLong,
      "event_type" -> isString, "value" -> isDouble, "props" -> isString),
    "documents" -> Seq(
      "doc_id" -> isLong, "text" -> isString, "lang" -> isString,
      "source" -> isString, "n_chars" -> isLong),
    "embeddings" -> Seq(
      "vec_id" -> isLong, "embedding" -> isFloatArray, "label" -> isInt),
    "lineitem" -> Seq(
      "l_orderkey" -> isLong, "l_partkey" -> isLong, "l_suppkey" -> isLong,
      "l_linenumber" -> isInt, "l_quantity" -> isDouble,
      "l_extendedprice" -> isDouble, "l_discount" -> isDouble,
      "l_tax" -> isDouble, "l_returnflag" -> isString,
      "l_linestatus" -> isString, "l_shipdate" -> isTimestampish),
    "orders" -> Seq(
      "o_orderkey" -> isLong, "o_custkey" -> isLong,
      "o_orderstatus" -> isString, "o_totalprice" -> isDouble,
      "o_orderdate" -> isTimestampish, "o_orderpriority" -> isString),
    "customer" -> Seq(
      "c_custkey" -> isLong, "c_name" -> isString, "c_nationkey" -> isInt,
      "c_acctbal" -> isDouble, "c_mktsegment" -> isString),
    "supplier" -> Seq(
      "s_suppkey" -> isLong, "s_name" -> isString, "s_nationkey" -> isInt,
      "s_acctbal" -> isDouble),
    "part" -> Seq(
      "p_partkey" -> isLong, "p_name" -> isString, "p_brand" -> isString,
      "p_type" -> isString, "p_size" -> isInt, "p_retailprice" -> isDouble),
    "nation" -> Seq(
      "n_nationkey" -> isInt, "n_name" -> isString, "n_regionkey" -> isInt),
    "region" -> Seq("r_regionkey" -> isInt, "r_name" -> isString)
  )

  /** Fail loudly (one message, all drifted columns) if `df` does not carry
    * the minimal schema graft's queries assume for `name`. Unknown tables
    * pass through unguarded.
    */
  private[graft] def guardSchema(name: String, df: DataFrame): DataFrame = {
    expected.get(name).foreach { cols =>
      val actual = df.schema.map(f => f.name -> f.dataType).toMap
      val problems = cols.flatMap { case (col, ok) =>
        actual.get(col) match {
          case None => Some(s"$col: MISSING (have: ${df.schema.fieldNames.mkString(", ")})")
          case Some(dt) if !ok(dt) => Some(s"$col: unexpected type ${dt.sql}")
          case _ => None
        }
      }
      if (problems.nonEmpty)
        throw new IllegalStateException(
          s"[graft] testdata schema drift in table '$name' — " +
            s"${problems.mkString("; ")}. The driver likely regenerated " +
            "/root/testdata with a new encoding; update graft.sources.Tables.")
    }
    df
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    guardSchema(name, spark.read.schema(schemaOf(spark, path)).parquet(path))
  }

  /** Parquet reader settings that change the schema inferred from a file. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp", "spark.sql.parquet.inferTimestampNTZ.enabled")

  private val inferred =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long, Seq[Option[String]]), StructType]()

  /** The schema Spark infers for the parquet file at `path`, cached on the
    * file's path, modification time and length (and the reader settings
    * that shape inference); a directory of part files is keyed on its
    * entries' latest modification time and total length. Inference runs a
    * Spark job per call; a load of an unchanged file reuses the schema and
    * runs none, and a rewritten file is inferred again.
    */
  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    val files = if (st.isDirectory) st +: fs.listStatus(p).toSeq else Seq(st)
    val key = (st.getPath.toString, files.map(_.getModificationTime).max, files.map(_.getLen).sum,
      inferenceConfs.map(spark.conf.getOption))
    inferred.computeIfAbsent(key, _ => spark.read.parquet(path).schema)
  }

  /** `events.parquet` has shipped with two encodings for `ts` across driver
    * testdata regenerations:
    *
    *   - parquet TIMESTAMP(NANOS): Spark rejects it natively
    *     ([PARQUET_TYPE_ILLEGAL]); with
    *     `spark.sql.legacy.parquet.nanosAsLong=true` (set in
    *     `GraftSession.tune`) it loads as `LongType` epoch-nanos, which we
    *     truncate to micros (data carries no sub-µs component).
    *   - parquet timestamp[us] (no tz): Spark loads `TIMESTAMP_NTZ`; the
    *     session zone is pinned to UTC everywhere, so a cast to
    *     `TimestampType` is epoch-identity and matches the DuckDB oracle.
    *
    * Dispatch on the LOADED type rather than assuming either encoding, so the
    * next regeneration is a no-op instead of 15 red gates.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // `nanosAsLong` is normally set once by GraftSession.tune; heal a bare
    // session ONCE rather than mutating conf on every call (the
    // every-call set was racy in shared sessions) or refusing to run
    if (spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => // nanos-as-long encoding
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType | DateType =>
        // wall-clock → instant is epoch-identity ONLY under a UTC session
        // zone (the testdata/oracle contract, set by GraftSession.tune and
        // every driver main). Heal a bare session here like nanosAsLong
        // above: on a non-UTC JVM the cast would otherwise shift every
        // instant by the zone offset — silently wrong windows, no error.
        if (spark.conf.get("spark.sql.session.timeZone") != "UTC")
          spark.conf.set("spark.sql.session.timeZone", "UTC")
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw
      case other =>
        throw new IllegalStateException(
          s"[graft] events.ts loaded as unsupported type ${other.sql}")
    }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
