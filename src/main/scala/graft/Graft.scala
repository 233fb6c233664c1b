package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Session + table helpers shared by the engine, Verify, Bench and tests. */
object Graft {

  /** Build a local session tuned for this container (32 threads, AQE on).
    * On a real cluster the same conf minus `master` applies; AQE handles
    * skew-joins and shuffle-partition coalescing at 100 TB. */
  def session(appName: String = "graft",
              master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // native expressions (graft_iso8601/graft_duration) on the SQL surface
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // events.parquet carries TIMESTAMP(NANOS); Spark has no nanos type —
      // read as long and rebuild micros in events() below.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Load one testdata table (TESTDATA.md). The testdata files are
    * single-row-group parquet (one split, so map-side work before the
    * first exchange is single-core); the fanout fix for that lives in
    * [[parallelizeMap]] and is applied by the OPERATORS whose map side
    * is compute-heavy, not here — a global scan fanout was measured to
    * tax every plain-projection query ~0.1–0.3 s per table reference
    * (r11-opt bench, 298 queries regressed) for wins that only the
    * heavy operators see. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Fan a frame out to the session's parallelism when (and only when)
    * its current planned partition count falls short — the map-side
    * parallelism guard HEAVY per-row operators (token explodes + hash
    * ladders, per-byte hex replays, md5 resample grids) apply to their
    * input. Self-limiting at scale: a production-sized input already
    * plans ≥ parallelism partitions and the call is a no-op, so this is
    * not a local-mode constant (guide §2.5, unsplittable small input).
    *
    * Deliberately NOT applied globally at [[table]]: an unconditional
    * scan fanout was measured (r11-opt full bench) to cost ~0.1–0.3 s
    * of exchange overhead PER TABLE REFERENCE on the ~300 queries whose
    * map side is a plain projection — column pruning gives each
    * consumer a distinct fanout subtree, so the exchanges don't reuse —
    * while only compute-heavy map sides win. The operators that own
    * such compute opt in here; everything else keeps exchange-free
    * scans. `spark.graft.map.fanout=false` disables. */
  def parallelizeMap(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    // .rdd is illegal on a streaming frame — a future streaming caller
    // gets the unmodified frame, not an AnalysisException
    if (df.isStreaming) df
    else if (!spark.conf.get("spark.graft.map.fanout", "true").toBoolean) df
    else {
      val par = spark.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions < par) df.repartition(par) else df
    }
  }

  /** Conditional small-file fanout for single-file readers (CsvIngest
    * applies it after `_row_id` capture). No-op unless the file is a
    * regular file whose estimated split count cannot reach the
    * session's parallelism and whose size exceeds `minBytesConf`. */
  def fanOutSmallScan(df: DataFrame, spark: SparkSession,
      path: String): DataFrame = {
    if (!spark.conf.get("spark.graft.scan.fanout", "true").toBoolean) df
    else {
      val p = java.nio.file.Paths.get(path)
      if (!java.nio.file.Files.isRegularFile(p)) df
      else {
        val size = java.nio.file.Files.size(p)
        def bytes(s: String): Long =
          org.apache.spark.network.util.JavaUtils.byteStringAsBytes(s)
        val minBytes = bytes(
          spark.conf.get("spark.graft.scan.fanoutMinBytes", "256k"))
        val maxSplit = bytes(
          spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
        val par = spark.sparkContext.defaultParallelism
        val estSplits = (size + maxSplit - 1) / math.max(maxSplit, 1L)
        if (size >= minBytes && estSplits < par) df.repartition(par) else df
      }
    }
  }

  /** events table with `ts` normalized to a micros TimestampType (LTZ)
    * regardless of the physical parquet shape. The testdata has shipped
    * `ts` as TIMESTAMP(NANOS) (read as long via nanosAsLong) and as
    * Timestamp(isAdjustedToUTC=false, micros) (read as TIMESTAMP_NTZ) across
    * regenerations; downstream queries do epoch math (`unix_micros`,
    * `cast(... as bigint)`) that is NTZ-illegal, so all shapes funnel to LTZ
    * here — never patch the individual queries for a type drift. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = table(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer division: Column./ is DOUBLE division, and epoch nanos
        // (~1.7e18) exceed double's 53-bit mantissa — `div` keeps exact longs
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // session TZ is UTC, so the wall-clock reading equals the instant
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  /**
   * Empty-string ≙ null normal form used by every validation / normalization
   * operator: the reference treats null and "" interchangeably
   * (`crates/tss-submit/src/validate/column_reader.rs:93-107`).
   */
  def txt(c: Column): Column = trim(coalesce(c.cast("string"), lit("")))

  /** Null-or-blank predicate in the same normal form. */
  def isBlank(c: Column): Column = txt(c) === ""

  /** Reference to a column by its verbatim name. Source headers are user
    * data: a dot (`VISIT.NAME`) or backtick is part of the name, never a
    * struct path, so the name is quoted before Spark parses it. */
  def srcCol(name: String): Column = col("`" + name.replace("`", "``") + "`")
}
