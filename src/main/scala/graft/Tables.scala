package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated TPC-H-ish test tables (TESTDATA.md).
  * One parquet file per table under a scale-factor directory.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session configs every graft session needs. `nanosAsLong`: older
    * driver testdata stored `events.ts` as parquet TIMESTAMP(NANOS),
    * which Spark only reads via this legacy conf (as a nanos long);
    * [[load]] converts it back to a microsecond timestamp, matching
    * engines (DuckDB, pyarrow→us) that truncate ns→us on read.
    * `inferTimestampNTZ=false`: current testdata stores `ts` as
    * TIMESTAMP(isAdjustedToUTC=false, MICROS); with inference off
    * Spark reads it as session-TZ TIMESTAMP, and under the UTC session
    * the wall-clock values match the oracle's naive-timestamp
    * semantics exactly. (The Avro source supports genuine NTZ columns
    * via local-timestamp-micros — see AvroFiles.sparkType — this conf
    * only pins how *parquet* naive timestamps enter the engine.)
    */
  val sessionConfigs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    // let AQE coalesce the output partitioning of persisted plans the
    // same way it does un-persisted ones: the incremental-publish /
    // ledger-merge paths persist their (small) deltas, and without
    // this every cached read fans back out to the full
    // spark.sql.shuffle.partitions task count regardless of size —
    // scale-adaptive in both directions, not a local-core-count tune
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")

  /** The local session every main and spec runs on: `local[cpus]`,
    * `cpus` shuffle partitions, no UI, every [[sessionConfigs]] entry
    * and then `conf`. `getOrCreate`, so a second call returns the live
    * session (and `conf` only takes effect on the first).
    */
  def session(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      conf: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]").appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    (sessionConfigs ++ conf).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    val withTs =
      if (name == "events" && df.schema("ts").dataType == LongType)
        // integer div, not double (ns since epoch exceeds double's 2^53)
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else df
    // Defensive boundary normalization for sessions built without
    // sessionConfigs: naive parquet timestamps → session-TZ TIMESTAMP
    // (a wall-clock-preserving cast under the UTC session).
    withTs.schema.fields.filter(_.dataType == TimestampNTZType)
      .foldLeft(withTs)((d, f) => d.withColumn(f.name, col(f.name).cast(TimestampType)))
  }

  // Gates that stream events.parquet RAW (file-stream sources, watermark
  // pushdown on the native column) must handle every ts encoding the
  // driver has shipped: INT64 nanos (legacy, read as long under
  // nanosAsLong), naive TIMESTAMP micros (current; TIMESTAMP under the
  // inferTimestampNTZ=false conf, NTZ without it).

  /** SQL expression converting the raw on-disk `ts` encoding to a
    * session-TZ TIMESTAMP at microsecond precision.
    */
  def tsExpr(dt: DataType): String = dt match {
    case LongType         => "timestamp_micros(ts div 1000)" // integer div: ns > 2^53
    case TimestampNTZType => "cast(ts as timestamp)"
    case _                => "ts"
  }

  /** Same, truncated to millisecond precision (session-window gates pin
    * ms precision so the watermark cutoff has no sub-ms edge).
    */
  def tsMillisExpr(dt: DataType): String = dt match {
    case LongType         => "timestamp_millis(ts div 1000000)"
    case TimestampNTZType => "timestamp_millis(unix_micros(cast(ts as timestamp)) div 1000)"
    case _                => "timestamp_millis(unix_micros(ts) div 1000)"
  }
}
