package graft

import graft.transforms.MetaParquet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column
import org.apache.spark.sql.types.DecimalType

/** Test-table access. Driver-generated parquet lives at `$sfDir/<name>.parquet`
  * (see /root/repo/TESTDATA.md). Views are registered per (session, dir) so the
  * delegated-SQL surface (`spark.sql`) works exactly like the reference's GLOBAL
  * SQLite database (reference: compiler.go:20-21) — but distributed.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") {
      // events.ts has varied by generator version: TIMESTAMP(NANOS) (which
      // Spark only reads as a raw int64 via nanosAsLong) or TIMESTAMP(MICROS)
      // isAdjustedToUTC=false (read natively as TIMESTAMP_NTZ). Normalize
      // both to microsecond TimestampType — sessions run UTC, so the NTZ →
      // instant reinterpretation preserves the wall-clock values the DuckDB
      // oracle sees. Oracle side uses CAST(ts AS TIMESTAMP) either way.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = MetaParquet.scan(spark, s"$sfDir/$name.parquet")
      raw.withColumn("ts", tsColumn(raw.schema("ts").dataType))
        .select(raw.columns.map(col): _*)
    } else MetaParquet.scan(spark, s"$sfDir/$name.parquet")
  }

  /** Normalize the events `ts` physical encoding to microsecond
    * TimestampType. Shared by this batch loader and the streaming reader
    * (StreamingQ.eventsStream) so the two paths cannot drift when the
    * generator's encoding changes again.
    */
  def tsColumn(dt: org.apache.spark.sql.types.DataType): Column = dt match {
    case org.apache.spark.sql.types.LongType =>
      expr("timestamp_micros(ts div 1000)") // raw nanos
    case org.apache.spark.sql.types.TimestampType => col("ts")
    case _ => col("ts").cast("timestamp") // TIMESTAMP_NTZ (micros); UTC
  }

  /** Register all tables as temp views; cheap (schema-only) and idempotent. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))

  /** Cast through DECIMAL(18,2) so sums are exact and associative — the same
    * value in any summation order, on any partitioning, in Spark and in the
    * DuckDB oracle. Raw double sums differ in the last bits between engines
    * (non-associative FP), which would fail the driver's hash compare; at
    * 100 TB the partial-aggregation order is nondeterministic anyway, so
    * money-typed math *must* be decimal for reproducible results.
    */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Exact decimal sum surfaced as double (stable column type for the oracle). */
  def dsum(c: Column): Column = sum(dec2(c)).cast("double")

  /** Total bytes under a path (0 when absent) — the artifact-size audit
    * the scale harnesses (BandScale, AnnScale) report; one definition so
    * a fix applies everywhere.
    */
  def dirBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }
}
