package graft

import org.apache.spark.sql.SparkSession

/** The one session every entry point builds (`Main`, `Bench`, `Verify`,
  * `Plans` and the scale harnesses), so the conf the bench and the gates
  * measure is the conf users run — the reference likewise builds one
  * engine from one entry point (cmd/main.go:17-28).
  */
object GraftSession {

  /** Local cores (`SPARK_GRAFT_CPUS`, default 32): the local master's
    * thread count and the shuffle partition count.
    */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** `master` is the only deployment setting; `Main` reads it from
    * `SPARK_MASTER`, every dev tool runs locally on [[cpus]] cores.
    */
  def apply(master: String = s"local[$cpus]"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      // Explicit-cell-path reads (stored-index probes, incremental
      // stats recounts) pass ≤ `cells` directories per read; above this
      // threshold Spark schedules a distributed listing JOB (~0.2 s of
      // fixed latency at microbatch scale) where a driver-side listing
      // is microseconds per directory on local/HDFS namenodes. 1024
      // covers every artifact geometry the gates build; deployments
      // with larger cell counts on object stores should lower it (or
      // commit a manifest, which skips listing entirely).
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        "1024")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
