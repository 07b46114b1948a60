package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session conf every entry point and test suite runs
  * under, so correctness is proven under the conf the bench measures.
  *
  *  - `SPARK_GRAFT_CPUS` sets the core count; the master is
  *    `local[cores]` unless `SPARK_MASTER` names a deployment, and the
  *    shuffle-partition count follows the cores;
  *  - AQE coalescing floor 256k: the default 1m put CPU-heavy mid-size
  *    stages (e.g. d02's capped-collect pair fan-out reading a 4.3 MB
  *    exchange) on 4 of 32 cores; at production shuffle sizes the
  *    advisory target dominates and the floor is irrelevant;
  *  - UTC session time zone, no UI, WARN logging;
  *  - parquet TIMESTAMP(NANOS) reads as long, the encoding some
  *    events.parquet generations ship ([[Tables.events]] truncates it
  *    to µs). */
object GraftSession {

  /** Core count from `SPARK_GRAFT_CPUS`; unset, blank or non-positive
    * values fall back to 32. */
  private[graft] def cpusFromEnv(get: String => Option[String]): Int = {
    val raw = get("SPARK_GRAFT_CPUS").map(_.trim).filter(_.nonEmpty)
    raw.flatMap(v => scala.util.Try(v.toInt).toOption).filter(_ > 0)
      .getOrElse(32)
  }

  /** `configure` exists for the suites that test the
    * `spark.sql.extensions` path itself. */
  def apply(appName: String,
      configure: SparkSession.Builder => SparkSession.Builder = identity): SparkSession = {
    val cores = cpusFromEnv(sys.env.get)
    val spark = configure(SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cores]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
