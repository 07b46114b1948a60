package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md). */
object Tables {

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // make the engine's native expressions available wherever tables are
    graft.functions.CassFunctions.registerAll(spark)
    spark.read.parquet(s"$dir/$name.parquet")
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.parquet has shipped `ts` two ways across testdata
    * generations: TIMESTAMP(NANOS) (which Spark 4 refuses by default;
    * [[GraftSession]] reads it as long, truncated here to µs, matching
    * DuckDB's internal µs timestamps) and plain TIMESTAMP(MICROS) (which
    * Spark reads natively as TIMESTAMP_NTZ). Adapt to whichever is
    * on disk and normalize to the session-TZ TimestampType every
    * downstream operator and oracle was validated against. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => df
      case _ => df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
