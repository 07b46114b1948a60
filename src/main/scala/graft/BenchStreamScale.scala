package graft

/** Rate-calibrated scale measurement for the streaming ingest-mix
  * monitor (st16; VERDICT r15 #4): drives the SAME bounded-state
  * aggregation (per-source doc counts + token mass, complete-mode
  * memory sink) over input directories that differ by a decade —
  * in file count, in bytes per file, or both — with
  * `maxFilesPerTrigger` FIXED, so micro-batch choreography is held
  * constant and the only variable is data volume. The monitor's
  * state is O(sources) regardless of volume, so the honest scale
  * claim is: total time grows ~linearly with input, rows/sec stays
  * ~flat, and the final state row count does not move.
  *
  * Streaming-gate caveat (the total_stream_gate_s split's reason):
  * each measurement pays fixed micro-batch scheduling cost per
  * trigger; at a small files-per-trigger the choreography dominates
  * small inputs and deflates their rows/sec — compare decades at the
  * same trigger size only.
  *
  * Usage (env): SPARK_GRAFT_STREAM_DIRS="label=dir,label=dir,..."
  * (each dir a parquet directory of documents parts),
  * SPARK_GRAFT_STREAM_MAXFILES (default 4), SPARK_GRAFT_STREAM_N
  * (default 3). Prints one JSON line.
  */
object BenchStreamScale {
  def main(args: Array[String]): Unit = {
    val dirs = sys.env.getOrElse("SPARK_GRAFT_STREAM_DIRS",
      sys.error("SPARK_GRAFT_STREAM_DIRS is required"))
      .split(",").map(_.trim).filter(_.nonEmpty)
      .map { kv => val Array(k, v) = kv.split("=", 2); (k, v) }.toSeq
    val maxFiles = sys.env.getOrElse("SPARK_GRAFT_STREAM_MAXFILES", "4")
    val iters = sys.env.getOrElse("SPARK_GRAFT_STREAM_N", "3").toInt
    val spark = GraftSession("graft-bench-stream-scale")
    import org.apache.spark.sql.functions._

    def runOnce(label: String, dir: String, rep: Int): (Double, Long, Long, Long) = {
      val schema = spark.read.parquet(dir).schema
      val tbl = s"st16_scale_${label}_$rep"
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", maxFiles).parquet(dir)
      val agg = stream
        .selectExpr("source",
          "cast(size(filter(split(text, '[ ]+'), x -> x != '')) as bigint)" +
            " AS nt")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      val t0 = System.nanoTime()
      val q = agg.writeStream.outputMode("complete").format("memory")
        .queryName(tbl).start()
      val batches = try { q.processAllAvailable(); q.recentProgress.length.toLong }
        finally q.stop()
      val dt = (System.nanoTime() - t0) / 1e9
      val state = spark.table(tbl)
        .agg(count(lit(1)).as("sources"), sum(col("n_docs")).as("docs"))
        .collect().head
      spark.catalog.dropTempView(tbl)
      (dt, state.getLong(0), state.getLong(1), batches)
    }

    def r(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val lines = dirs.map { case (label, dir) =>
      var best = Double.MaxValue
      var meta = (0L, 0L, 0L)
      for (rep <- 1 to iters) {
        val (dt, sources, docs, batches) = runOnce(label, dir, rep)
        System.err.println(f"[stream-scale] $label rep $rep: $dt%.2fs " +
          f"docs=$docs sources=$sources batches=$batches")
        if (dt < best) { best = dt; meta = (sources, docs, batches) }
      }
      val (sources, docs, batches) = meta
      s""""$label":{"sec":${r(best)},"docs":$docs,"sources":$sources,""" +
        s""""batches":$batches,"rows_per_sec":${r(docs / best)}}"""
    }
    spark.stop()
    println(s"""{"max_files_per_trigger":$maxFiles,"n":$iters,""" +
      s""""dirs":{${lines.mkString(",")}}}""")
  }
}
