package graft

/** Targeted quiet-box re-measure (the r12/r13 watch-list discipline,
  * VERDICT r15 #2/#6 this round): times a comma-separated list of
  * registered queries n times at one SF dir and prints a single JSON
  * line with per-query min/med — the evidence format the watch-list
  * entries in COVERAGE.md quote. Unlike the full Bench sweep this
  * touches nothing else on the box, so it is the right tool for
  * settling "did query X regress or was the sheet noisy".
  *
  * Usage (env): SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  * SPARK_GRAFT_BENCH_N (default 6),
  * SPARK_GRAFT_BENCH_QUERIES (comma-separated full names, required).
  */
object BenchQuick {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_N", "6").toInt
    val names = sys.env.getOrElse("SPARK_GRAFT_BENCH_QUERIES",
      sys.error("SPARK_GRAFT_BENCH_QUERIES is required"))
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val spark = GraftSession("graft-bench-quick")

    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    val qdefs = names.map(n => byName.getOrElse(n,
      throw new IllegalArgumentException(s"unknown query $n")))

    // converge the calibration anchor before timing (Bench's rule)
    def calibOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 20000000L, 1, 32)
        .selectExpr("id % 9973 AS k", "(id * 2654435761) % 1000003 AS h")
        .groupBy("k").agg(org.apache.spark.sql.functions.sum("h").as("sh"),
          org.apache.spark.sql.functions.count("*").as("n"))
        .selectExpr("sum(sh) AS s", "sum(n) AS m").collect()
      (System.nanoTime() - t0) / 1e9
    }
    var prev = calibOnce(); var cur = calibOnce(); var warm = 2
    while (warm < 12 && math.abs(cur - prev) / math.max(cur, prev) > 0.10) {
      prev = cur; cur = calibOnce(); warm += 1
    }
    val calib = math.min(prev, cur)
    System.err.println(f"[quick] calib converged after $warm runs: $calib%.3fs")

    val times = scala.collection.mutable.Map.empty[String, Vector[Double]]
    for (rep <- 1 to iters) {
      val order = new scala.util.Random(0xB5C0FFEEL + rep).shuffle(qdefs)
      for (q <- order) {
        val t0 = System.nanoTime()
        val df = q.run(spark, sfDir)
        val n = try df.count() finally graft.operators.Storage.release(df)
        val dt = (System.nanoTime() - t0) / 1e9
        times(q.name) = times.getOrElse(q.name, Vector()) :+ dt
        System.err.println(f"[quick] rep $rep ${q.name}%-26s $dt%7.2fs rows=$n")
        spark.catalog.clearCache()
      }
    }
    val calibPost = calibOnce()
    def r(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val body = qdefs.map { q =>
      val ts = times(q.name).sorted
      s""""${q.name}":{"min":${r(ts.head)},"med":${r(ts(ts.length / 2))},"n":$iters}"""
    }.mkString(",")
    spark.stop()
    println(s"""{"sf":"$sfDir","calib":{"pre":${r(calib)},"post":${
      r(calibPost)}},"queries":{$body}}""")
  }
}
