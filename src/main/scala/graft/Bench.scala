package graft

object Bench {
  /** The stdout contract keys each query on its short id (the prefix
    * before the first underscore) to stay under the harness's
    * 2000-char tail capture; names with no numeric id keep their full
    * name. Shared with RegistrySpec so the uniqueness test exercises
    * THIS derivation, not a copy. */
  def shortId(name: String): String = {
    val id = name.takeWhile(_ != '_')
    if (id.matches("[a-z]+\\d+")) id else name
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession("graft-bench")

    // untimed warmup: JIT/codegen/scheduler/FS init would otherwise be
    // billed to whichever query runs first — including first-use
    // compilation of the regex tokenizer, higher-order-function
    // codegen, and the native hash expressions (warmed on 50-row
    // samples; no sf-scale data is touched untimed)
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, sfDir).limit(10).collect()
    locally {
      import graft.operators.TextOps
      Tables.documents(spark, sfDir).limit(50)
        .selectExpr(s"${TextOps.tokens("text")} AS t")
        .selectExpr(s"${TextOps.shingles("t", 3)} AS s", "t")
        .selectExpr(
          s"array_distinct(transform(s, x -> ${TextOps.strHash60("x")})) AS hs",
          s"${TextOps.minhashSig(s"${TextOps.hashAll("t")}", 16)} AS sig",
          s"${TextOps.simhash60(s"transform(t, x -> ${TextOps.strHash60("x")})")} AS sh")
        .selectExpr(s"${TextOps.foldHash("hs")}", "sig", "sh").collect()
      Tables.embeddings(spark, sfDir).limit(50)
        .selectExpr("transform(embedding, x -> cast(x as double)) AS v")
        .selectExpr(s"${graft.operators.Similarity.lshBucketExpr("v", 18)} AS b",
          "aggregate(zip_with(v, v, (x, y) -> x * y), cast(0 as double), (acc, p) -> acc + p) AS d")
        .collect()
    }

    // n>=3 iterations, report per-query MIN (the steady-state number a
    // warmed executor fleet would see; local[32] single runs carry
    // 1.3-1.4x JIT/GC noise that made round-over-round drift
    // unattributable — VERDICT r2 #5)
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_N", "3").toInt

    // fixed calibration anchor (VERDICT r8 #4): an sf-INDEPENDENT
    // CPU+shuffle-bound workload whose definition never changes across
    // rounds, so BENCH_r*.json totals can be drift-normalized
    // (query_rN / calib_rN vs query_rM / calib_rM) instead of asserting
    // "the box got slower". Runs before AND after the sweep — the two
    // mins also bound within-run drift (GC/thermal) — and is excluded
    // from the headline total.
    def calibOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 20000000L, 1, 32)
        .selectExpr("id % 9973 AS k", "(id * 2654435761) % 1000003 AS h")
        .groupBy("k").agg(org.apache.spark.sql.functions.sum("h").as("sh"),
          org.apache.spark.sql.functions.count("*").as("n"))
        .selectExpr("sum(sh) AS s", "sum(n) AS m").collect()
      (System.nanoTime() - t0) / 1e9
    }
    // converge the anchor BEFORE timing (VERDICT r9 #3): r9 measured
    // pre=2.751s vs post=0.580s — the box is ~4.7x slower at sweep
    // start, so a fixed warmup under-warms and whichever queries run
    // first eat the cold window. Repeat the anchor until two
    // consecutive runs agree within 10% (bounded at 12 attempts so a
    // genuinely noisy box can't spin forever).
    def calibConverged(): (Double, Int) = {
      var prev = calibOnce()
      var cur = calibOnce()
      var n = 2
      while (n < 12 && math.abs(cur - prev) / math.max(cur, prev) > 0.10) {
        prev = cur; cur = calibOnce(); n += 1
      }
      (math.min(prev, cur), n)
    }
    val (calibPre, calibWarmRuns) = calibConverged()
    System.err.println(f"[bench] calib converged after $calibWarmRuns runs: $calibPre%.3fs")
    // per-rep SEEDED random query order (VERDICT r9 #3): with a fixed
    // alphabetical order any residual drift inflates one alphabet
    // range systematically (r9's c01 regression was exactly this).
    // A different deterministic permutation per rep means no query
    // sits in the same thermal/GC window every rep, so the per-query
    // MIN over reps is order-debiased while the run stays replayable.
    val reg = SparkEntry.registry.sortBy(_.name)
    val timesByName =
      scala.collection.mutable.Map.empty[String, Vector[(Double, Long, Boolean)]]
    val calibMids = scala.collection.mutable.ArrayBuffer.empty[Double]
    // contention-aware sweep (VERDICT r13 #3): the binding driver sheet
    // has repeatedly manufactured phantom regressions when another
    // process landed on the box mid-sweep (r13: c11/e26/s03/s16 at up
    // to 1.9x their quiet times while the per-rep calib mids read up
    // to 4.7x the converged anchor). The anchor is therefore probed
    // BETWEEN QUERY BLOCKS, each block's observations are flagged
    // `contended` when a bracketing probe exceeds the threshold, and
    // a contended block is re-run once immediately (bounded per rep)
    // so most queries keep at least one clean observation. A query
    // whose EVERY observation was contended is marked
    // "contended":true in BENCH_DETAIL — the mark that tells the
    // judge "re-measure before calling this a regression".
    //
    // Threshold calibration (measured on a quiet box, r14): the
    // probe right after a heavy block reads 1.5-2.5x the best anchor
    // from the JVM's OWN GC/JIT state — working-state probes sit at
    // median ~2x idle with a tail to ~3x — so a naive 1.5x-of-best
    // cutoff flags the whole registry. TRANSIENT external contention
    // (the r13 pattern) reads 2x the working-state median and 4x+
    // idle. Flag above max(1.75x the run's rolling probe MEDIAN,
    // 2.5x the best anchor): zero false flags on a quiet run, fires
    // on the r13-magnitude mid-sweep intruder. WHOLE-RUN contention
    // cannot be self-detected (the median inflates with it) — that
    // case stays visible as calib.best vs the cross-round anchor
    // history, which the artifact records for exactly this purpose.
    var calibBest = calibPre
    def probe(): Double = {
      val v = calibOnce(); calibMids += v
      calibBest = math.min(calibBest, v); v
    }
    def probeMedian(): Double = {
      val s = calibMids.sorted
      if (s.isEmpty) calibPre else s(s.length / 2)
    }
    def contThreshold(): Double =
      math.max(1.75 * probeMedian(), 2.5 * calibBest)
    val rerunCapPerRep = 4
    def timeOne(q: graft.queries.QueryDef): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = try {
        val df = q.run(spark, sfDir)
        // free the iteration's operator-result checkpoint blocks
        // (dedup/similarity operators materialize-and-release their
        // intermediates internally now; the RESULT blocks are the
        // caller's to release) so storage doesn't accumulate across
        // the registry and evict/thrash later queries — release in
        // a finally so a failing count() can't leak them for the
        // rest of the run (clearCache() only clears CacheManager
        // entries, never checkpoint blocks).
        // NOTE: since round 8 every iteration pays the full
        // signature recompute — operators no longer leave a warm
        // cache behind — so per-query min is the true cold-run cost.
        try df.count()
        finally graft.operators.Storage.release(df)
      } catch { case _: Throwable => -1L }
      ((System.nanoTime() - t0) / 1e9, n)
    }
    def record(obs: Seq[(graft.queries.QueryDef, Double, Long)],
        contended: Boolean): Unit =
      obs.foreach { case (q, dt, n) =>
        timesByName(q.name) =
          timesByName.getOrElse(q.name, Vector()) :+ ((dt, n, contended))
      }
    for (rep <- 1 to iters) {
      val order = new scala.util.Random(0x9E3779B97F4A7C15L + rep).shuffle(reg)
      var prevProbe = probe()
      var reruns = 0
      for (block <- order.grouped(24)) {
        def runBlock() = block.map { q => val (dt, n) = timeOne(q); (q, dt, n) }
        val obs = runBlock()
        val post = probe()
        val thr = contThreshold()
        val contended = math.max(prevProbe, post) > thr
        record(obs, contended)
        if (contended && reruns < rerunCapPerRep) {
          reruns += 1
          System.err.println(f"[bench] rep $rep block '${block.head.name}'.. " +
            f"contended (probes $prevProbe%.3f/$post%.3f vs threshold " +
            f"$thr%.3f, anchor $calibBest%.3f) - re-running once")
          val pre2 = probe()
          val obs2 = runBlock()
          val post2 = probe()
          record(obs2, math.max(pre2, post2) > contThreshold())
          prevProbe = post2
        } else prevProbe = post
      }
      spark.catalog.clearCache()
    }
    val results = reg.map { q =>
      val times = timesByName(q.name)
      // min over ALL observations (contention only inflates times, so
      // a contended min is still valid); med over CLEAN observations
      // only when at least one exists — a contended sample alongside
      // the clean re-run would otherwise skew median-based jitter
      // reporting upward (r14 ADVICE)
      val best = times.map(_._1).min
      val cleanTimes = times.filter(!_._3)
      val medBasis = if (cleanTimes.nonEmpty) cleanTimes else times
      val med = medBasis.map(_._1).sorted.apply(medBasis.length / 2)
      // contended = NO clean observation exists for this query (every
      // rep + any re-run ran inside a flagged block)
      val contended = cleanTimes.isEmpty
      System.err.println(
        f"[bench] ${q.name}%-28s min=$best%7.2fs med=$med%7.2fs rows=${times.head._2}" +
          (if (contended) " CONTENDED" else ""))
      (q.name, best, med, times.head._2, contended)
    }
    def r(v: Double, scale: Int): String = {
      val s = BigDecimal(v).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toString
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').stripPrefix(".").reverse else s
    }
    // env-provided paths go into JSON strings — escape them (a quote
    // or backslash in SPARK_GRAFT_SF_DIR would otherwise break the
    // very parse this line exists for)
    def js(v: String): String =
      v.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
    val calibPost = (1 to iters).map(_ => calibOnce()).min
    val calib = math.min(calibPre, calibPost)
    System.err.println(
      f"[bench] calib pre=$calibPre%.3fs post=$calibPost%.3fs min=$calib%.3fs " +
        s"mids=${calibMids.map(v => f"$v%.3f").mkString(",")}")
    val total = results.map(_._2).sum
    val contendedNames = results.collect { case (k, _, _, _, true) => k }
    // batch vs streaming-gate subtotals (VERDICT r11 #3): the st*
    // gates each restart a real Structured Streaming query several
    // times (processAllAvailable + checkpoint replay) — fixed
    // micro-batch choreography, not data work — and at ~35% of the
    // headline total they obscured the flat batch trend round over
    // round. Split so both trends read independently.
    val isStreamGate = (name: String) => name.matches("st\\d+_.*")
    val totalStream = results.collect { case (k, best, _, _, _) if isStreamGate(k) => best }.sum
    val totalBatch = total - totalStream
    // full-fidelity per-query record (full names, min+median, rows,
    // iteration count) goes to a FILE — the stdout tail capture is
    // 2000 chars, which the 75-query full-name map outgrew in round 5
    // (the line head was truncated and the harness parse failed)
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "BENCH_DETAIL.json")
    val detail = results.map { case (k, best, med, rows, cont) =>
      s""""$k":{"min":${r(best, 3)},"med":${r(med, 3)},"rows":$rows${
        if (cont) ""","contended":true""" else ""}}"""
    }.mkString("{", ",", "}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(detailPath),
      s"""{"metric":"total","value":${r(total, 3)},"unit":"sec","total_batch_s":${r(totalBatch, 3)},"total_stream_gate_s":${r(totalStream, 3)},"n":$iters,"sf":"${js(sfDir)}","contended_queries":[${contendedNames.map("\"" + _ + "\"").mkString(",")}],"calib":{"pre":${r(calibPre, 3)},"post":${r(calibPost, 3)},"best":${r(calibBest, 3)},"warm_runs":$calibWarmRuns,"mids":[${calibMids.map(r(_, 3)).mkString(",")}]},"queries":$detail}\n"""
        .getBytes("UTF-8"))
    // collisions fall back to the full name so the map is always 1:1
    // with the registry (see shortId)
    val shortIds = results.map { case (k, _, _, _, _) => k -> shortId(k) }
    val counts = shortIds.groupBy(_._2).map { case (id, g) => id -> g.size }
    val keyed = shortIds.map { case (k, id) => k -> (if (counts(id) > 1) k else id) }.toMap
    // The harness captures only the LAST 2000 chars of stdout —
    // BENCH_r10's tail was truncated mid-line (parsed: null) once the
    // full 229-query map outgrew it, and the judge had to fall back
    // to the detail file. Fit-to-budget instead: emit the most
    // expensive queries first and trim until the WHOLE line fits in
    // the capture window; every query's min+med always lives in the
    // detail file referenced by "detail".
    // jitter visibility (VERDICT r10 #8): med alongside min for
    // top-20-by-min lines whose med/min spread exceeds 1.2
    val medLines = results.sortBy(-_._2).take(20)
      .filter { case (_, best, med, _, _) => best > 0 && med / best > 1.2 }
      .map { case (k, _, med, _, _) => "\"" + keyed(k) + "\":" + r(med, 2) }
    val medJson =
      if (medLines.isEmpty) "" else s""","med":${medLines.mkString("{", ",", "}")}"""
    val byCost = results.sortBy(-_._2)
      .map { case (k, best, _, _, _) => "\"" + keyed(k) + "\":" + r(best, 2) }
    def line(n: Int): String = {
      val qs = byCost.take(n).mkString("{", ",", "}")
      s"""{"metric":"total","value":${r(total, 3)},"unit":"sec","total_batch_s":${
        r(totalBatch, 3)},"total_stream_gate_s":${r(totalStream, 3)},"calib":${
        r(calib, 3)},"n_queries":${results.size},"n_contended":${contendedNames.size},"queries":$qs$medJson,"sf":"${
        js(sfDir)}","detail":"${js(detailPath)}"}"""
    }
    // The harness's 2000-char tail window also swallows sbt's
    // trailing "[success] Total time ..." line (~75 chars), so a
    // 1990-char line still truncates at its HEAD and parses as null
    // (BENCH_r13..r15). Budget BOTH lines + the sbt trailer into the
    // window: a ~1600-char top-queries line first, then a short
    // totals-only summary line LAST — whichever line the driver's
    // tail parse lands on is complete.
    val summary =
      s"""{"metric":"total","value":${r(total, 3)},"unit":"sec","total_batch_s":${
        r(totalBatch, 3)},"total_stream_gate_s":${r(totalStream, 3)},"calib":${
        r(calib, 3)},"n_queries":${results.size},"n_contended":${contendedNames.size},"sf":"${
        js(sfDir)}","detail":"${js(detailPath)}"}"""
    var keep = byCost.size
    while (keep > 1 && line(keep).length > 1990 - summary.length - 85) keep -= 1
    spark.stop()
    println(line(keep))
    println(summary)
  }
}
