package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** 100 TB plan-shape assertions: the claims in COVERAGE.md enforced as
  * tests, so a regression that silently de-broadcasts a dim join,
  * breaks scan pruning, or introduces a cartesian product fails CI —
  * not just a per-round manual `.explain` read. */
class PlanAuditSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = TestUtil.session()

  /** final (post-AQE) physical plan string. */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  /** Exchanges that move DATA for the computation, excluding the
    * round-16 parallelism floor's round-robin repartition
    * (Storage.parallelFloor): the floor only fires when the input
    * plans to fewer partitions than the session's cores (always true
    * for this suite's tiny in-memory frames, never true for a real
    * 100 TB scan), so map-only shape audits must not count it as a
    * shuffle the algorithm needs. The exclusion is bounded (r16
    * ADVICE): callers additionally assert AT MOST ONE round-robin
    * exchange via [[roundRobinExchanges]], so an unintended
    * repartition() introduced anywhere else in the plan still fails
    * the shape audit rather than hiding behind the floor's
    * allowance. */
  private def dataExchanges(plan: String): Int =
    "Exchange".r.findAllIn(plan).length - roundRobinExchanges(plan)

  private def roundRobinExchanges(plan: String): Int =
    "Exchange RoundRobinPartitioning".r.findAllIn(plan).length

  /** true iff some exchange hash-partitions on a value-range bucket
    * column — `b` for inline decompositions, `__b` for the shared
    * [[graft.operators.Curate.bucketedCumsum]] helper (ADVICE r11).
    * Matches the exact attribute (`b#12` / `__b#12`), not the prefix
    * "b", which unrelated columns (bk, bucket_p, bcnt...) satisfied
    * vacuously (ADVICE r12). */
  private def bucketKeyed(plan: String): Boolean =
    "hashpartitioning\\((__)?b#".r.findFirstIn(plan).isDefined

  test("star join broadcasts every dim; fact side is never broadcast") {
    val plan = finalPlan(queries.Relational.q06.run(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), "dims must broadcast")
    assert(!plan.contains("CartesianProduct"))
  }

  test("top-k compiles to TakeOrderedAndProject (no full sort)") {
    val plan = finalPlan(queries.Relational.q16.run(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$plan")
  }

  test("parquet scan prunes columns and pushes filters") {
    import org.apache.spark.sql.functions.col
    val df = Tables.lineitem(spark, sfDir)
      .filter(col("l_quantity") > 49).select("l_orderkey", "l_quantity")
    val plan = finalPlan(df)
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,49"),
      s"filter must reach the parquet scan:\n$plan")
    val readSchema = plan.split("ReadSchema:").last
    assert(readSchema.contains("l_orderkey") && !readSchema.contains("l_extendedprice"),
      "scan must read only the projected columns")
  }

  test("similarity/dedup candidate generation never plans a cartesian product") {
    import graft.operators.{Dedup, Similarity}
    val docs = Tables.documents(spark, sfDir)
    // the cached operators materialize-and-release internally since
    // round 8, so the interesting candidate plans are audited through
    // their lazy pre-checkpoint builders
    val d02 = finalPlan(Dedup.ngramJaccardPairsFrom(
      Dedup.shingleHashSets(docs, "text", 3), 0.5, 64))
    assert(!d02.contains("CartesianProduct"), "n-gram candidates must be an equi-join/agg")
    val d03 = finalPlan(Dedup.minhashLshPairsFrom(
      Dedup.minhashSignatures(docs, "text", 3, 16), 16, 4, 0.5))
    assert(!d03.contains("CartesianProduct"), "minhash bands must bucket equi-join")
    val d04 = finalPlan(Dedup.simhashPairsFrom(Dedup.simhashes(docs, "text"), 3))
    assert(!d04.contains("CartesianProduct"), "simhash bands must bucket equi-join")
    val s03 = finalPlan(queries.Pipeline.s03.run(spark, sfDir))
    assert(!s03.contains("CartesianProduct"), "LSH candidates must be a bucket equi-join")
    assert(!s03.contains("collect"), "no driver-side collect operators in the plan")
    // d05 audited through the LAZY pair builder + anti-join composition:
    // the registered query's minhashLshPairs materializes-and-releases
    // internally, so auditing d05.run() would inspect a pre-collapsed
    // LogicalRDD where the candidate join used to be
    val d05 = finalPlan {
      import org.apache.spark.sql.functions.col
      val pairs = Dedup.minhashLshPairsFrom(
        Dedup.minhashSignatures(docs, "text", 3, 16), 16, 4, 0.5)
      docs.join(pairs.select(col("d2").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
    }
    assert(!d05.contains("CartesianProduct"), "d05: pairs + anti-join must stay equi")
    // every other candidate-generating pipeline query, same contract
    Seq(queries.Pipeline.s02, queries.Pipeline.s04, queries.Pipeline.s05,
        queries.Pipeline2.p06).foreach { q =>
      val p = finalPlan(q.run(spark, sfDir))
      assert(!p.contains("CartesianProduct"), s"${q.name}: candidates must be equi-joins")
    }
  }

  test("compaction plan is shuffle-by-key + in-partition sort (no global sort, no aggregation buffers)") {
    val atoms = GraftSSTable.readAtoms(spark,
      "/root/reference/aegisthus-hadoop/src/test/resources/testdata/2.0.10/randomtable/input",
      Map("skipCorrupt" -> "true"))
    val ds = GraftSSTable.compact(atoms, numPartitions = 4)
    val plan = finalPlan(ds.toDF())
    assert(plan.contains("Exchange hashpartitioning(key"), s"must hash-partition by key:\n$plan")
    assert(plan.contains("Sort [key"), "must sort within partitions by (key, name, ts)")
    assert(!plan.contains("Sort [key") || !plan.contains("global=true"),
      "the sort must be partition-local, not global")
    assert(!plan.contains("ObjectHashAggregate") && !plan.contains("SortAggregate"),
      "merge is a streaming iterator, not an aggregation buffer")
  }

  test("typed compaction derives the sort key natively (no ScalaUDF in the shuffle hot path)") {
    import java.nio.ByteBuffer
    import graft.sstable._
    import spark.implicits._
    def longB(v: Long) = ByteBuffer.allocate(8).putLong(v).array()
    val atoms = (1 to 100).map { i =>
      AtomRec(s"k${i % 10}".getBytes, "src", Long.MinValue, SSTableFormat.KindColumn,
        longB(i.toLong), s"v$i".getBytes, Some(i.toLong), None, None, None, null)
    }
    // repartition barrier keeps ConvertToLocalRelation from folding the
    // sort-key projection into the LocalTableScan (a real scan at scale
    // always has one)
    val ds = GraftSSTable.compact(spark.createDataset(atoms).toDF().repartition(2),
      CassType.LongType, numPartitions = 4)
    val plan = finalPlan(ds.toDF())
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"typed sort key must be codegen'd, not a UDF:\n$plan")
    assert(plan.contains("cass_sort_key"), s"expected the native sort-key expression:\n$plan")
  }

  test("repetition analysis (t07) is a map-only pass (no mid-plan shuffle)") {
    val plan = finalPlan(queries.Pipeline.t07.run(spark, sfDir))
    // AQE prints Final and Initial sections — audit the final one only;
    // the only exchange allowed is the final presentation order-by
    val finalSection = plan.split("== Initial Plan ==").head
    val exchanges = "Exchange".r.findAllIn(finalSection).length
    assert(exchanges <= 1, s"t07 must not shuffle before the final sort:\n$plan")
    assert(!plan.contains("ScalaUDF"), "t07 stays native/codegen")
  }

  test("stratified sample (p01) is a map-only filter; heavy hitters (p04) top-k, not a global window") {
    val p01 = finalPlan(queries.Pipeline2.p01.run(spark, sfDir))
    val p01Final = p01.split("== Initial Plan ==").head
    assert("Exchange".r.findAllIn(p01Final).length <= 1,
      s"p01 must not shuffle before the final order-by:\n$p01")
    val p04 = finalPlan(queries.Pipeline2.p04.run(spark, sfDir))
    assert(p04.contains("TakeOrderedAndProject"),
      s"p04 must take top-k before ranking (never rank the full vocabulary):\n$p04")
  }

  test("sequence packing (p03) is one shuffle + partition-local sort (no per-group buffers)") {
    val plan = finalPlan(queries.Pipeline2.p03.run(spark, sfDir))
    assert(plan.contains("Exchange hashpartitioning(lang"),
      s"packing must hash-partition by the group column:\n$plan")
    assert(!plan.contains("ObjectHashAggregate") && !plan.contains("SortAggregate"),
      "packing is a streaming O(1)-state pass, not an aggregation buffer")
  }

  test("passage scrub (p08) is equi-join/window only; lexical diversity (t08) is map-only") {
    val p08 = finalPlan(queries.Pipeline2.p08.run(spark, sfDir))
    assert(!p08.contains("CartesianProduct"),
      s"scrub must never self-join the corpus cartesian:\n$p08")
    assert(!p08.contains("BroadcastNestedLoopJoin"),
      s"scrub joins must stay equi (hash/SMJ):\n$p08")
    val t08 = finalPlan(queries.Pipeline2.t08.run(spark, sfDir))
    val t08Final = t08.split("== Initial Plan ==").head
    assert("Exchange".r.findAllIn(t08Final).length <= 1,
      s"t08 must not shuffle before the final order-by (run-boundary counting " +
        s"is a projection, not an exploded groupBy):\n$t08")
    assert(!t08.contains("ScalaUDF"), "t08 stays native/codegen")
  }

  test("round-5 curation queries keep their scale shapes (t09 map-only, p09 one shuffle, t10/c01 equi-joins)") {
    val t09 = finalPlan(queries.Pipeline3.t09.run(spark, sfDir))
    val t09Final = t09.split("== Initial Plan ==").head
    assert("Exchange".r.findAllIn(t09Final).length <= 1,
      s"PII redaction must not shuffle before the final order-by:\n$t09")
    assert(!t09.contains("ScalaUDF"), "t09 regexes stay native/codegen")
    val p09 = finalPlan(queries.Pipeline3.p09.run(spark, sfDir))
    assert(p09.contains("Exchange hashpartitioning(source"),
      s"domain cap must hash-partition by source (one window shuffle):\n$p09")
    val t10 = finalPlan(queries.Pipeline3.t10.run(spark, sfDir))
    assert(!t10.contains("CartesianProduct"),
      s"tf-idf joins tf to df on the token (the only loop join is the broadcast 1-row n_docs):\n$t10")
    val c01 = finalPlan(queries.Pipeline3.c01.run(spark, sfDir))
    assert(!c01.contains("CartesianProduct"),
      s"component labeling joins must stay equi:\n$c01")
  }

  test("round-6 queries keep their scale shapes (s07 equi-only, q38 no nested loop, t11/s08 map-only)") {
    // semanticDedup materializes-and-releases internally — audit the
    // lazy pre-checkpoint builder
    val s07 = finalPlan(graft.operators.Similarity.semanticDedupFrom(
      graft.operators.Similarity.assignCentroids(
        Tables.embeddings(spark, sfDir), 16), 0.4))
    assert(!s07.contains("CartesianProduct") && !s07.contains("BroadcastNestedLoopJoin"),
      s"semantic-dedup pairs must be an equi-join on the centroid id:\n$s07")
    assert(!s07.contains("DeserializeToObject") && !s07.contains("SerializeFromObject"),
      s"centroid assignment must stay columnar (native graft_centroid_ranks, " +
        s"no typed-lambda Tungsten round-trip):\n$s07")
    val q38 = finalPlan(queries.Pipeline4.q38.run(spark, sfDir))
    assert(!q38.contains("CartesianProduct") && !q38.contains("BroadcastNestedLoopJoin"),
      s"the range join must be the bucketed equi-join, not a nested-loop scan:\n$q38")
    Seq(queries.Pipeline4.t11, queries.Pipeline4.s08).foreach { q =>
      val p = finalPlan(q.run(spark, sfDir))
      val fin = p.split("== Initial Plan ==").head
      assert(dataExchanges(fin) <= 1,
        s"${q.name} is a pure projection — no data shuffle before the final order-by:\n$p")
      assert(roundRobinExchanges(fin) <= 1,
        s"${q.name}: at most the single parallelFloor round-robin above the scan:\n$p")
      assert(!p.contains("ScalaUDF"), s"${q.name} stays native/codegen")
    }
    val d06 = finalPlan(queries.Pipeline4.d06.run(spark, sfDir))
    assert(!d06.contains("CartesianProduct"),
      s"sketch-accuracy joins must stay equi:\n$d06")
    // the whole embedding family: full-corpus passes stay columnar
    Seq(queries.Pipeline.s04, queries.Pipeline3.s06, queries.Pipeline4.s09)
      .foreach { q =>
        val p = finalPlan(q.run(spark, sfDir))
        assert(!p.contains("DeserializeToObject") && !p.contains("SerializeFromObject"),
          s"${q.name}: assignment/coding must stay columnar:\n$p")
      }
  }

  test("ivf top-k plans exactly one hash exchange (window) — no defensive distinct re-shuffle") {
    // round-9: the superfluous distinct() after candidate scoring is
    // gone — the only hash repartitioning left is the per-query top-k
    // window; a reintroduced distinct would add a second one over the
    // full scored candidate set (the avoidable exchange VERDICT r8
    // flagged)
    val plan = finalPlan(queries.Pipeline.s04.run(spark, sfDir))
    val fin = plan.split("== Initial Plan ==").head
    val hashEx = "Exchange hashpartitioning".r.findAllIn(fin).length
    assert(hashEx == 1,
      s"s04 must shuffle once (window partitionBy q_id), found $hashEx:\n$plan")
    assert(!fin.contains("HashAggregate(keys=[q_id"),
      s"no distinct aggregation over scored candidates:\n$plan")
  }

  test("round-8 queries keep their scale shapes (s13 equi-only columnar, t14 top-k, t15 map-only)") {
    // trained-codebook ANN search: candidate generation stays an
    // equi-join on the centroid id and the full-corpus assignment
    // stays columnar (native graft_centroid_ranks)
    val s13 = finalPlan(queries.Pipeline5.s13.run(spark, sfDir))
    assert(!s13.contains("CartesianProduct") && !s13.contains("BroadcastNestedLoopJoin"),
      s"trained-IVF candidates must meet on the centroid id:\n$s13")
    assert(!s13.contains("DeserializeToObject") && !s13.contains("SerializeFromObject"),
      s"trained-codebook assignment must stay columnar:\n$s13")
    // tokenizer vocab: the encode is one flat graft_bpe_apply
    // projection and the top-k never sorts the full vocabulary
    val t14 = finalPlan(queries.Pipeline5.t14.run(spark, sfDir))
    assert(t14.contains("TakeOrderedAndProject"),
      s"vocab top-k must be TakeOrderedAndProject:\n$t14")
    assert(!t14.contains("ScalaUDF") && !t14.contains("DeserializeToObject"),
      s"the encode stays native (graft_bpe_apply, no typed lambda):\n$t14")
    // corpus encode: pure projection — no shuffle at all before the
    // final order-by
    val t15 = finalPlan(queries.Pipeline5.t15.run(spark, sfDir))
    val t15Final = t15.split("== Initial Plan ==").head
    assert(dataExchanges(t15Final) <= 1,
      s"document encode is map-only (merge table rides as a literal):\n$t15")
    assert(roundRobinExchanges(t15Final) <= 1,
      s"t15: at most the single parallelFloor round-robin above the scan:\n$t15")
    assert(!t15.contains("ScalaUDF"), s"t15 stays native/codegen:\n$t15")
  }

  test("round-9 queries keep their scale shapes (s16 join-assignment equi-only, d07 artifact consumers equi-only)") {
    import graft.operators.{Dedup, Similarity}
    val emb = Tables.embeddings(spark, sfDir)
    // the large-codebook assignment: codebook meets the corpus through
    // a broadcast HASH join on the position — never a nested-loop scan
    // — and the argmax is one aggregation, not a window re-shuffle
    val p = Similarity.prepared(emb).select("vec_id", "v", "nrm")
    val cb = Similarity.trainedCodebook(emb, 256, 0)
    val asg = finalPlan(Similarity.assignToJoin(p, cb))
    assert(asg.contains("BroadcastHashJoin"),
      s"the codebook must broadcast-hash-join on the position:\n$asg")
    assert(!asg.contains("CartesianProduct") && !asg.contains("BroadcastNestedLoopJoin"),
      s"large-codebook assignment must stay an equi-join:\n$asg")
    val s16 = finalPlan(Similarity.semanticDedupFrom(
      Similarity.assignToJoin(p, cb), 0.4))
    assert(!s16.contains("CartesianProduct") && !s16.contains("BroadcastNestedLoopJoin"),
      s"big-k SemDeDup pairs must meet on the centroid id:\n$s16")
    // d07's artifact consumers: degree + keep-first filter over the
    // lazy pair plan stay equi-join/agg only
    val docs = Tables.documents(spark, sfDir)
    val d07 = finalPlan {
      import org.apache.spark.sql.functions.{col, count, lit}
      val pairs = Dedup.minhashLshPairsFrom(
        Dedup.minhashSignatures(docs, "text", 3, 16), 16, 4, 0.5)
      val deg = pairs.selectExpr("d1 AS doc_id")
        .unionAll(pairs.selectExpr("d2 AS doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("nd"))
      docs.select(col("doc_id"))
        .join(deg, Seq("doc_id"), "left")
        .join(pairs.select(col("d2").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
    }
    assert(!d07.contains("CartesianProduct") && !d07.contains("BroadcastNestedLoopJoin"),
      s"artifact consumers must stay equi:\n$d07")
    // s17 IVF-PQ: candidate generation + both re-rank joins stay
    // hash-equi (shortlist broadcasts back to the corpus — the exact
    // re-rank must not shuffle corpus rows), and the full-corpus
    // assignment + PQ coding + reconstruction stay columnar
    val s17 = finalPlan(queries.Pipeline5.s17.run(spark, sfDir))
    assert(!s17.contains("CartesianProduct") && !s17.contains("BroadcastNestedLoopJoin"),
      s"IVF-PQ candidates and re-rank joins must stay equi:\n$s17")
    assert(!s17.contains("DeserializeToObject") && !s17.contains("SerializeFromObject"),
      s"PQ coding/reconstruction must stay columnar:\n$s17")
    assert(!s17.contains("ScalaUDF"), s"s17 stays native/codegen:\n$s17")
  }

  test("round-9 part-2 shapes (p14 broadcast weight table, t17 map-only scoring, p15 equi-only)") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
    // p14's lazy score builder (dsirSelect adds the eager threshold
    // pass on top): the bucket-weight table must reach the exploded
    // corpus as a BROADCAST hash join — a shuffled join here would
    // shuffle every corpus token — and everything stays equi (the only
    // loop joins are the broadcast 1-row totals, the t10 idiom)
    val p14 = finalPlan(operators.Importance.dsirWeights(
      docs, docs.filter(col("lang") === "en"), "text", 2, 512))
    assert(p14.contains("BroadcastHashJoin"),
      s"the lambda table must broadcast onto the exploded corpus:\n$p14")
    assert(!p14.contains("CartesianProduct"),
      s"DSIR fit/transform joins must stay equi:\n$p14")
    assert(!p14.contains("ScalaUDF") && !p14.contains("DeserializeToObject"),
      s"DSIR stays native/codegen:\n$p14")
    // t17 scoring under fitted weights: pure projection — ZERO
    // exchanges, the whole pass is map-side (training cost lives in
    // the fit's 1-row aggregations, not here)
    val t17 = finalPlan(operators.QualityModel.score(
      docs, "text", "lang = 'en'", Array(0.25, -0.5, 0.125, 1.0)))
    assert(!t17.contains("Exchange"),
      s"trained-scorer transform must be map-only:\n$t17")
    assert(!t17.contains("ScalaUDF"), s"t17 stays native/codegen:\n$t17")
    // p15 registered query: DecontaminateSpec pins the full shape on
    // fixtures; re-assert the equi-only contract at table scale
    val p15 = finalPlan(queries.Pipeline7.p15.run(spark, sfDir))
    assert(!p15.contains("CartesianProduct") && !p15.contains("BroadcastNestedLoopJoin"),
      s"bloom decontamination must stay equi:\n$p15")
    assert(!p15.contains("SortMergeJoin"),
      s"p15's verify/anti joins must broadcast — the corpus is never shuffled:\n$p15")
  }

  test("round-9 part-3 shapes (d08 shares d02's capped machinery, p17 map-only, p16 broadcast totals)") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sfDir)
    // d08 through the lazy pre-checkpoint builder: the capped-collect
    // candidate aggregation, never a cartesian/self-product
    val d08 = finalPlan(Dedup.containmentPairsFrom(
      Dedup.shingleHashSets(docs, "text", 3), 0.6, 64))
    assert(!d08.contains("CartesianProduct") && !d08.contains("BroadcastNestedLoopJoin"),
      s"containment candidates must be the capped equi-agg:\n$d08")
    assert(d08.contains("collectcapped"),
      s"d08 must reuse the one-pass capped collect:\n$d08")
    // p17 chunking: generator explode is map-side — the only exchange
    // is the final presentation order-by
    val p17 = finalPlan(queries.Pipeline8.p17.run(spark, sfDir))
    val p17Final = p17.split("== Initial Plan ==").head
    assert("Exchange".r.findAllIn(p17Final).length <= 1,
      s"p17 must not shuffle before the final sort:\n$p17")
    assert(!p17.contains("ScalaUDF"), s"p17 stays native/codegen:\n$p17")
    // p16: one partial-agg shuffle to O(sources) rows; the 1-row
    // totals reach them as a broadcast, never a shuffled join
    val p16 = finalPlan(queries.Pipeline8.p16.run(spark, sfDir))
    assert(p16.contains("BroadcastNestedLoopJoin") || p16.contains("BroadcastHashJoin"),
      s"p16 totals must broadcast:\n$p16")
    assert(!p16.contains("CartesianProduct"), s"p16 must not plan a cartesian:\n$p16")
  }

  test("round-9 part-4 shapes (c02 equi-only rank step, t19 pruned equi retrieval, t20 broadcast counts, p18 no cartesian)") {
    import org.apache.spark.sql.functions.{col, lit}
    val docs = Tables.documents(spark, sfDir)
    // c02's per-round step through the package-private builder (the
    // registered query's pageRank checkpoints eagerly, collapsing the
    // interesting joins into LogicalRDDs): rank⋈edges must stay an
    // equi-join, the O(1)-row dangling aggregate must BROADCAST back
    val edges = spark.range(1, 200)
      .selectExpr("id AS src", "(id * 7) % 211 AS dst", "1L AS w")
    val ew = edges.join(
      edges.groupBy(col("src")).agg(org.apache.spark.sql.functions.sum(col("w")).as("ow")),
      Seq("src"))
    val nodes = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()
    val ranks = nodes.select(col("id"), lit(1000000L).as("rank_micro"))
    val danglers = nodes.join(ew.select(col("src").as("id")), Seq("id"), "left_anti")
    val c02 = finalPlan(operators.Graph.rankStep(
      ew, ranks, nodes, danglers, 211L, 850000L, 150000L))
    assert(!c02.contains("CartesianProduct"),
      s"rank step must stay equi (the 1-row dangling frame broadcasts):\n$c02")
    assert(c02.contains("BroadcastHashJoin") || c02.contains("BroadcastNestedLoopJoin"),
      s"the dangling-mass aggregate must broadcast back:\n$c02")
    assert(!c02.contains("ScalaUDF"), s"c02 arithmetic stays native:\n$c02")
    // t19's lazy retrieval plan: query terms prune the vocabulary
    // through equi-joins only; the 1-row totals broadcast
    val t19 = finalPlan(operators.Retrieval.bm25TopK(
      docs, "text",
      docs.filter(col("doc_id") % 100 === 7).select(col("doc_id").as("q_id"), col("text")),
      "text", 5, 6))
    assert(!t19.contains("CartesianProduct"),
      s"bm25 must never cross-join beyond the broadcast 1-row totals:\n$t19")
    assert(t19.contains("BroadcastHashJoin") || t19.contains("BroadcastNestedLoopJoin"),
      s"bm25 corpus totals must broadcast:\n$t19")
    assert(!t19.contains("ScalaUDF"), s"t19 stays native/codegen:\n$t19")
    // t20 at table scale: both O(B) count tables reach the exploded
    // corpus as broadcasts; one doc-keyed shuffle afterwards
    val t20 = finalPlan(operators.LanguageModel.bigramSurprisal(docs, "text", 4096))
    assert(t20.contains("BroadcastHashJoin"),
      s"t20 count tables must broadcast onto the gram stream:\n$t20")
    assert(!t20.contains("CartesianProduct"), s"t20 must stay equi:\n$t20")
    // p18 composed build: gate window + broadcast semi/anti + explode,
    // never a cartesian or nested-loop join
    val p18 = finalPlan(queries.Pipeline9.p18.run(spark, sfDir))
    assert(!p18.contains("CartesianProduct") && !p18.contains("BroadcastNestedLoopJoin"),
      s"p18's decontamination joins must stay equi:\n$p18")
    assert(!p18.contains("ScalaUDF"), s"p18 stays native/codegen:\n$p18")
  }

  test("round-10 artifact consumers (t21 bm25TopKWith, t22 bigramSurprisalWith) stay equi/broadcast over the checkpoints") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
    // t21: the consumer plan reads the index checkpoint through
    // equi-joins with the broadcast totals — fit, audit, release
    val idx = operators.Retrieval.fitPostings(docs, "text")
    try {
      val t21 = finalPlan(operators.Retrieval.bm25TopKWith(
        idx,
        docs.filter(col("doc_id") % 100 === 13).select(col("doc_id").as("q_id"), col("text")),
        "text", 5, 6))
      assert(!t21.contains("CartesianProduct"),
        s"artifact-served bm25 must stay equi:\n$t21")
      assert(t21.contains("BroadcastHashJoin") || t21.contains("BroadcastNestedLoopJoin"),
        s"artifact totals must broadcast:\n$t21")
    } finally idx.release()
    // t22: the held-out scoring pass joins the O(2B) model checkpoint
    // as broadcasts — a shuffled join here would shuffle every gram
    val model = operators.LanguageModel.fitBigramModel(docs, "text", 4096)
    try {
      val t22 = finalPlan(operators.LanguageModel.bigramSurprisalWith(
        model, docs.filter(col("doc_id") % 5 === 0), "text"))
      assert(t22.contains("BroadcastHashJoin"),
        s"model count tables must broadcast onto the gram stream:\n$t22")
      assert(!t22.contains("CartesianProduct"), s"t22 must stay equi:\n$t22")
    } finally model.release()
    // t23: the fusion tail is a bounded union + ONE partial-agg
    // shuffle + window — never a cartesian (the embedding side's
    // broadcast nested-loop is the documented brute baseline)
    val t23 = finalPlan(queries.Pipeline10.t23.run(spark, sfDir))
    assert(!t23.contains("CartesianProduct"),
      s"rrf fusion must never plan a cartesian:\n$t23")
    assert(!t23.contains("ScalaUDF"), s"t23 stays native/codegen:\n$t23")
    // p19: pure projection + the final presentation sort only
    val p19 = finalPlan(queries.Pipeline10.p19.run(spark, sfDir))
    val p19Final = p19.split("== Initial Plan ==").head
    assert("Exchange".r.findAllIn(p19Final).length <= 1,
      s"p19 must not shuffle before the presentation sort:\n$p19")
    assert(!p19.contains("ScalaUDF"), s"p19 stays native/codegen:\n$p19")
  }

  test("round-10 shapes (c03 oriented triangles, d09 weighted jaccard, p21 novelty, t24 lift) stay equi, no cartesian") {
    import org.apache.spark.sql.functions.{col, count, lit}
    val docs = Tables.documents(spark, sfDir)
    // c03: every step of the oriented enumeration is an equi-join —
    // a cartesian (or nested-loop) here is exactly the unbounded
    // wedge blow-up the orientation exists to prevent
    val edges = spark.range(1, 500)
      .selectExpr("id AS src", "(id * 13) % 499 AS dst")
    val c03 = finalPlan(operators.Graph.triangleCounts(edges, "src", "dst"))
    assert(!c03.contains("CartesianProduct") && !c03.contains("BroadcastNestedLoopJoin"),
      s"triangle counting must stay equi-join only:\n$c03")
    assert(!c03.contains("ScalaUDF"), s"c03 stays native/codegen:\n$c03")
    // d09 pre-checkpoint plan: capped candidate generation (single
    // aggregation pass, no self equi-join explosion) + equi count
    // joins only
    val sets = operators.Dedup.shingleHashSets(docs, "text", 3)
    val tc = docs
      .selectExpr("doc_id", s"explode(${operators.TextOps.tokens("text")}) AS term")
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
    val d09 = finalPlan(operators.Dedup.weightedJaccardPairsFrom(sets, tc, 0.3, 64))
    assert(!d09.contains("CartesianProduct"),
      s"weighted jaccard must stay equi:\n$d09")
    assert(d09.contains("collectcapped"),
      s"d09 candidates must ride the capped-collect path at a finite cap:\n$d09")
    // p21: linear — explode + two partial-agg shuffles + one shingle
    // equi-join; nothing quadratic anywhere
    val p21 = finalPlan(operators.Dedup.noveltyScores(docs, "text", 5))
    assert(!p21.contains("CartesianProduct") && !p21.contains("BroadcastNestedLoopJoin"),
      s"novelty is linear, never a pair plan:\n$p21")
    assert(!p21.contains("ScalaUDF"), s"p21 stays native/codegen:\n$p21")
    // t25: a pure map-side projection — no exchange at all before the
    // registered query's presentation sort
    val t25 = finalPlan(operators.TextOps.readability(docs, "text"))
    assert(!t25.contains("Exchange"),
      s"readability must be map-only (zero shuffles):\n$t25")
    assert(!t25.contains("ScalaUDF"), s"t25 stays native/codegen:\n$t25")
    // e01/e02: funnel frontiers and cohort joins stay equi (the
    // O(1)-row per-stage counts may broadcast; a cartesian would mean
    // the stage condition fell out of the join)
    val events = Tables.events(spark, sfDir)
    val e01 = finalPlan(operators.Events.funnel(
      events, "event_type", "user_id", "ts", Seq("view", "click", "purchase")))
    assert(!e01.contains("CartesianProduct"),
      s"funnel stages must join on user, never cross:\n$e01")
    val e02 = finalPlan(operators.Events.retentionCohorts(events, "user_id", "ts", 7))
    assert(!e02.contains("CartesianProduct") && !e02.contains("ScalaUDF"),
      s"retention must stay equi/native:\n$e02")
    // e05/e06: the session funnel adds exactly one user-keyed window
    // shuffle before the funnel joins; RFM's quartile thresholds must
    // BROADCAST (a shuffled join there would shuffle the whole user
    // table against a 1-row frame)
    val e05 = finalPlan(operators.Events.sessionFunnel(
      events, "event_type", "user_id", "ts", Seq("view", "click"), 30))
    assert(!e05.contains("CartesianProduct"),
      s"session funnel must stay equi:\n$e05")
    val e06 = finalPlan(operators.Events.rfmSegments(events, "user_id", "ts", "value"))
    assert(e06.contains("BroadcastNestedLoopJoin") || e06.contains("BroadcastHashJoin"),
      s"rfm thresholds must broadcast:\n$e06")
    assert(!e06.contains("CartesianProduct"), s"rfm must not plan a cartesian:\n$e06")
    // t26 rides t10's audited shape (per-doc partitioned window); the
    // 1-row doc count must broadcast
    val t26 = finalPlan(queries.Pipeline12.t26.run(spark, sfDir))
    assert(!t26.contains("CartesianProduct"), s"t26 must stay equi/broadcast:\n$t26")
    // q41 (re-planned, VERDICT r11 #1): per-column two-level members,
    // each member's scan pruned to exactly its ONE column — on a
    // columnar source the C members together read the same bytes one
    // C-column scan would, and there is no multi-distinct Expand
    // (whose (C+1)× replication regressed q41 23×)
    val q41 = finalPlan(operators.Profile.profile(
      Tables.lineitem(spark, sfDir), Seq("l_orderkey", "l_returnflag")))
    val reads = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(q41).map(_.group(1)).toSet
    assert(reads == Set("l_orderkey:bigint", "l_returnflag:string"),
      s"each profile member must scan only its own column, got $reads:\n$q41")
    assert(!q41.contains("Expand"),
      s"profile must not plan a multi-distinct Expand:\n$q41")
    intercept[IllegalArgumentException](
      operators.Profile.profile(Tables.lineitem(spark, sfDir), Seq.empty))
    intercept[IllegalArgumentException](
      operators.Profile.profile(Tables.lineitem(spark, sfDir), Seq("a", "a")))
  }

  test("round-10 part-3 shapes (q42 bounded basket self-join, e08 one window, e09 broadcast marginals, c04 peel round)") {
    import org.apache.spark.sql.functions.col
    val events = Tables.events(spark, sfDir)
    // q42: the pair generator is a basket-keyed collect + bounded
    // array fan-out (one shuffle; fan-out bounded by basket size
    // squared) + equi count joins — a cartesian or nested-loop here
    // is the unbounded all-pairs plan the basket key exists to prevent
    val q42 = finalPlan(operators.Baskets.assocPairsFrom(
      Tables.lineitem(spark, sfDir)
        .selectExpr("l_orderkey AS bk", "l_partkey AS it").distinct(),
      nBaskets = 1000L, minPairs = 3L))
    assert(!q42.contains("CartesianProduct") && !q42.contains("BroadcastNestedLoopJoin"),
      s"assoc pairs must stay basket-keyed equi:\n$q42")
    assert(!q42.contains("ScalaUDF"), s"q42 stays native/codegen:\n$q42")
    // e08: exactly ONE exchange over the event log (the user-keyed
    // window); the from-type totals window runs on the tiny aggregated
    // frame, adding a second exchange of T² rows, never a third over
    // the log
    val e08 = finalPlan(operators.Events.transitionMatrix(
      events, "event_type", "user_id", "ts", "event_id"))
    assert(!e08.contains("CartesianProduct") && !e08.contains("ScalaUDF"),
      s"transitions stay equi/native:\n$e08")
    // e09: the T-row marginals and the 1-row grand total must
    // broadcast back onto the T×2 grid — shuffling any of them would
    // shuffle a constant-size frame per cell
    val e09 = finalPlan(operators.Events.typeDriftChi2(
      events, "event_type", "ts", "2024-01-16 00:00:00"))
    assert(e09.contains("BroadcastNestedLoopJoin") || e09.contains("BroadcastHashJoin"),
      s"drift marginals must broadcast:\n$e09")
    assert(!e09.contains("CartesianProduct"), s"drift must not plan a cartesian:\n$e09")
    // c04 per-round shapes (the rankStep convention — the public loop
    // checkpoints each round into LogicalRDDs): degree side is ONE
    // partial-agg shuffle, peel side is two semi equi-joins
    val und = spark.range(1, 2000).selectExpr("id AS a", "(id * 17) % 1999 AS b")
    val degPlan = finalPlan(operators.Graph.kCoreDegrees(und, 3))
    assert(!degPlan.contains("CartesianProduct") && !degPlan.contains("ScalaUDF"),
      s"kCore degree side stays native partial agg:\n$degPlan")
    val keep = operators.Graph.kCoreDegrees(und, 3)
    val peelPlan = finalPlan(operators.Graph.kCorePeel(und, keep))
    assert(!peelPlan.contains("CartesianProduct") && !peelPlan.contains("BroadcastNestedLoopJoin"),
      s"kCore peel must stay semi equi-joins:\n$peelPlan")
    assert(peelPlan.contains("LeftSemi"), s"peel joins must be semi:\n$peelPlan")
    // d10: the re-rank adds two id-keyed equi-joins onto the audited
    // LSH candidate plan — never an all-pairs scorer
    val docs = Tables.documents(spark, sfDir)
    val d10 = finalPlan(operators.Dedup.editRerank(docs, "doc_id", "text",
      operators.Dedup.minhashLshPairs(docs, "text", 3, 16, 4, 0.5), 200, 3L))
    assert(!d10.contains("CartesianProduct") && !d10.contains("BroadcastNestedLoopJoin"),
      s"edit re-rank must stay id-keyed equi:\n$d10")
    assert(!d10.contains("ScalaUDF"), s"levenshtein is the native expression:\n$d10")
    // st03: the static dim must BROADCAST (the stream side never
    // shuffles for the join); one partial-agg exchange after
    val st03 = finalPlan(graft.streaming.EventStreams.segmentRevenue(
      events, Tables.customer(spark, sfDir)
        .selectExpr("c_custkey AS user_id", "c_mktsegment AS segment")))
    assert(st03.contains("BroadcastHashJoin"),
      s"stream-static dim must broadcast:\n$st03")
    assert(!st03.contains("CartesianProduct"), s"st03 must stay equi:\n$st03")
  }

  test("round-10 part-4 shapes (q43 state-row merge, e10 one window, m07 equi frame join)") {
    import org.apache.spark.sql.functions.col
    val events = Tables.events(spark, sfDir)
    // q43: the merge aggregates STATE rows (union of two partial-agg
    // frames + one re-agg) — no join at all, so any join node means
    // the merge took a wrong shape
    val st = operators.Incremental.dailyTypeState(events, "event_type", "ts", "value")
    val q43 = finalPlan(operators.Incremental.mergeStates(Seq(st, st),
      Seq("day", "event_type")))
    assert(!q43.contains("Join") && !q43.contains("CartesianProduct"),
      s"state merge is union + re-agg, never a join:\n$q43")
    assert(!q43.contains("ScalaUDF"), s"q43 stays native:\n$q43")
    // e10: one user-keyed window (running ignore-nulls last) + one
    // channel-keyed agg; no self-join per conversion
    val e10 = finalPlan(operators.Events.lastTouchAttribution(
      events, "event_type", "user_id", "ts", "event_id", "value", "purchase"))
    assert(!e10.contains("Join") && !e10.contains("CartesianProduct"),
      s"attribution must be one window pass, never a join:\n$e10")
    // m07: consecutive frames pair by an equi-join on
    // (media_id, frame_idx) — a cartesian would be the all-frame-pairs
    // plan the key exists to prevent
    val m07 = finalPlan(operators.Multimodal.keyframes(
      operators.Multimodal.decodeVideoFrames(
        operators.Multimodal.mediaFromDocuments(Tables.documents(spark, sfDir))), 21000000L))
    assert(!m07.contains("CartesianProduct") && !m07.contains("BroadcastNestedLoopJoin"),
      s"keyframe pairing must stay equi:\n$m07")
    // p24: the O(sources)-row quota table must BROADCAST back onto the
    // doc frame (shuffling docs against a 20-row frame would be the
    // anti-shape); the apportionment windows run over the tiny
    // aggregated frame only
    val p24 = finalPlan(operators.Curate.tokenBudgetSelect(
      Tables.documents(spark, sfDir), "doc_id", "source", "text", 12000L, "graft"))
    assert(p24.contains("BroadcastHashJoin"),
      s"p24 quota table must broadcast:\n$p24")
    assert(!p24.contains("CartesianProduct") && !p24.contains("ScalaUDF"),
      s"p24 stays equi/native:\n$p24")
    // s20: the sketch projection is map-side (one exchange for the
    // top-k window + the audited s01 broadcast scoring); never a
    // ScalaUDF — the sketch folds are native higher-order functions
    val s20 = finalPlan(operators.Similarity.randomProjectionTopK(
      Tables.embeddings(spark, sfDir), 16, 5, 5))
    assert(!s20.contains("CartesianProduct") && !s20.contains("ScalaUDF"),
      s"s20 stays native/equi:\n$s20")
    // q44: the weekly merge aggregates SKETCH rows; the only pass over
    // raw history is the in-plan exact audit — no cartesian anywhere
    val q44 = finalPlan(operators.Incremental.sketchDistinctRollup(
      events, "user_id", "ts"))
    assert(!q44.contains("CartesianProduct") && !q44.contains("ScalaUDF"),
      s"q44 stays native/equi:\n$q44")
    // e11: ONE user-keyed window evaluates all leads together — n-1
    // chained windows would be n-1 shuffles of the log
    val e11 = finalPlan(operators.Events.typePaths(
      events, "event_type", "user_id", "ts", "event_id", 3, 20))
    // count only the final plan — the AQE explain repeats the tree
    // under "== Initial Plan ==" and would double-count
    val e11Final = e11.split("== Initial Plan ==")(0)
    assert(e11Final.split("Exchange hashpartitioning\\(user_id").length - 1 <= 1,
      s"typePaths must shuffle the log ONCE on user:\n$e11")
    assert(!e11.contains("CartesianProduct") && !e11.contains("ScalaUDF"),
      s"e11 stays equi/native:\n$e11")
    // q45: the spine generates from a BROADCAST 1-row bounds frame and
    // left-equi-joins the hourly aggregate — never a cartesian against
    // the log
    val q45 = finalPlan(operators.Events.hourlyGapFill(
      events, "event_type", "ts", "value"))
    assert(q45.contains("BroadcastNestedLoopJoin") || q45.contains("BroadcastHashJoin"),
      s"q45 bounds must broadcast:\n$q45")
    assert(!q45.contains("CartesianProduct"), s"q45 must not plan a cartesian:\n$q45")
    // q46: the running-distinct window runs over the (type, day)
    // frame, NEVER the event log — the log sees only partial aggs
    val q46 = finalPlan(operators.Events.cumulativeDistinct(
      events, "event_type", "user_id", "ts"))
    val q46Final = q46.split("== Initial Plan ==")(0)
    assert(!q46Final.contains("CartesianProduct") && !q46Final.contains("ScalaUDF"),
      s"q46 stays equi/native:\n$q46")
    assert(!q46Final.contains("windowspecdefinition(user_id"),
      s"q46 must never window the raw log by user:\n$q46")
    // q47: map-only until ONE partial-agg shuffle; bit_xor is the
    // commutative fingerprint (order/partitioning cannot change it)
    val q47 = finalPlan(Tables.documents(spark, sfDir)
      .selectExpr("source",
        operators.TextOps.strHash60("concat_ws('|', cast(doc_id as string), text, lang)") + " AS h",
        "n_chars")
      .groupBy(col("source"))
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_rows"),
        org.apache.spark.sql.functions.expr("bit_xor(h)").as("xor_fingerprint")))
    val q47Final = q47.split("== Initial Plan ==")(0)
    assert(q47Final.split("Exchange").length - 1 <= 1,
      s"q47 is one partial-agg shuffle:\n$q47")
    assert(!q47Final.contains("ScalaUDF"), s"q47 stays native:\n$q47")
    // e12: the sweep window partitions by DAY (a global unpartitioned
    // sweep would collapse the timeline into one sort partition)
    import spark.implicits._
    val sess = Seq((1L, 0L, 3600000L), (2L, 1000L, 7200000L))
      .toDF("user_id", "s_ms", "e_ms")
    val e12 = finalPlan(operators.Events.peakConcurrency(sess, "user_id", "s_ms", "e_ms"))
    val e12Final = e12.split("== Initial Plan ==")(0)
    assert(e12Final.contains("windowspecdefinition(day"),
      s"e12 sweep must partition by day:\n$e12")
    assert(!e12Final.contains("windowspecdefinition()"),
      s"e12 must not run an unpartitioned global window:\n$e12")
  }

  test("round-10 part-5 shapes (q49 broadcast medians, q50 bounded dim join, e15 bounded fanout, e13/c05 tiny-frame windows)") {
    import org.apache.spark.sql.functions.col
    val events = Tables.events(spark, sfDir)
    // q49: the 5-row median frame must broadcast back onto the log
    val q49 = finalPlan(queries.Pipeline16.q49.run(spark, sfDir))
    assert(q49.contains("BroadcastHashJoin"), s"q49 medians must broadcast:\n$q49")
    assert(!q49.contains("CartesianProduct"), s"q49 stays equi:\n$q49")
    // q50: the point-in-time lookup is an EQUI join on the key with
    // the interval as a post-join filter — a range-only join here
    // would nested-loop the fact table
    val q50 = finalPlan(queries.Pipeline17.q50.run(spark, sfDir))
    assert(!q50.contains("CartesianProduct") && !q50.contains("BroadcastNestedLoopJoin"),
      s"q50 must join on the key, never range-scan:\n$q50")
    // e15: the sliding distinct is a bounded explode + distinct +
    // partial agg — no window over the log, no cartesian
    val e15 = finalPlan(operators.Events.stickiness(events, "user_id", "ts"))
    val e15Final = e15.split("== Initial Plan ==")(0)
    assert(!e15Final.contains("windowspecdefinition"),
      s"e15 must not window at all (bounded replication instead):\n$e15")
    assert(!e15Final.contains("CartesianProduct"), s"e15 stays equi:\n$e15")
    // e13: the trailing window runs over the (type, day) aggregate,
    // never the event log
    val e13 = finalPlan(operators.Events.dailyAnomalies(events, "event_type", "ts"))
    val e13Final = e13.split("== Initial Plan ==")(0)
    assert(!e13Final.contains("windowspecdefinition(user_id"),
      s"e13 windows day-grain frames only:\n$e13")
    // d14: the ensemble is a full-outer EQUI join of two audited
    // generators
    val d14 = finalPlan(queries.Pipeline17.d14.run(spark, sfDir))
    assert(!d14.contains("CartesianProduct"), s"d14 stays equi:\n$d14")
  }

  test("round-10 part-6 shapes (e17 grid-only window, p28 one-row fold, t28 top-k head, s21 broadcast top-k)") {
    // e17: the LTV window runs over the (cohort, age) grid — never
    // the purchase log — and the cohort-size join broadcasts
    val e17 = finalPlan(queries.Pipeline18.e17.run(spark, sfDir))
    assert(e17.contains("BroadcastHashJoin"), s"e17 cohort sizes must broadcast:\n$e17")
    assert(!e17.contains("CartesianProduct"), s"e17 stays equi:\n$e17")
    // p28: after the per-source agg everything is broadcast-sized;
    // the only join is the 1-row total (broadcast NLJ on 1 row is fine)
    val p28 = finalPlan(queries.Pipeline18.p28.run(spark, sfDir))
    assert(!p28.contains("SortMergeJoin"), s"p28 must never shuffle-join:\n$p28")
    // t28: the vocabulary head is a TakeOrderedAndProject, not a full
    // vocab sort; the rank window sees only the 50 survivors
    val t28 = finalPlan(queries.Pipeline18.t28.run(spark, sfDir))
    assert(t28.contains("TakeOrderedAndProject"), s"t28 must top-k the vocab:\n$t28")
    // s21: the q·k top-k frame carries NO forced broadcast hint (it
    // scales with the corpus when the predicate selects a constant
    // fraction — a hint would OOM the driver at 100 TB); AQE still
    // picks a runtime broadcast here because the frame measures small
    val s21 = finalPlan(queries.Pipeline18.s21.run(spark, sfDir))
    assert(s21.contains("BroadcastHashJoin"), s"s21 label join must broadcast top-k:\n$s21")
    assert(!s21.contains("CartesianProduct"), s"s21 stays equi after candidate gen:\n$s21")
  }

  test("round-10 part-7 shapes (q51 generator unpivot, e18 broadcast threshold, s22 grid windows, st04 one agg chain)") {
    // q51: stack() is a zero-shuffle generator over the 3-row agg —
    // one exchange for the groupBy, nothing else
    val q51 = finalPlan(queries.Pipeline19.q51.run(spark, sfDir))
    assert(q51.contains("Generate"), s"q51 must unpivot via a generator:\n$q51")
    assert(!q51.contains("CartesianProduct"), s"q51 stays join-free:\n$q51")
    // e18: the 1-row threshold broadcasts back; never a shuffle join
    val e18 = finalPlan(queries.Pipeline19.e18.run(spark, sfDir))
    assert(!e18.contains("SortMergeJoin"), s"e18 threshold must broadcast:\n$e18")
    // s22: after the assignment projection everything is equi/grid
    val s22 = finalPlan(queries.Pipeline19.s22.run(spark, sfDir))
    assert(!s22.contains("CartesianProduct"), s"s22 stays equi:\n$s22")
    // st04: the sliding grid is ONE window-keyed aggregate chain (the
    // 2x membership explode + count-distinct expand), no join at all
    val st04 = finalPlan(queries.Pipeline19.st04.run(spark, sfDir))
    assert(!st04.contains("Join"), s"st04 must be join-free:\n$st04")
  }

  test("round-10 part-8 shapes (c06 agg-only fold, t29 bucket-grid join, q52 partitioned windows, e19 join-free)") {
    // c06: the histogram inherits c01's equi-only pair/CC machinery;
    // the size fold adds aggs, never a join between big sides
    val c06 = finalPlan(queries.Pipeline20.c06.run(spark, sfDir))
    assert(!c06.contains("CartesianProduct"), s"c06 stays equi:\n$c06")
    // t29: the only join is between two bucket-grid aggregates
    val t29 = finalPlan(queries.Pipeline20.t29.run(spark, sfDir))
    assert(!t29.contains("CartesianProduct"), s"t29 stays equi:\n$t29")
    // q52: the rank windows partition by priority — the plan must not
    // be join-shaped at all
    val q52 = finalPlan(queries.Pipeline20.q52.run(spark, sfDir))
    assert(!q52.contains("Join"), s"q52 is windows over one scan:\n$q52")
    // e19: two partial aggs, nothing else
    val e19 = finalPlan(queries.Pipeline20.e19.run(spark, sfDir))
    assert(!e19.contains("Join") && !e19.contains("windowspecdefinition"),
      s"e19 is a pure agg chain:\n$e19")
  }

  test("round-10 part-9 shapes (m09 decode generator, e20 one window, s23 equi sweep) + s23 recall monotone in probes") {
    // m09: decode + frame explode is generator-shaped — no join
    val m09 = finalPlan(queries.Pipeline21.m09.run(spark, sfDir))
    assert(!m09.contains("Join"), s"m09 must be a map/generate pass:\n$m09")
    // e20: exactly one user-keyed window (the lag), then partial aggs
    val e20 = finalPlan(queries.Pipeline21.e20.run(spark, sfDir))
    assert(!e20.contains("Join"), s"e20 must not join:\n$e20")
    // s23: three IVF branches, all equi-join shaped
    val df = queries.Pipeline21.s23.run(spark, sfDir)
    val s23 = finalPlan(df)
    assert(!s23.contains("CartesianProduct"), s"s23 stays equi:\n$s23")
    // recall must be monotone non-decreasing in probes (more probed
    // lists can only add candidates)
    val recalls = df.collect().map(r => r.getLong(0) -> r.getLong(3)).sortBy(_._1)
    assert(recalls.map(_._1).toSeq == Seq(1L, 2L, 4L))
    assert(recalls.sliding(2).forall(p => p(0)._2 <= p(1)._2),
      s"recall not monotone: ${recalls.toSeq}")
  }

  test("round-10 part-10 shapes (p29 agg over packed, d15 one candidate gen, e21 tiny-frame window) + d15 sweep monotone") {
    // p29: aggregation over the packed frame — no joins added
    val p29 = finalPlan(queries.Pipeline22.p29.run(spark, sfDir))
    assert(!p29.contains("CartesianProduct"), s"p29 stays equi:\n$p29")
    // d15: ONE banded candidate generation, sweep by conditional agg —
    // no extra scan per threshold, no cartesian
    val d15df = queries.Pipeline22.d15.run(spark, sfDir)
    val d15 = finalPlan(d15df)
    assert(!d15.contains("CartesianProduct"), s"d15 stays equi:\n$d15")
    // loosening the threshold can only ADD pairs: counts monotone
    // non-increasing in the threshold
    val sweep = d15df.collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    assert(sweep.sliding(2).forall(p => p(0)._2 >= p(1)._2),
      s"sweep not monotone: ${sweep.toSeq}")
    // e21: the reverse-cumulative window runs over the day histogram,
    // and the only join is the broadcast 1-row total
    val e21 = finalPlan(queries.Pipeline22.e21.run(spark, sfDir))
    assert(!e21.contains("SortMergeJoin"), s"e21 total must broadcast:\n$e21")
  }

  test("round-10 part-11 shapes (q53 day-grid window, e22 grid window, s24 top-k audit)") {
    // q53: the moving median windows the ≤31-row day grid, no joins
    val q53 = finalPlan(queries.Pipeline23.q53.run(spark, sfDir))
    assert(!q53.contains("Join"), s"q53 is a grid window:\n$q53")
    // e22: adoption windows partition by type over the (type, day)
    // grid; no joins
    val e22 = finalPlan(queries.Pipeline23.e22.run(spark, sfDir))
    assert(!e22.contains("Join"), s"e22 is aggs + a grid window:\n$e22")
    // s24: map-only error math + TakeOrdered — no join, no shuffle
    // beyond the top-k
    val s24 = finalPlan(queries.Pipeline23.s24.run(spark, sfDir))
    assert(s24.contains("TakeOrderedAndProject"), s"s24 must top-k:\n$s24")
    assert(!s24.contains("Join"), s"s24 stays map-only:\n$s24")
  }

  test("round-10 part-12 shapes (q54 broadcast null-safe join, st05 broadcast input counts, e23 grid window)") {
    // q54: the tiny dim broadcasts; a null-safe equi-join must not
    // degrade to a nested loop
    val q54 = finalPlan(queries.Pipeline24.q54.run(spark, sfDir))
    assert(q54.contains("BroadcastHashJoin"), s"q54 dim must broadcast:\n$q54")
    assert(!q54.contains("BroadcastNestedLoopJoin"),
      s"q54 null-safe equality must stay hash-joinable:\n$q54")
    // st05: the per-type input-count frame broadcasts back
    val st05 = finalPlan(queries.Pipeline24.st05.run(spark, sfDir))
    assert(!st05.contains("SortMergeJoin"), s"st05 counts must broadcast:\n$st05")
    assert(!st05.contains("CartesianProduct"))
    // e23: share window over the (type, dow) grid only
    val e23 = finalPlan(queries.Pipeline24.e23.run(spark, sfDir))
    assert(!e23.contains("Join"), s"e23 is aggs + a grid window:\n$e23")
  }

  test("round-10 part-13 shapes (p30 broadcast arithmetic, c07 best-frame self-join, q55 broadcast bounds) + p30 sums to budget") {
    // p30: everything after the per-source agg is broadcast-sized;
    // quotas must sum EXACTLY to the 100k budget
    val p30df = queries.Pipeline25.p30.run(spark, sfDir)
    val p30 = finalPlan(p30df)
    assert(!p30.contains("SortMergeJoin"), s"p30 stays broadcast:\n$p30")
    assert(p30df.collect().map(_.getLong(4)).sum == 100000L,
      "largest-remainder quotas must sum to the budget exactly")
    // c07: adjacency windows + an equi self-join of the best frame
    val c07 = finalPlan(queries.Pipeline25.c07.run(spark, sfDir))
    assert(!c07.contains("CartesianProduct"), s"c07 stays equi:\n$c07")
    // q55: the 1-row min/max bounds broadcast back onto the scan
    val q55 = finalPlan(queries.Pipeline25.q55.run(spark, sfDir))
    assert(!q55.contains("SortMergeJoin"), s"q55 bounds must broadcast:\n$q55")
  }

  test("round-10 part-14 shapes (e24 one island window, d16 agg-only bands, q56 generator) + d16 pair-mass consistency") {
    // e24: one user-keyed window chain; the top-20 is a TakeOrdered
    val e24 = finalPlan(queries.Pipeline26.e24.run(spark, sfDir))
    assert(!e24.contains("Join"), s"e24 must not join:\n$e24")
    assert(e24.contains("TakeOrderedAndProject"), s"e24 must top-k:\n$e24")
    // d16: banded frame -> two partial aggs, no joins at all
    val d16df = queries.Pipeline26.d16.run(spark, sfDir)
    val d16 = finalPlan(d16df)
    assert(!d16.contains("Join"), s"d16 is agg-only:\n$d16")
    // the reported candidate mass must bound the ACTUAL distinct pair
    // count of the matching generator (bands can only dedup down)
    val mass = d16df.collect().map(_.getLong(4)).sum
    val pairs = operators.Dedup.minhashLshPairs(
      Tables.documents(spark, sfDir), "text", 3, 16, 4, 0.0).count()
    assert(pairs <= mass, s"distinct pairs $pairs exceed band mass $mass")
    // q56: posexplode is a generator, no shuffle before the order-by
    val q56 = finalPlan(queries.Pipeline26.q56.run(spark, sfDir))
    assert(q56.contains("Generate"), s"q56 must generate:\n$q56")
    assert(!q56.contains("Join"), s"q56 stays map-only:\n$q56")
  }

  test("round-10 part-15 shapes (t30 grid folds, q57 multiset ops, s25 dim-grid join)") {
    // t30: after the T-row confusion matrix everything is grid joins
    val t30 = finalPlan(queries.Pipeline27.t30.run(spark, sfDir))
    assert(!t30.contains("CartesianProduct"), s"t30 stays equi:\n$t30")
    // q57: intersectAll/exceptAll compile to aggregate+generate
    // multiset forms or joins — never a cartesian
    val q57 = finalPlan(queries.Pipeline27.q57.run(spark, sfDir))
    assert(!q57.contains("CartesianProduct"), s"q57 stays equi:\n$q57")
    // s25: the (centroid, dim) grid equi-join — no cartesian
    val s25df = queries.Pipeline27.s25.run(spark, sfDir)
    val s25 = finalPlan(s25df)
    assert(!s25.contains("CartesianProduct"), s"s25 stays equi:\n$s25")
    // drift is non-negative and finite by construction
    assert(s25df.collect().forall(_.getLong(2) >= 0L))
  }

  test("round-10 part-16 shapes (q58 union+window asof, t31 inverted-index pairs, m10 agg over decode)") {
    // q58: the forward as-of is the union+window shape — NO join
    // operator in the plan at all
    val q58 = finalPlan(queries.Pipeline28.q58.run(spark, sfDir))
    assert(!q58.contains("Join"), s"q58 must be union+window, not a join:\n$q58")
    // t31: candidates meet through the shared-shingle equi-join, and
    // the inverted index is prefix-filtered (df <= 100) BEFORE the
    // self-join so one boilerplate shingle can't go quadratic
    val t31 = finalPlan(queries.Pipeline28.t31.run(spark, sfDir))
    assert(!t31.contains("CartesianProduct"), s"t31 stays equi:\n$t31")
    assert(t31.contains("<= 100"), s"t31 must carry the df ceiling in-plan:\n$t31")
    // m10: decode generator + m07's equi frame join + one media agg —
    // never a cartesian
    val m10 = finalPlan(queries.Pipeline28.m10.run(spark, sfDir))
    assert(!m10.contains("CartesianProduct") && !m10.contains("BroadcastNestedLoopJoin"),
      s"m10 frame join stays equi:\n$m10")
  }

  test("round-10 part-17 shapes (q59 cube expand, p31 broadcast total, e27 grid windows)") {
    // q59: CUBE compiles to Expand + one agg — no join
    val q59 = finalPlan(queries.Pipeline29.q59.run(spark, sfDir))
    assert(q59.contains("Expand"), s"q59 must cube via Expand:\n$q59")
    assert(!q59.contains("Join"), s"q59 stays join-free:\n$q59")
    // p31: the 1-row total broadcasts back onto the 32-row shard grid
    val p31df = queries.Pipeline29.p31.run(spark, sfDir)
    val p31 = finalPlan(p31df)
    assert(!p31.contains("SortMergeJoin"), s"p31 total must broadcast:\n$p31")
    // balance indices average to ~1e6 by construction: their sum is
    // within one floor-unit-per-shard of 32e6
    val bsum = p31df.collect().map(_.getLong(3)).sum
    assert(bsum > 32000000L - 32 && bsum <= 32000000L,
      s"balance indices must sum to ~32e6, got $bsum")
    // e27: both windows run over the (week, type) grid
    val e27 = finalPlan(queries.Pipeline29.e27.run(spark, sfDir))
    assert(!e27.contains("Join"), s"e27 is aggs + grid windows:\n$e27")
  }

  test("round-10 part-18 shapes (t32 fingerprint equi-join, e28 union+window, p32 one-row fold)") {
    // t32: boundary pairs meet through the 60-bit hash equi-join
    val t32 = finalPlan(queries.Pipeline30.t32.run(spark, sfDir))
    assert(!t32.contains("CartesianProduct") && !t32.contains("BroadcastNestedLoopJoin"),
      s"t32 boundaries must hash-join:\n$t32")
    // e28: the forward as-of keeps the union+window shape — the only
    // acceptable plan has no join operator before the day agg
    val e28 = finalPlan(queries.Pipeline30.e28.run(spark, sfDir))
    assert(!e28.contains("Join"), s"e28 must be union+window:\n$e28")
    // p32: one scan, one global agg, no joins/windows
    val p32 = finalPlan(queries.Pipeline30.p32.run(spark, sfDir))
    assert(!p32.contains("Join") && !p32.contains("windowspecdefinition"),
      s"p32 is a single fold:\n$p32")
  }

  test("round-10 part-19 shapes (p33 grid window, t33 broadcast top-10, q60 partitioned dense_rank)") {
    // p33: the split/source audit windows the stratification grid
    val p33 = finalPlan(queries.Pipeline31.p33.run(spark, sfDir))
    assert(!p33.contains("CartesianProduct"), s"p33 stays equi:\n$p33")
    // t33: the global top-10 and the per-source mass both broadcast
    val t33 = finalPlan(queries.Pipeline31.t33.run(spark, sfDir))
    assert(t33.contains("BroadcastHashJoin"), s"t33 must broadcast the top set:\n$t33")
    assert(!t33.contains("CartesianProduct"))
    // q60: dense_rank windows partition by priority; no join
    val q60 = finalPlan(queries.Pipeline31.q60.run(spark, sfDir))
    assert(!q60.contains("Join"), s"q60 is one partitioned window:\n$q60")
  }

  test("round-10 part-20 shapes (c08 bounded middle-node join, d17 fingerprint semi, m11 decode fold)") {
    // c08: the two-hop expansion fans out through the middle-node
    // equi-join, never a cartesian
    val c08 = finalPlan(queries.Pipeline32.c08.run(spark, sfDir))
    assert(!c08.contains("CartesianProduct"), s"c08 stays equi:\n$c08")
    // d17: old-corpus fingerprints meet the new batch via hash join;
    // the 1-row cutoff broadcasts
    val d17 = finalPlan(queries.Pipeline32.d17.run(spark, sfDir))
    assert(!d17.contains("SortMergeJoin") || d17.contains("BroadcastHashJoin"),
      s"d17 must broadcast the cutoff and hash-join fingerprints:\n$d17")
    assert(!d17.contains("CartesianProduct"))
    // m11: one decode pass + a kind-keyed agg
    val m11 = finalPlan(queries.Pipeline32.m11.run(spark, sfDir))
    assert(!m11.contains("Join"), s"m11 stays agg-only:\n$m11")
  }

  test("round-10 part-21 shapes (e29 one lag window, s26 agg-only codes, q61 join-free buckets)") {
    // e29: one user-keyed lag over the distinct (user, week) grid
    val e29 = finalPlan(queries.Pipeline33.e29.run(spark, sfDir))
    assert(!e29.contains("Join"), s"e29 must not join:\n$e29")
    // s26: the code histogram is aggs over the PQ assignment chain
    val s26df = queries.Pipeline33.s26.run(spark, sfDir)
    assert(!finalPlan(s26df).contains("CartesianProduct"))
    // every subspace must account for every vector exactly once
    val nVecs = Tables.embeddings(spark, sfDir).count()
    assert(s26df.collect().forall(_.getLong(2) == nVecs),
      "each PQ subspace must assign every vector exactly once")
    // q61: buckets are pure projection + agg
    val q61 = finalPlan(queries.Pipeline33.q61.run(spark, sfDir))
    assert(!q61.contains("Join") && !q61.contains("windowspecdefinition"),
      s"q61 is a projection + agg:\n$q61")
  }

  test("round-10 part-22 shapes (q62 broadcast thresholds, p34 bounded 3x explode, e30 grid window)") {
    // q62: the 1-row winsor thresholds broadcast back onto the scan
    val q62 = finalPlan(queries.Pipeline34.q62.run(spark, sfDir))
    assert(!q62.contains("SortMergeJoin"), s"q62 thresholds must broadcast:\n$q62")
    // p34: bounded 3x replicate explode + aggs — no joins
    val p34df = queries.Pipeline34.p34.run(spark, sfDir)
    assert(!finalPlan(p34df).contains("Join"), s"p34 must not join")
    // each replicate admits ~63%: sanity band 40..90% of the corpus
    val nDocs = Tables.documents(spark, sfDir).count()
    p34df.collect().foreach { r =>
      assert(r.getLong(1) > nDocs * 2 / 5 && r.getLong(1) < nDocs * 9 / 10,
        s"replicate ${r.getLong(0)} admitted ${r.getLong(1)} of $nDocs")
    }
    // e30: the share window runs over the (type, hour) grid
    val e30 = finalPlan(queries.Pipeline34.e30.run(spark, sfDir))
    assert(!e30.contains("Join"), s"e30 is aggs + a grid window:\n$e30")
  }

  test("round-10 part-23 shapes (d19 equi over CC, s27 one-row fold, t35 map-only)") {
    val d19 = finalPlan(queries.Pipeline35.d19.run(spark, sfDir))
    assert(!d19.contains("CartesianProduct"), s"d19 stays equi:\n$d19")
    val s27 = finalPlan(queries.Pipeline35.s27.run(spark, sfDir))
    assert(!s27.contains("Join"), s"s27 is one fold:\n$s27")
    val t35 = finalPlan(queries.Pipeline35.t35.run(spark, sfDir))
    assert(!t35.contains("Join") && !t35.contains("windowspecdefinition"),
      s"t35 is map-only:\n$t35")
  }

  test("round-11 part-1 shapes (d18/p20 fp equi-joins, p23 broadcast bench, t34 one agg, e25 one window pass, e26 bounded grain self-join)") {
    // d18/p20: fingerprint frame equi-joins back onto the docs — no
    // cartesian; the only NLJ is the 1-row broadcast total
    val d18 = finalPlan(queries.Pipeline36.d18.run(spark, sfDir))
    assert(!d18.contains("CartesianProduct"), s"d18 stays equi:\n$d18")
    val p20 = finalPlan(queries.Pipeline36.p20.run(spark, sfDir))
    assert(!p20.contains("CartesianProduct"), s"p20 stays equi:\n$p20")
    // p23: the benchmark shingle set must broadcast (t05's shape) so
    // the corpus side is a map-side hash join
    val p23 = finalPlan(queries.Pipeline36.p23.run(spark, sfDir))
    assert(p23.contains("BroadcastHashJoin"), s"p23 bench set must broadcast:\n$p23")
    assert(!p23.contains("CartesianProduct"), s"p23 stays equi:\n$p23")
    // t34: tokenize + one length-keyed agg + 1-row broadcast total —
    // never a shuffle join
    val t34 = finalPlan(queries.Pipeline36.t34.run(spark, sfDir))
    assert(!t34.contains("SortMergeJoin") && !t34.contains("CartesianProduct"),
      s"t34 must not shuffle-join:\n$t34")
    // e25: ONE user-partitioned window pass assigns sessions (lag +
    // running sum) — no self-join anywhere
    val e25 = finalPlan(queries.Pipeline36.e25.run(spark, sfDir))
    assert(!e25.contains("SortMergeJoin") && !e25.contains("CartesianProduct"),
      s"e25 sessionizes via windows, never a join:\n$e25")
    assert(e25.contains("windowspecdefinition"), s"e25 needs its session window:\n$e25")
    // e26: the grain self-join is an EQUI join on (uid, day); fan-out
    // bounded by the type vocabulary squared
    val e26 = finalPlan(queries.Pipeline36.e26.run(spark, sfDir))
    assert(!e26.contains("CartesianProduct"), s"e26 stays equi:\n$e26")
    // algebraic invariants at sf0.001: e25 session events fold back to
    // the event count; e26 co-occurrence never exceeds either marginal
    val evN = Tables.events(spark, sfDir).count()
    val e25Rows = queries.Pipeline36.e25.run(spark, sfDir).collect()
    assert(e25Rows.map(r => r.getLong(0) * r.getLong(1)).sum == evN,
      "session histogram must partition every event exactly once")
    val e26Rows = queries.Pipeline36.e26.run(spark, sfDir).collect()
    assert(e26Rows.forall(r => r.getLong(4) <= math.min(r.getLong(2), r.getLong(3))),
      "n_both must be bounded by both marginals")
    // d18/p20 consistency: per-source duplicate docs and the token
    // masses must reconcile with the global fingerprint frame
    val nDocs = Tables.documents(spark, sfDir).count()
    val nFps = operators.Dedup.exactGroups(
      Tables.documents(spark, sfDir), "text").count()
    val d18Rows = queries.Pipeline36.d18.run(spark, sfDir).collect()
    assert(d18Rows.map(_.getLong(2)).sum == nDocs - nFps,
      "per-source dupes must sum to docs - distinct fingerprints")
  }

  test("round-11 part-2 shapes (d20 join-free fold, t36 top-k head, q63 bounded pair join)") {
    // d20: shingle-df agg + cap explode + fold — never a join
    val d20 = finalPlan(queries.Pipeline37.d20.run(spark, sfDir))
    assert(!d20.contains("SortMergeJoin") && !d20.contains("CartesianProduct"),
      s"d20 is a join-free fold:\n$d20")
    // t36: the vocabulary head is a TakeOrderedAndProject, not a full
    // vocab sort; totals ride 1-row broadcasts
    val t36 = finalPlan(queries.Pipeline37.t36.run(spark, sfDir))
    assert(t36.contains("TakeOrderedAndProject"), s"t36 must top-k the vocab:\n$t36")
    assert(!t36.contains("SortMergeJoin"), s"t36 joins only 1-row totals:\n$t36")
    // q63: q42's bounded basket-keyed pair fan-out + a top-50 head —
    // audited on the LAZY builder (the registered query checkpoints
    // its 50-row result, collapsing the executed plan to a scan)
    val q63 = finalPlan {
      import org.apache.spark.sql.functions.col
      operators.Baskets.assocPairsFrom(
        Tables.lineitem(spark, sfDir)
          .selectExpr("l_orderkey AS bk", "l_partkey AS it").distinct(),
        nBaskets = 1000L, minPairs = 2L)
        .orderBy(col("support_micro").desc, col("item_a"), col("item_b"))
        .limit(50)
    }
    assert(!q63.contains("CartesianProduct"), s"q63 stays equi:\n$q63")
    assert(q63.contains("TakeOrderedAndProject"), s"q63 must top-k by support:\n$q63")
    // algebraic invariants at sf0.001
    val d20Rows = queries.Pipeline37.d20.run(spark, sfDir).collect()
    assert(d20Rows.map(_.getLong(1)).distinct.size == 1,
      "n_shingles must not depend on the cap")
    assert(d20Rows.map(_.getLong(3)).distinct.size == 1,
      "postings mass must not depend on the cap")
    assert(d20Rows.sortBy(_.getLong(0)).map(_.getLong(2)).sliding(2).forall(
      p => p.length < 2 || p(0) >= p(1)), "hot count must fall as the cap rises")
    d20Rows.foreach(r => assert(r.getLong(4) <= r.getLong(3),
      "hot postings bounded by total"))
    val t36Rows = queries.Pipeline37.t36.run(spark, sfDir).collect()
    assert(t36Rows.map(_.getLong(4)).sum <= 1000000L,
      "top-30 occurrence shares cannot exceed the whole")
    val q63Rows = queries.Pipeline37.q63.run(spark, sfDir).collect()
    assert(q63Rows.map(_.getLong(4)).sliding(2).forall(
      p => p.length < 2 || p(0) >= p(1)), "support must be non-increasing in rank")
  }

  test("round-11 part-3 shapes (m12 band equi-join, d21 fp-bounded truth join, q64 grid window)") {
    // m12: candidates meet through the (band, value) equi-join —
    // never a cartesian over images
    val m12 = finalPlan(queries.Pipeline38.m12.run(spark, sfDir))
    assert(!m12.contains("CartesianProduct"), s"m12 stays equi:\n$m12")
    // d21: truth pairs via the fingerprint self equi-join; the LSH
    // probe is an equi-join; one-row fold
    val d21 = finalPlan(queries.Pipeline38.d21.run(spark, sfDir))
    assert(!d21.contains("CartesianProduct"), s"d21 stays equi:\n$d21")
    // q64: one (flag, month) partial agg + a window over the tiny grid
    val q64 = finalPlan(queries.Pipeline38.q64.run(spark, sfDir))
    assert(!q64.contains("CartesianProduct"), s"q64 stays equi:\n$q64")
    // algebraic invariants at sf0.001: the d21 recall contract holds
    // (identical text ⇒ caught), and every m12 flagged pair is within
    // the pigeonhole floor
    val d21Row = queries.Pipeline38.d21.run(spark, sfDir).collect().head
    assert(d21Row.getLong(2) == d21Row.getLong(1),
      "every eligible exact-dup pair must be caught by LSH")
    assert(d21Row.getLong(3) == 1000000L, "recall_micro must pin at 1e6")
    val m12Rows = queries.Pipeline38.m12.run(spark, sfDir).collect()
    assert(m12Rows.forall(r => r.getBoolean(3) == (r.getLong(2) <= 3L)),
      "is_neardup must equal hamming <= 3")
  }

  test("round-11 part-5 shapes (s28 broadcast query frames, bounded overlap join)") {
    // s28: both rankings broadcast the pinned query frame; the
    // overlap is an equi-join of two k-row-per-query frames
    val s28 = finalPlan(queries.Pipeline40.s28.run(spark, sfDir))
    assert(s28.contains("BroadcastNestedLoopJoin") || s28.contains("BroadcastHashJoin"),
      s"s28 must broadcast the query frames:\n$s28")
    assert(!s28.contains("CartesianProduct"), s"s28 never goes cartesian:\n$s28")
    // invariant: overlap is bounded by k and the micro share is exact
    val rows = queries.Pipeline40.s28.run(spark, sfDir).collect()
    assert(rows.forall(r => r.getLong(1) >= 0L && r.getLong(1) <= 10L))
    assert(rows.forall(r => r.getLong(2) == r.getLong(1) * 1000000L / 10L))
  }

  test("round-11 part-6 shapes (d22 seg-hash equi-join, t37 broadcast eval side, c09 bounded projection)") {
    // d22: segment keys are longs met through one doc-frequency
    // equi-join — no self-join, no cartesian
    val d22 = finalPlan(queries.Pipeline41.d22.run(spark, sfDir))
    assert(!d22.contains("CartesianProduct"), s"d22 stays equi:\n$d22")
    // t37: the bounded eval set broadcasts; the train corpus is
    // never shuffled through a sort-merge join
    val t37 = finalPlan(queries.Pipeline41.t37.run(spark, sfDir))
    assert(t37.contains("BroadcastHashJoin"), s"t37 must broadcast the eval side:\n$t37")
    assert(!t37.contains("CartesianProduct"), s"t37 stays equi:\n$t37")
    // c09: one (user,type)-distinct agg + the user-keyed self
    // equi-join — catalog-bounded fan-out, never cartesian
    val c09 = finalPlan(queries.Pipeline41.c09.run(spark, sfDir))
    assert(!c09.contains("CartesianProduct"), s"c09 stays equi:\n$c09")
    // algebraic invariants at sf0.001
    val d22Rows = queries.Pipeline41.d22.run(spark, sfDir).collect()
    assert(d22Rows.nonEmpty)
    d22Rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2), "dup segments bounded by segments")
      assert(r.getLong(4) == r.getLong(3) * 1000000L / r.getLong(2),
        "dup_micro must recompute from the counts")
    }
    val t37Rows = queries.Pipeline41.t37.run(spark, sfDir).collect()
    assert(t37Rows.length == 50, "one row per pinned eval doc")
    t37Rows.foreach { r =>
      assert(r.getLong(0) < 50L)
      assert(r.getLong(2) <= r.getLong(1), "hits bounded by the doc's n-grams")
      assert(r.getBoolean(4) == (r.getLong(3) >= 500000L),
        "verdict must equal the threshold compare")
    }
    val c09Rows = queries.Pipeline41.c09.run(spark, sfDir).collect()
    assert(c09Rows.nonEmpty)
    c09Rows.foreach { r =>
      val (both, n1, n2) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(both <= math.min(n1, n2), "intersection bounded by each side")
      assert(r.getLong(5) == both * 1000000L / (n1 + n2 - both),
        "jaccard_micro must recompute from the counts")
    }
  }

  test("round-11 part-7 shapes (s29 shifted equi pairing, p35 seg-keyed join, e31 one user shuffle)") {
    // s29: the 1-row half frame broadcasts; the pinned pairing is a
    // shifted-key equi-join — never an N^2 sample
    val s29 = finalPlan(queries.Pipeline42.s29.run(spark, sfDir))
    assert(!s29.contains("CartesianProduct"), s"s29 stays equi:\n$s29")
    assert(s29.contains("BroadcastHashJoin") || s29.contains("BroadcastNestedLoopJoin"),
      s"s29 must broadcast the 1-row half frame:\n$s29")
    // p35: same long segment keys as d22 — one keeper agg + one
    // equi-join back, no self-join
    val p35 = finalPlan(queries.Pipeline42.p35.run(spark, sfDir))
    assert(!p35.contains("CartesianProduct"), s"p35 stays equi:\n$p35")
    // e31: one shuffle by user + in-partition sort; the histogram is
    // a partial agg over user maxima
    val e31 = finalPlan(queries.Pipeline42.e31.run(spark, sfDir))
    assert(!e31.contains("CartesianProduct") && !e31.contains("SortMergeJoin"),
      s"e31 is join-free:\n$e31")
    // algebraic invariants at sf0.001
    val s29Row = queries.Pipeline42.s29.run(spark, sfDir).collect().head
    assert(s29Row.getLong(0) == s29Row.getLong(1), "no degenerate vectors in testdata")
    assert(s29Row.getLong(4) <= s29Row.getLong(2) && s29Row.getLong(2) <= s29Row.getLong(5),
      "mean bounded by min/max")
    assert(s29Row.getLong(3) <= s29Row.getLong(1), "negatives bounded by scored")
    val p35Rows = queries.Pipeline42.p35.run(spark, sfDir).collect()
    p35Rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2), "redundant bounded by segments")
      assert(r.getLong(4) == r.getLong(1) - 8L * r.getLong(3), "effective recomputes")
      assert(r.getLong(5) == r.getLong(3) * 8L * 1000000L / r.getLong(1),
        "savings_micro recomputes")
    }
    // d22 and p35 count the SAME segment instances per source
    val d22Seg = queries.Pipeline41.d22.run(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    p35Rows.foreach(r => assert(d22Seg(r.getString(0)) == r.getLong(2),
      s"segment universes must agree for ${r.getString(0)}"))
    val e31Rows = queries.Pipeline42.e31.run(spark, sfDir).collect()
    val users = Tables.events(spark, sfDir).select("user_id").distinct().count()
    assert(e31Rows.map(_.getLong(1)).sum == users, "every user lands in one bucket")
    assert(e31Rows.forall(r => Set(1L, 2L, 3L, 4L, 5L, 10L).contains(r.getLong(0))),
      "buckets are pinned")
  }

  test("round-11 part-8 shapes (st07 append finalization == batch replay, q65 single agg, t38 map-only encode + one agg)") {
    import org.apache.spark.sql.functions.{col, expr, lit, max => smax}
    // st07: the engine's append-mode sink must equal the batch
    // replay of the finalization rule (window end <= max(ts) - 1s)
    val sink = queries.Pipeline43.st07.run(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val ev = Tables.events(spark, sfDir)
      .selectExpr("cast(to_date(ts) as string) AS day", "event_type",
        "cast(round(value * 100) as long) AS cents", "ts")
    val wm = ev.agg(smax(col("ts"))).collect().head.getTimestamp(0).getTime - 1000L
    val expected = ev
      .filter(expr(s"unix_millis(cast(to_date(ts) as timestamp)) + 86400000 <= $wm"))
      .groupBy(col("day"), col("event_type"))
      .agg(expr("count(1) AS n"), expr("sum(cents) AS cents"))
      .orderBy(col("day"), col("event_type")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(sink.toSeq == expected.toSeq,
      "append-mode finalization must equal the batch replay")
    assert(sink.nonEmpty && !sink.map(_._1).contains(
      ev.agg(smax(col("day"))).collect().head.getString(0)),
      "the last open day must never be emitted by append mode")
    // q65: one hash agg over one scan, no join at all
    val q65 = finalPlan(queries.Pipeline43.q65.run(spark, sfDir))
    assert(!q65.contains("Join") && !q65.contains("CartesianProduct"),
      s"q65 is a single-pass pivot agg:\n$q65")
    val q65Rows = queries.Pipeline43.q65.run(spark, sfDir).collect()
    val total = q65Rows.map(r => (1 to 5).map(r.getLong).sum).sum
    assert(total == Tables.orders(spark, sfDir).count(),
      "pivot cells must partition the orders table")
    // t38: the encode is a pure map (no join); one partial agg by source
    val t38 = finalPlan(queries.Pipeline43.t38.run(spark, sfDir))
    assert(!t38.contains("Join"), s"t38 is map + one agg:\n$t38")
    queries.Pipeline43.t38.run(spark, sfDir).collect().foreach { r =>
      assert(r.getLong(3) >= 1000000L, "every word yields >= 1 subword")
      assert(r.getLong(4) >= 1000000L, "every subword holds >= 1 char")
      assert(r.getLong(2) >= r.getLong(1), "subword count >= word count")
    }
  }

  test("round-11 part-9 shapes (c10 incremental == full CC, d23 band-bounded calibration, q66 decorrelated)") {
    import org.apache.spark.sql.functions.col
    // c10: the incremental merge must equal a FULL recompute over
    // all pairs (the trust condition for nightly ingest clustering)
    val inc = queries.Pipeline44.c10.run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docs = Tables.documents(spark, sfDir)
    val pairs = operators.Dedup.minhashLshPairs(docs, "text", 3, 16, 4, 0.5)
      .select(col("d1"), col("d2"))
    val full = operators.Cluster.connectedComponents(pairs, "d1", "d2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    docs.select(col("doc_id")).collect().map(_.getLong(0)).foreach { id =>
      assert(inc(id) == full.getOrElse(id, id),
        s"doc $id: incremental=${inc(id)} full=${full.getOrElse(id, id)}")
    }
    // d23: candidates come from band buckets — never cartesian
    val d23 = finalPlan(queries.Pipeline44.d23.run(spark, sfDir))
    assert(!d23.contains("CartesianProduct"), s"d23 stays band-bounded:\n$d23")
    queries.Pipeline44.d23.run(spark, sfDir).collect().foreach { r =>
      assert(r.getLong(0) >= 0L && r.getLong(0) <= 16L, "matches in 0..16")
      assert(r.getLong(2) >= 0L && r.getLong(2) <= 1000000L, "mean is a micro share")
      assert(r.getLong(3) <= r.getLong(1), "exceedance bounded by pairs")
    }
    // q66: Catalyst must DECORRELATE both scalar subqueries — no
    // per-row nested-loop artifact in the executed plan
    val q66 = finalPlan(queries.Pipeline44.q66.run(spark, sfDir))
    assert(!q66.contains("CartesianProduct") && !q66.contains("BroadcastNestedLoopJoin"),
      s"q66 must run as aggregate + equi-joins:\n$q66")
  }

  test("round-11 part-10 shapes (c11 exact-moment fold, e32 two-filter join, p36 map-only sample audit)") {
    // c11: band-bounded candidates + degree equi-joins + 1-row fold
    val c11 = finalPlan(queries.Pipeline45.c11.run(spark, sfDir))
    assert(!c11.contains("CartesianProduct"), s"c11 stays equi:\n$c11")
    val c11Row = queries.Pipeline45.c11.run(spark, sfDir).collect().head
    assert(math.abs(c11Row.getLong(4)) <= 1000000L,
      "assortativity is a correlation: |r| <= 1")
    assert(c11Row.getLong(2) >= c11Row.getLong(1), "sum d^2 >= sum d for d >= 1")
    // e32: two type-filtered aggs + one user equi-join — no window
    val e32 = finalPlan(queries.Pipeline45.e32.run(spark, sfDir))
    assert(!e32.contains("CartesianProduct") && !e32.contains("Window"),
      s"e32 needs no per-event window:\n$e32")
    val e32Row = queries.Pipeline45.e32.run(spark, sfDir).collect().head
    assert(e32Row.getLong(0) > 0L, "testdata has converters")
    assert(e32Row.getLong(2) <= e32Row.getLong(3) &&
      e32Row.getLong(3) <= e32Row.getLong(4), "quartiles are ordered")
    // p36: the sample fate is a pure projection — zero joins; audit
    // is one partial agg
    val p36 = finalPlan(queries.Pipeline45.p36.run(spark, sfDir))
    assert(!p36.contains("Join"), s"p36 is map + one agg:\n$p36")
    val p36Rows = queries.Pipeline45.p36.run(spark, sfDir).collect()
    p36Rows.foreach { r =>
      assert(r.getLong(2) == (if (r.getString(0) == "en") 500L else 250L),
        "per-stratum targets are pinned")
      assert(r.getLong(3) <= r.getLong(1), "sampled bounded by rows")
      assert(r.getLong(4) == r.getLong(3) * 1000000L / r.getLong(1),
        "realized_micro recomputes")
    }
  }

  test("round-11 part-11 shapes (t39 bounded grid, e33 tiny fold, m13 map-only decode)") {
    // t39: the (source × vocab) grid is the metric's intrinsic
    // support — both sides are catalog-sized partial-agg outputs,
    // never the corpus; the corpus is touched by exploded partial
    // aggs only
    val t39Rows = queries.Pipeline46.t39.run(spark, sfDir).collect()
    t39Rows.foreach { r =>
      assert(r.getLong(3) >= 0L && r.getLong(3) <= 1000000L,
        "TV distance is a micro share in [0, 1]")
    }
    // e33: slope must recompute exactly from the exact moments
    val e33Row = queries.Pipeline46.e33.run(spark, sfDir).collect().head
    val (n, sx, sy, sxy, sx2) = (e33Row.getLong(0), e33Row.getLong(1),
      e33Row.getLong(2), e33Row.getLong(3), e33Row.getLong(4))
    val den = BigInt(n) * sx2 - BigInt(sx) * sx
    val want = if (den == 0) 0L
      else ((BigInt(n) * sxy - BigInt(sx) * sy) * 1000000 / den).toLong
    assert(e33Row.getLong(5) == want, "slope_micro recomputes from moments")
    // m13: pure mapPartitions decode — no shuffle, no join
    val m13 = finalPlan(queries.Pipeline46.m13.run(spark, sfDir))
    assert(!m13.contains("Join") && !m13.contains("HashAggregate"),
      s"m13 is a map-only decode pass:\n$m13")
    val m13Rows = queries.Pipeline46.m13.run(spark, sfDir).collect()
    assert(m13Rows.exists(_.getLong(2) > 0L), "the generator drives real clipping")
    m13Rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "clipped bounded by samples")
      assert(r.getLong(3) == r.getLong(2) * 1000000L / r.getLong(1),
        "clip_micro recomputes")
      assert(math.abs(r.getLong(4)) <= 32767L, "dc offset bounded by the rails")
    }
  }

  test("round-11 part-12 shapes (s30 join-free assignment, e34 bounded explode, p37 composed weights)") {
    import org.apache.spark.sql.functions.{col, to_date, countDistinct}
    // s30: literal-codebook assignment is a pure projection — the
    // corpus is never joined
    val s30 = finalPlan(queries.Pipeline47.s30.run(spark, sfDir))
    assert(!s30.contains("SortMergeJoin") && !s30.contains("CartesianProduct"),
      s"s30 never joins the corpus:\n$s30")
    val s30Row = queries.Pipeline47.s30.run(spark, sfDir).collect().head
    assert(s30Row.getLong(2) >= s30Row.getLong(3), "max list >= min list")
    assert(s30Row.getLong(4) >= 1000000L, "hot-list load factor >= uniform")
    assert(s30Row.getLong(5) >= 1000000L / s30Row.getLong(0),
      "HHI >= the uniform floor 1/k")
    // e34: the ×7 date explode is the only fan-out — no self-join
    val e34 = finalPlan(queries.Pipeline47.e34.run(spark, sfDir))
    assert(!e34.contains("SortMergeJoin") && !e34.contains("CartesianProduct"),
      s"e34 is explode + distinct agg:\n$e34")
    val e34Rows = queries.Pipeline47.e34.run(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val dau = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).cast("string").as("day"))
      .agg(countDistinct(col("user_id")).as("dau"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    dau.foreach { case (day, n) =>
      assert(e34Rows(day) >= n, s"WAU($day) must dominate DAU") }
    // p37: floor-division weights must still sum to ~1e6
    val p37Rows = queries.Pipeline47.p37.run(spark, sfDir).collect()
    val (sp, sq) = (p37Rows.map(_.getLong(2)).sum, p37Rows.map(_.getLong(3)).sum)
    assert(sp <= 1000000L && sp >= 1000000L - p37Rows.length,
      s"p weights sum to ~1e6, got $sp")
    assert(sq <= 1000000L && sq >= 1000000L - p37Rows.length,
      s"q weights sum to ~1e6, got $sq")
  }

  test("round-11 part-13 shapes (d24 monotone tiers, c12 recomputed LCC, st08 drops exactly the stragglers)") {
    import org.apache.spark.sql.functions.{col, expr, max => smax, to_date}
    // d24: each tier's equality is implied by the previous — dup
    // mass is monotone down the normalization ladder
    val d24 = queries.Pipeline48.d24.run(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(d24("t0_raw") <= d24("t1_lower") && d24("t1_lower") <= d24("t2_tokens")
      && d24("t2_tokens") <= d24("t3_bag"), s"tiers must be monotone: $d24")
    // c12: LCC recomputes from (deg, tri) and stays a micro share
    queries.Pipeline48.c12.run(spark, sfDir).collect().foreach { r =>
      val (deg, tri, lcc) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val want = if (deg < 2) 0L else tri * 2000000L / (deg * (deg - 1))
      assert(lcc == want && lcc >= 0L && lcc <= 1000000L)
    }
    // st08: the sink must hold EXACTLY the corpus minus the pinned
    // stragglers minus the open last day — the drop is total and
    // nothing else is lost
    val ev = Tables.events(spark, sfDir)
    val straggler = "to_date(ts) >= '2024-01-10' AND to_date(ts) <= '2024-01-12'" +
      " AND event_id % 7 = 0"
    val lastDay = ev.agg(smax(to_date(col("ts")))).collect().head.getDate(0).toString
    val total = ev.count()
    val nStrag = ev.filter(expr(straggler)).count()
    val nLast = ev.filter(to_date(col("ts")).cast("string") === lastDay).count()
    val sinkN = queries.Pipeline48.st08.run(spark, sfDir).collect().map(_.getLong(2)).sum
    assert(sinkN == total - nStrag - nLast,
      s"sink=$sinkN expected=${total - nStrag - nLast} (total=$total strag=$nStrag last=$nLast)")
    assert(nStrag > 0L, "the straggler set must be non-empty for the pin to bite")
  }

  test("round-11 part-14 shapes (s31 broadcast query frames, q67 one window pass)") {
    val s31 = finalPlan(queries.Pipeline49.s31.run(spark, sfDir))
    assert(!s31.contains("CartesianProduct"), s"s31 stays equi/broadcast:\n$s31")
    queries.Pipeline49.s31.run(spark, sfDir).collect().foreach { r =>
      assert(r.getLong(1) >= 0L && r.getLong(1) <= 10L, "overlap bounded by k")
      assert(r.getLong(2) == r.getLong(1) * 1000000L / 10L, "micro recomputes")
    }
    val q67 = finalPlan(queries.Pipeline49.q67.run(spark, sfDir))
    assert(!q67.contains("Join"), s"q67 is one shuffle + one window:\n$q67")
    queries.Pipeline49.q67.run(spark, sfDir).collect().foreach { r =>
      assert(r.getLong(2) <= r.getLong(3) && r.getLong(3) <= r.getLong(4),
        "discrete quantiles are ordered")
    }
  }

  test("round-11 part-15 shapes (p38 6-row diff, q68 integer KS, t40 monotone coverage)") {
    val p38Rows = queries.Pipeline50.p38.run(spark, sfDir).collect()
    assert(p38Rows.map(_.getString(0)).sorted.toSeq ==
      Seq("mean_tokens_milli", "n_docs", "n_dup_docs", "n_langs", "n_sources",
        "total_tokens"))
    p38Rows.foreach { r =>
      val (vs, vf, dlt) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val want = if (vf == 0) 0L else (BigInt(vs - vf) * 1000000 / vf).toLong
      assert(dlt == want, s"${r.getString(0)}: delta recomputes")
      if (r.getString(0) == "n_docs" || r.getString(0) == "total_tokens")
        assert(vs <= vf, "slice counts bounded by full")
    }
    val q68Row = queries.Pipeline50.q68.run(spark, sfDir).collect().head
    assert(q68Row.getLong(2) >= 0L && q68Row.getLong(2) <= 1000000L,
      "KS is a micro share")
    val t40Rows = queries.Pipeline50.t40.run(spark, sfDir).collect()
    assert(t40Rows.map(_.getLong(4)).sliding(2).forall(p => p.length < 2 || p(0) <= p(1)),
      "coverage is monotone in K")
    t40Rows.foreach(r => assert(r.getLong(1) <= r.getLong(0) &&
      r.getLong(4) <= 1000000L))
  }

  test("round-11 part-16 shapes (e35 catalog-sized chain, p39 exact Hamilton, t41 positive dispersion)") {
    val e35Rows = queries.Pipeline51.e35.run(spark, sfDir).collect()
    val mass = e35Rows.map(_.getLong(1)).sum
    assert(mass <= 1000000L && mass >= 900000L,
      s"stationary mass stays ~1e6 up to floor leakage, got $mass")
    assert(e35Rows.length >= 2, "every observed type gets a row")
    val p39Rows = queries.Pipeline51.p39.run(spark, sfDir).collect()
    assert(p39Rows.map(_.getLong(3)).sum == 100000L,
      "Hamilton apportionment must hand out the exact budget")
    val t41Rows = queries.Pipeline51.t41.run(spark, sfDir).collect()
    t41Rows.foreach { r =>
      assert(r.getLong(3) > 0L, s"${r.getString(0)}: dispersion positive")
      assert(r.getLong(1) <= r.getLong(2), "docs-with bounded by occurrences")
    }
  }

  test("round-11 part-17 shapes (st09 sink == closed batch sessions, q69 robust scale)") {
    import org.apache.spark.sql.functions.{col, max => smax}
    // st09: the engine's append-mode session sink must equal the
    // batch sessionization restricted to sessions that closed before
    // the final watermark — computed here with the AUDITED batch
    // operator, independently of the DuckDB oracle
    import spark.implicits._
    val evts = Tables.events(spark, sfDir)
      .as[graft.streaming.EventStreams.Event]
    val wmMs = Tables.events(spark, sfDir)
      .agg(smax(col("ts"))).collect().head.getTimestamp(0).getTime - 1000L
    val want = graft.streaming.EventStreams.sessionizeBounded(evts, 30)
      .selectExpr("user_id", "unix_millis(session_start) AS s",
        "unix_millis(session_end) AS e", "n_events", "total_cents")
      .filter(col("e") + 1800000L <= wmMs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val got = queries.Pipeline52.st09.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == want, s"engine sessions must equal closed batch sessions " +
      s"(got ${got.size}, want ${want.size})")
    assert(got.nonEmpty)
    val q69Row = queries.Pipeline52.q69.run(spark, sfDir).collect().head
    assert(q69Row.getLong(0) == Tables.orders(spark, sfDir).count())
    assert(q69Row.getLong(2) >= 0L, "MAD is non-negative")
  }

  test("round-11 part-18 shapes (e36 cohort partition, s32 complete confusion rows, q70 one fold)") {
    import org.apache.spark.sql.functions.col
    // e36: buckets partition users; recompute cvr
    val e36Rows = queries.Pipeline53.e36.run(spark, sfDir).collect()
    val users = Tables.events(spark, sfDir).select("user_id").distinct().count()
    assert(e36Rows.map(_.getLong(1)).sum == users, "cohorts partition users")
    e36Rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getLong(3) == r.getLong(2) * 1000000L / r.getLong(1))
    }
    // s32: row shares per actual sum to ~1e6; diagonal mass equals
    // s21's correct count
    val s32Rows = queries.Pipeline53.s32.run(spark, sfDir).collect()
    s32Rows.groupBy(_.getLong(0)).foreach { case (_, cells) =>
      val sh = cells.map(_.getLong(3)).sum
      assert(sh <= 1000000L && sh >= 1000000L - cells.length,
        s"row shares sum to ~1e6, got $sh")
    }
    val diag = s32Rows.filter(r => r.getLong(0) == r.getLong(1)).map(_.getLong(2)).sum
    val correct = operators.Similarity.knnClassify(
        Tables.embeddings(spark, sfDir), "vec_id % 7 = 0", 5)
      .filter(col("correct")).count()
    assert(diag == correct, "confusion diagonal == classifier correct count")
    // q70: one scan, one fold, no join; revenue skews right
    val q70 = finalPlan(queries.Pipeline53.q70.run(spark, sfDir))
    assert(!q70.contains("Join"), s"q70 is a single fold:\n$q70")
    val q70Row = queries.Pipeline53.q70.run(spark, sfDir).collect().head
    assert(q70Row.getLong(0) == Tables.orders(spark, sfDir).count())
  }

  test("round-11 part-19 shapes (p41 permutation property, q71 one join + fold)") {
    // p41: within an epoch the head ranks are 1..10 over DISTINCT
    // docs, and epochs genuinely reshuffle (heads differ)
    val p41Rows = queries.Pipeline54.p41.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byEpoch = p41Rows.groupBy(_._1)
    assert(byEpoch.keySet == Set(0L, 1L, 2L))
    byEpoch.values.foreach { rows =>
      assert(rows.map(_._2).sorted.toSeq == (1L to 10L))
      assert(rows.map(_._3).distinct.length == 10)
    }
    assert(byEpoch.values.map(_.sortBy(_._2).map(_._3).toSeq).toSet.size == 3,
      "each epoch must order differently")
    // q71: one order-keyed join + one fold
    val q71 = finalPlan(queries.Pipeline54.q71.run(spark, sfDir))
    assert(!q71.contains("CartesianProduct"), s"q71 stays equi:\n$q71")
    val r = queries.Pipeline54.q71.run(spark, sfDir).collect().head
    assert(r.getLong(2) <= r.getLong(0) - r.getLong(1), "matched bounded by joint")
    assert(r.getLong(3) == r.getLong(2) * 1000000L / (r.getLong(0) - r.getLong(1)))
  }

  test("round-11 part-20 shapes (q72 one window union, s33 one pair pass, e37 conditional forward min, p40 partitioned rollup)") {
    import org.apache.spark.sql.functions.col
    // q72: islands from ONE window pass, no self-join; union length
    // bounded by naive sum and by the observation span
    val q72 = finalPlan(queries.Pipeline55.q72.run(spark, sfDir))
    assert(!q72.contains("Join"), s"q72 merges intervals join-free:\n$q72")
    val q72Row = queries.Pipeline55.q72.run(spark, sfDir).collect().head
    val nEvents = Tables.events(spark, sfDir).count()
    assert(q72Row.getLong(1) <= nEvents * 300L,
      "union length bounded by the naive per-event sum")
    assert(q72Row.getLong(2) * 1000L >= 300000L, "a user's time >= one interval")
    // s33: counts monotone non-increasing in tau
    val s33Rows = queries.Pipeline55.s33.run(spark, sfDir).collect()
    assert(s33Rows.map(_.getLong(1)).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    assert(s33Rows.map(_.getLong(2)).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    s33Rows.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
    // e37: recovered bounded by errors; quantiles ordered
    val e37Row = queries.Pipeline55.e37.run(spark, sfDir).collect().head
    assert(e37Row.getLong(1) <= e37Row.getLong(0))
    assert(e37Row.getLong(4) <= e37Row.getLong(5), "p50 <= p90")
    // p40: rollup partitions the pinned eval slice
    val p40Rows = queries.Pipeline55.p40.run(spark, sfDir).collect()
    assert(p40Rows.map(_.getLong(1)).sum == 50L, "every pinned eval doc counted once")
    p40Rows.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
  }

  test("round-11 part-21 shapes (st10 cross-drop join state, d25 monotone budget)") {
    import org.apache.spark.sql.functions.{col, expr}
    // st10: the engine's match set must equal the batch interval
    // join exactly — any join-state eviction that loses an in-range
    // pair (or late-drop that loses a side) breaks set equality
    val got = queries.Pipeline56.st10.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ev = Tables.events(spark, sfDir)
    val want = ev.filter(col("event_type") === "error")
      .selectExpr("event_id AS e_id", "ts AS e_ts").as("e")
      .join(ev.filter(col("event_type") === "purchase")
        .selectExpr("event_id AS p_id", "ts AS p_ts").as("p"),
        expr("p_ts >= e_ts AND p_ts < e_ts + INTERVAL 60 SECONDS"))
      .selectExpr("e_id", "p_id", "unix_micros(p_ts) - unix_micros(e_ts) AS gap_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, s"engine matches (${got.size}) != batch (${want.size})")
    // sf0.001 is sparse enough that the 60 s window may hold no
    // pairs — emptiness equality is still the semantics; the driver
    // gate at sf0.01/0.1 exercises 90 / 9274 real matches
    // d25: the bigger signature budget must not lose candidates'
    // calibration sanity: n_both <= min(n_est, n_true)
    val d25Rows = queries.Pipeline56.d25.run(spark, sfDir).collect()
    assert(d25Rows.map(_.getLong(0)).toSeq == Seq(8L, 16L))
    d25Rows.foreach { r =>
      assert(r.getLong(4) <= math.min(r.getLong(2), r.getLong(3)))
      assert(r.getLong(5) <= 1000000L && r.getLong(6) <= 1000000L)
    }
  }

  test("round-11 part-22 shapes (e38 weekly anti semantics, q73 complete grid, t42 symmetric matrix)") {
    val e38Rows = queries.Pipeline57.e38.run(spark, sfDir).collect()
    e38Rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "view-only bounded by viewers")
      assert(r.getLong(3) == r.getLong(2) * 1000000L / r.getLong(1))
    }
    // q73: the grid is COMPLETE (S × P incl. empty cells) and cell
    // counts sum to the orders table
    val q73Rows = queries.Pipeline57.q73.run(spark, sfDir).collect()
    val nS = q73Rows.map(_.getString(0)).distinct.length
    val nP = q73Rows.map(_.getString(1)).distinct.length
    assert(q73Rows.length == nS * nP, "grid must be complete")
    assert(q73Rows.map(_.getLong(2)).sum == Tables.orders(spark, sfDir).count())
    // t42: strictly-upper-triangular pair matrix over the source
    // catalog; jaccard micro shares bounded
    val t42Rows = queries.Pipeline57.t42.run(spark, sfDir).collect()
    val srcs = Tables.documents(spark, sfDir).select("source").distinct().count()
    assert(t42Rows.length == srcs * (srcs - 1) / 2 ||
      t42Rows.length <= srcs * (srcs - 1) / 2, "at most one row per unordered pair")
    t42Rows.foreach { r =>
      assert(r.getString(0) < r.getString(1))
      assert(r.getLong(2) <= math.min(r.getLong(3), r.getLong(4)))
      assert(r.getLong(5) <= 1000000L)
    }
  }

  test("round-11 part-23 shapes (d26 flow mass identity, s34 bounded recall)") {
    import org.apache.spark.sql.functions.{col, countDistinct, expr}
    // d26: total flow mass must equal docs minus distinct fingerprints
    // (every non-keeper member flows exactly once) — holds even when
    // the corpus has no exact dups at this SF
    val flow = queries.Pipeline58.d26.run(spark, sfDir).collect()
    val fp = Tables.documents(spark, sfDir)
      .selectExpr(s"${operators.TextOps.strHash60("text")} AS fp")
    val nDocs = Tables.documents(spark, sfDir).count()
    val nFp = fp.agg(countDistinct(col("fp"))).collect().head.getLong(0)
    assert(flow.map(_.getLong(2)).sum == nDocs - nFp,
      "flow mass == docs - distinct fingerprints")
    val s34Rows = queries.Pipeline58.s34.run(spark, sfDir).collect()
    assert(s34Rows.map(_.getLong(0)).toSeq == Seq(1L, 5L, 10L))
    s34Rows.foreach { r =>
      assert(r.getLong(1) == 10L, "the pinned query set")
      assert(r.getLong(2) <= r.getLong(0) * r.getLong(1), "hits bounded by k*q")
      assert(r.getLong(3) <= 1000000L)
    }
  }

  test("round-11 part-24 shapes (m14 every payload round-trips, p42 composed identities)") {
    // m14: the verdict must be TOTAL — every payload of every kind
    // round-trips byte-exactly (a single lossy kind breaks this)
    val m14Rows = queries.Pipeline59.m14.run(spark, sfDir).collect()
    assert(m14Rows.map(_.getString(0)).sorted.toSeq == Seq("audio", "image", "video"))
    m14Rows.foreach(r => assert(r.getLong(1) == r.getLong(2),
      s"${r.getString(0)}: ${r.getLong(2)}/${r.getLong(1)} round-trips"))
    // p42: the composed numbers must recompute from their source
    // operators run standalone
    val p42Row = queries.Pipeline59.p42.run(spark, sfDir).collect().head
    val sav = operators.Dedup.segmentDedupSavings(
        Tables.documents(spark, sfDir), "text", 8).collect()
    assert(p42Row.getLong(0) == sav.map(_.getLong(1)).sum, "total tokens compose")
    assert(p42Row.getLong(1) == sav.map(_.getLong(4)).sum, "effective tokens compose")
    assert(p42Row.getLong(2) ==
      (BigInt(p42Row.getLong(0) - p42Row.getLong(1)) * 1000000 / p42Row.getLong(0)).toLong)
  }

  test("round-11 part-25 shapes (c13 partition + no cartesian, q74 bucketed cumsum + threshold mass, s35 bounded clusters)") {
    // c13: SCCs PARTITION the node set — sizes are consistent within a
    // component, the min label is a member (scc_id <= node never
    // violated since every node reaches itself), and the closure plan
    // stays equi-join (no cartesian product)
    val c13 = queries.Pipeline60.c13.run(spark, sfDir)
    val c13Plan = finalPlan(c13)
    assert(!c13Plan.contains("CartesianProduct"), s"closure must equi-join:\n$c13Plan")
    val sccRows = c13.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(sccRows.nonEmpty)
    sccRows.groupBy(_._2).foreach { case (id, g) =>
      assert(g.map(_._3).distinct.length == 1, s"scc $id sizes disagree")
      assert(g.length.toLong == g.head._3, s"scc $id claimed size != member count")
      assert(g.map(_._1).min == id, s"scc label $id must be its min member")
    }
    assert(sccRows.map(_._1).distinct.length == sccRows.length,
      "a node must land in exactly one component")

    // q74: the cumulative sum must come from the BUCKETED parallel
    // window (hash-partitioned on the bucket column), not a
    // single-partition global window; and the picked mass must equal
    // the exact threshold count floor((total-1-off)/step)+1
    val q74 = queries.Pipeline60.q74.run(spark, sfDir)
    val q74Plan = finalPlan(q74)
    assert(bucketKeyed(q74Plan),
      s"per-bucket cumsum must hash-partition on the bucket:\n$q74Plan")
    val base = Tables.orders(spark, sfDir)
      .selectExpr("cast(round(o_totalprice * 100) as bigint) AS w").collect()
    val total = base.map(_.getLong(0)).sum
    val step = math.max(total / 100, 1L)
    val off = step / 2
    val expectPicks = (total - 1 - off) / step + 1
    assert(q74.collect().map(_.getLong(2)).sum == expectPicks,
      "systematic sampling must place exactly one pick per threshold")

    // s35: clusters come from the fixed codebook id range; silhouette
    // stays in [0, 1e6]; the per-cluster masses sum to the vectors
    // that ranked >= 2 centroids (all of them on this corpus)
    val s35 = queries.Pipeline60.s35.run(spark, sfDir).collect()
    val nVecs = Tables.embeddings(spark, sfDir).count()
    assert(s35.map(_.getLong(1)).sum == nVecs, "every vector scores")
    s35.foreach { r =>
      assert(r.getLong(0) >= 0 && r.getLong(0) < 16)
      assert(r.getLong(3) >= 0 && r.getLong(3) <= 1000000L,
        s"cluster ${r.getLong(0)} mean silhouette out of range: ${r.getLong(3)}")
    }
  }

  test("round-11 part-28 shapes (q76 bucketed rank identity, t43 bounded shuffles, m15 crossing bound)") {
    // q76: the exclusive-cumcount must come from the PARALLEL
    // per-bucket window (hash-partitioned on the value bucket), never
    // a single-partition global window over the distinct-value frame;
    // and the Gini must be scale-invariant in the weights (pure
    // inequality measure): doubling every weight leaves gini_micro
    // unchanged while total doubles
    val q76 = queries.Pipeline63.q76.run(spark, sfDir)
    val q76Plan = finalPlan(q76)
    assert(bucketKeyed(q76Plan),
      s"per-bucket cumsum must hash-partition on the bucket:\n$q76Plan")
    assert(!q76Plan.contains("CartesianProduct"), s"no cartesian:\n$q76Plan")
    val r76 = q76.collect()(0)
    val cents2 = Tables.orders(spark, sfDir)
      .selectExpr("cast(round(o_totalprice * 100) as bigint) * 2 AS w")
    val dbl = graft.operators.Curate.giniExact(cents2, "w").collect()(0)
    assert(dbl.getLong(2) == r76.getLong(2),
      "Gini must be invariant under uniform weight scaling")
    assert(dbl.getLong(1) == 2L * r76.getLong(1))

    // t43: the repeat probability is bounded by the most-common-type
    // share squared-ish: for every source, floor bounds — 0 <= micro
    // <= 1e6 — and the type count never exceeds the token count
    val t43 = queries.Pipeline63.t43.run(spark, sfDir).collect()
    assert(t43.nonEmpty)
    t43.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "types cannot exceed tokens")
      assert(r.getLong(3) >= 0L && r.getLong(3) <= 1000000L)
    }

    // m15: crossings are bounded by adjacent pairs, and zcr_micro is
    // exactly crossings*1e6 div (n-1) — recomputed from the row itself
    val m15 = queries.Pipeline63.m15.run(spark, sfDir).collect()
    assert(m15.nonEmpty)
    m15.foreach { r =>
      val (n, x, z) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(x <= math.max(0L, n - 1), "crossings bounded by adjacent pairs")
      assert(z == (if (n < 2) 0L else x * 1000000L / (n - 1)))
    }
  }

  test("round-11 part-29 shapes (q77 grid totals, q78 bucketed identity, t44 type partition)") {
    // q77: shares must sum to the total (the 9-row grid partitions the
    // positive values), every deviation is |share - pinned constant|,
    // and the plan carries no cartesian beyond the 1-row total
    val q77 = queries.Pipeline64.q77.run(spark, sfDir)
    val rows77 = q77.collect()
    assert(rows77.length == 9)
    val total = rows77.head.getLong(2)
    assert(rows77.map(_.getLong(1)).sum == total,
      "digit counts must partition the positive values")
    rows77.foreach { r =>
      assert(r.getLong(5) == math.abs(r.getLong(3) - r.getLong(4)))
    }

    // q78: the bucketed cumulative weight must be the flat-window
    // identity — recompute the median in-memory from the same frame
    val li = Tables.lineitem(spark, sfDir)
      .selectExpr("cast(round(l_extendedprice * 100) as bigint) AS c",
        "cast(round(l_quantity) as bigint) AS w").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val g = li.groupBy(_._1).map { case (v, s) => v -> s.map(_._2).sum }
      .toSeq.sortBy(_._1)
    val tot = g.map(_._2).sum
    var cum = 0L
    val (mv, ca) = g.collectFirst {
      case (v, w) if { cum += w; cum * 2 >= tot } => (v, cum)
    }.get
    val q78 = queries.Pipeline64.q78.run(spark, sfDir)
    assert(bucketKeyed(q78Plan(q78)),
      "per-bucket cumweight must hash-partition on the bucket")
    val r78 = q78.collect()(0)
    assert((r78.getLong(0), r78.getLong(1), r78.getLong(2)) === ((mv, tot, ca)))

    // t44: hapax + dis never exceed the type count; shares bounded
    queries.Pipeline64.t44.run(spark, sfDir).collect().foreach { r =>
      assert(r.getLong(2) + r.getLong(3) <= r.getLong(1))
      assert(r.getLong(4) >= 0L && r.getLong(4) <= 1000000L)
    }
  }

  private def q78Plan(df: DataFrame): String = finalPlan(df)

  test("round-11 part-30 shapes (c15 vs c14 consistency, p43 grid identities, m16 mass)") {
    // c15 and c14 run the SAME BFS core — their reachability columns
    // must agree node for node, and ecc is bounded by n_reachable
    // (each BFS round discovers >= 1 new target on the path to the
    // farthest one)
    val ecc = queries.Pipeline65.c15.run(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val har = queries.Pipeline62.c14.run(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(ecc.keySet == har.keySet)
    ecc.foreach { case (n, (e, r)) =>
      assert(r == har(n), s"node $n reach count disagrees across BFS faces")
      assert(e <= r, s"node $n ecc $e exceeds its reachable count $r")
      assert((e == 0) == (r == 0))
    }

    // p43: epoch 0 equals the natural share and the last epoch the
    // uniform share for EVERY source; weights move monotonically
    val p43 = queries.Pipeline65.p43.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val sources = p43.keys.map(_._2).toSeq.distinct
    sources.foreach { s =>
      val (nat, uni, w0) = p43((0L, s))
      assert(w0 == nat, s"$s epoch 0 must be natural")
      assert(p43((3L, s))._3 == uni, s"$s last epoch must be uniform")
      val ws = (0 to 3).map(e => p43((e.toLong, s))._3)
      assert(ws == ws.sorted || ws == ws.sorted.reverse,
        s"$s anneal must be monotone: $ws")
    }

    // m16: histogram buckets partition the channel bytes (sum = 3·w·h)
    queries.Pipeline65.m16.run(spark, sfDir).collect().foreach { r =>
      val (w, h) = (r.getLong(1), r.getLong(2))
      val hist = r.getLong(6) + r.getLong(7) + r.getLong(8) + r.getLong(9)
      assert(hist == 3 * w * h, s"media ${r.getLong(0)} histogram mass")
      Seq(3, 4, 5).foreach(i =>
        assert(r.getLong(i) >= 0 && r.getLong(i) <= 255, "means are byte-ranged"))
    }
  }

  test("round-11 part-31 shapes (q79 window skyline == N^2 dominance, broadcast frontier)") {
    // the window decomposition must reproduce the textbook NOT EXISTS
    // dominance definition exactly — brute-force the small SF
    val o = Tables.orders(spark, sfDir).selectExpr("o_orderkey",
      "cast(o_orderdate as string) AS day",
      "cast(round(o_totalprice * 100) as bigint) AS cents").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val brute = o.filter { case (_, d, c) =>
      !o.exists { case (_, d2, c2) =>
        d2 <= d && c2 >= c && (d2 < d || c2 > c)
      }
    }.map(_._1).toSet
    val q79 = queries.Pipeline66.q79.run(spark, sfDir)
    val got = q79.collect().map(_.getLong(0)).toSet
    assert(got === brute, "window skyline must equal the N^2 dominance definition")
    val plan = finalPlan(q79)
    assert(plan.contains("BroadcastHashJoin"),
      s"the date-domain frontier frame must broadcast back onto the scan:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
  }

  test("round-11 part-32 shapes (e39 bounds + bucketed rank, s36 composes s30's universe)") {
    // e39: top share bounded by [k/n share-of-rows-if-uniform, 1e6];
    // the cumulative rank must come from the bucketed parallel window
    val e39 = queries.Pipeline67.e39.run(spark, sfDir)
    assert(bucketKeyed(finalPlan(e39)),
      "descending cumcount must ride the bucketed window")
    val r = e39.collect()(0)
    val (n, k, total, top, share) = (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4))
    assert(k == (10 * n + 999) / 1000)
    assert(top <= total && share <= 1000000L)
    assert(share * n >= 1000000L * k - n,
      "top-k rows by weight can never hold less than k/n of the mass (floor slack)")

    // s36: the Gini must be computed over EXACTLY s30's list universe —
    // n_rows = s30's k_lists and total_weight = s30's n_vecs
    val s30 = queries.Pipeline47.s30.run(spark, sfDir).collect()(0)
    val s36 = queries.Pipeline67.s36.run(spark, sfDir).collect()(0)
    assert(s36.getLong(0) == s30.getLong(0),
      "gini row count must equal s30's k_lists")
    assert(s36.getLong(1) == s30.getLong(1),
      "gini total weight must equal s30's n_vecs")
    assert(s36.getLong(2) >= 0L && s36.getLong(2) < 1000000L)
  }

  test("round-11 part-34 shapes (p44 executes exactly p43's schedule)") {
    // p44's target rates must be EXACTLY p43's weights div 1000 for
    // every (epoch, source); per-source doc counts are epoch-invariant
    // (the same corpus is sampled each epoch); and samples never
    // exceed the population
    val sched = queries.Pipeline65.p43.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(4)).toMap
    val p44 = queries.Pipeline69.p44.run(spark, sfDir).collect()
    assert(p44.nonEmpty)
    val docsBySrc = p44.groupBy(_.getString(1))
      .map { case (s, rows) => s -> rows.map(_.getLong(3)).distinct }
    docsBySrc.foreach { case (s, counts) =>
      assert(counts.length == 1, s"source $s doc count must be epoch-invariant")
    }
    p44.foreach { r =>
      val key = (r.getLong(0), r.getString(1))
      assert(r.getLong(2) == sched(key) / 1000,
        s"$key realized rate must be the p43 weight div 1000")
      assert(r.getLong(4) <= r.getLong(3), s"$key samples exceed population")
    }
  }

  test("round-11 part-37 shapes (c16 dyad identities, q82 bucketed ranks + bounds)") {
    // c16: the Holland–Leinhardt identities must hold in-plan —
    // every directed edge is one arm of exactly one dyad
    val c = queries.Pipeline72.c16.run(spark, sfDir).collect().head
    val (nN, nE, m, a, nul, rec) = (c.getLong(0), c.getLong(1),
      c.getLong(2), c.getLong(3), c.getLong(4), c.getLong(5))
    assert(2 * m + a == nE, "directed edges must decompose into 2·mutual + asym")
    assert(m + a + nul == nN * (nN - 1) / 2, "dyads must partition all node pairs")
    assert(rec >= 0L && rec <= 1000000L)

    // q82: both rank maps must ride the bucketed parallel window (no
    // single-partition global cumsum over the big frames), and rho
    // stays in [-1e6, 1e6] (the synthetic corpus draws price
    // independently of quantity, so |rho| is small — bounds only)
    val q82 = queries.Pipeline72.q82.run(spark, sfDir)
    assert(bucketKeyed(finalPlan(q82)),
      "rank cumcounts must ride the value-range bucketed window")
    val r = q82.collect().head
    assert(r.getLong(0) > 0L)
    assert(r.getLong(2) >= -1000000L && r.getLong(2) <= 1000000L)
  }

  test("round-11 part-38 shapes (q83 bounded cell join + pair identity, q84 U identity)") {
    // q83: the O(N^2) pair statistics must come from the BOUNDED
    // joint-domain cell frame (a broadcast non-equi join, never a
    // shuffled cartesian), and every unordered pair lands in exactly
    // one concordance class: n0 = C + D + tieX + tieY - tieXY
    val q83 = queries.Pipeline73.q83.run(spark, sfDir)
    val plan83 = finalPlan(q83)
    assert(plan83.contains("BroadcastNestedLoopJoin"),
      "cell-pair products must ride a broadcast join over the bounded cells")
    assert(!plan83.contains("CartesianProduct"))
    val r = q83.collect().head
    val (n, c, dd, tx, ty, txy) = (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5))
    assert(c + dd + tx + ty - txy == n * (n - 1) / 2,
      "concordance classes must partition all pairs")
    assert(r.getLong(6).abs <= 1000000L && r.getLong(7).abs <= 1000000L)

    // q84: the combined rank map rides the bucketed window, and the
    // two doubled U's must satisfy U_R + U_N = n_R * n_N exactly
    val q84 = queries.Pipeline73.q84.run(spark, sfDir)
    assert(bucketKeyed(finalPlan(q84)),
      "combined rank cumcount must ride the value-range bucketed window")
    val u = q84.collect().head
    assert(u.getLong(2) + u.getLong(3) == 2 * u.getLong(0) * u.getLong(1),
      "doubled Mann-Whitney U identity must hold")
    assert(u.getLong(4) >= 0L && u.getLong(4) <= 1000000L)
  }

  test("round-11 part-39 shapes (e40 single user shuffle, t45 first-sighting mass identity)") {
    // e40: the lead window and the per-user agg must share ONE
    // user-keyed exchange — a second shuffle on the same key is the
    // regression this audit exists to catch
    val e40 = queries.Pipeline74.e40.run(spark, sfDir)
    // the AQE plan string repeats in its "Initial Plan" section —
    // audit only the final plan
    val plan = finalPlan(e40).split("== Initial Plan ==").head
    assert("Exchange hashpartitioning\\(user_id".r
      .findAllIn(plan).size == 1,
      s"window + agg must reuse one user-keyed exchange:\n$plan")
    e40.collect().foreach { r =>
      assert(r.getLong(1) >= 2L && r.getLong(2) > 0L)
    }

    // t45: every distinct shingle hash is attributed to exactly one
    // doc, so sum(n_novel) == corpus distinct-shingle count and
    // sum(n_trigrams) == total (doc, shingle) incidence mass
    val docs = Tables.documents(spark, sfDir)
    val ex = graft.operators.Dedup.shingleHashSets(docs, "text", 3)
      .selectExpr("doc_id", "explode(hs) AS sgl")
    val vocab = ex.select("sgl").distinct().count()
    val mass = ex.count()
    val t45 = queries.Pipeline74.t45.run(spark, sfDir).collect()
    assert(t45.map(_.getLong(3)).sum == vocab,
      "first sightings must partition the distinct-shingle vocabulary")
    assert(t45.map(_.getLong(2)).sum == mass)
    t45.foreach(r => assert(r.getLong(3) <= r.getLong(2)))
  }

  test("round-11 part-40 shapes (s37 self-fidelity + bounds, candidates match s28 universe)") {
    // s37: rho in [-1e6, 1e6]; int8 keeps dims to ~0.8% relative
    // error so the whole-ranking fidelity must be strongly positive;
    // every query ranks the same candidate universe
    val s37 = queries.Pipeline75.s37.run(spark, sfDir).collect()
    assert(s37.nonEmpty)
    val nCands = s37.map(_.getLong(1)).distinct
    assert(nCands.length == 1, "all queries rank the same candidate universe")
    s37.foreach { r =>
      val rho = r.getLong(2)
      assert(rho > 0L && rho <= 1000000L,
        s"q ${r.getLong(0)}: int8 rank fidelity must be strongly positive, got $rho")
    }
  }

  test("round-11 part-41 shapes (q85 convexity + bucketed cumsum, e41 CV^2 >= 0)") {
    // q85: the Lorenz curve is convex from below — shares monotone,
    // each decile's share at most its rank share, decile 10 exactly
    // the whole mass; the rank lookup rides the bucketed window
    val q85 = queries.Pipeline76.q85.run(spark, sfDir)
    assert(bucketKeyed(finalPlan(q85)),
      "rank/mass cumsums must ride the value-range bucketed window")
    val rows = q85.collect().sortBy(_.getLong(0))
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(0) * 100000L,
        s"decile ${r.getLong(0)}: ascending mass share can't exceed rank share")
    }
    assert(rows.map(_.getLong(3)).sliding(2).forall(p => p(0) <= p(1)))
    assert(rows.last.getLong(3) == 1000000L, "decile 10 holds all the mass")

    // e41: Cauchy-Schwarz makes n*sum(g^2) >= (sum g)^2 — CV^2 >= 0
    queries.Pipeline76.e41.run(spark, sfDir).collect().foreach { r =>
      assert(r.getLong(3) >= 0L && r.getLong(1) > 0L)
    }
  }

  test("round-11 part-43 shapes (p45 keeper partition identity, m17 run bounds)") {
    // p45: keepers partition the corpus — sum(n_kept) equals the
    // independent distinct-fingerprint count, masses reconcile
    val docs = Tables.documents(spark, sfDir)
    val nFp = docs
      .selectExpr(s"${graft.operators.TextOps.tokens("text")} AS t")
      .selectExpr(s"${graft.operators.TextOps.strHash60("concat_ws(' ', slice(t, 1, 40))")} AS fp")
      .distinct().count()
    val p45 = queries.Pipeline78.p45.run(spark, sfDir).collect()
    assert(p45.map(_.getLong(2)).sum == nFp,
      "per-source keepers must sum to the distinct-fingerprint count")
    p45.foreach { r =>
      assert(r.getLong(3) == r.getLong(1) - r.getLong(2))
      assert(r.getLong(5) <= r.getLong(4) && r.getLong(6) <= 1000000L)
    }

    // m17: run structure bounds hold on every clip
    queries.Pipeline78.m17.run(spark, sfDir).collect().foreach { r =>
      val (n, q, runs, mx) = (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))
      assert(q <= n && mx <= q && runs <= q)
      assert((q == 0 && runs == 0 && mx == 0) || (runs >= 1 && mx >= 1))
      assert(runs * mx >= q, "no run exceeds max_run (pigeonhole)")
    }
  }

  test("round-11 part-44 shapes (d27 mass identities vs corpus and p45, t46 bucketed lookup)") {
    // d27's histogram must account for every document, and its group
    // count must equal p45's keeper count (same fingerprint universe)
    val d27 = queries.Pipeline79.d27.run(spark, sfDir).collect()
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(d27.map(_.getLong(2)).sum == nDocs,
      "group sizes × counts must sum to the corpus")
    val p45Keep = queries.Pipeline78.p45.run(spark, sfDir)
      .collect().map(_.getLong(2)).sum
    assert(d27.map(_.getLong(1)).sum == p45Keep,
      "one keeper per group: d27 groups == p45 keepers")

    // t46: the rank lookup rides the bucketed window; quantiles are
    // monotone in p and each rank lands inside the corpus
    val t46 = queries.Pipeline79.t46.run(spark, sfDir)
    assert(bucketKeyed(finalPlan(t46)),
      "quantile rank lookup must ride the value-range bucketed window")
    val rows = t46.collect().sortBy(_.getLong(0))
    assert(rows.map(_.getLong(3)).sliding(2).forall(p => p(0) <= p(1)),
      "quantiles must be monotone in p")
    rows.foreach(r => assert(r.getLong(2) >= 1L && r.getLong(2) <= r.getLong(1)))
  }

  test("round-11 part-45 shapes (q86 clamp sandwich + bucketed lookup, q87 pair frame)") {
    val q86 = queries.Pipeline80.q86.run(spark, sfDir)
    assert(bucketKeyed(finalPlan(q86)),
      "winsorized lookups must ride the value-range bucketed window")
    val r = q86.collect().head
    val (n, k, vLo, vHi, m) = (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))
    assert(k == n / 10 && vLo <= vHi)
    assert(m >= vLo && m <= vHi,
      "every clamped value lies in [v_lo, v_hi], so the mean must too")

    val q87 = queries.Pipeline80.q87.run(spark, sfDir).collect().head
    assert(q87.getLong(0) >= 1L && q87.getLong(1) > 0L)
  }

  test("round-11 part-46 shapes (q88 grouped bucketed windows + fence bounds, s38 no pair join)") {
    // the q88 result is checkpointed (its own plan is a scan), so the
    // grouped-window claim is audited on the groupedMedian builder
    val base = Tables.orders(spark, sfDir).selectExpr(
      "o_orderpriority AS g", "cast(round(o_totalprice * 100) as bigint) AS c")
    val medPlan = finalPlan(queries.Pipeline81.groupedMedian(base))
    assert(medPlan.contains("hashpartitioning(g"),
      "grouped medians must ride the (group, bucket) windows")
    queries.Pipeline81.q88.run(spark, sfDir).collect().foreach { r =>
      assert(r.getLong(3) >= 0L && r.getLong(4) <= r.getLong(1))
      assert(r.getLong(5) <= 1000000L)
    }

    // s38: the N^2 pair space must never materialize — no self-join
    // of the embeddings scan, just partial aggs
    val s38 = queries.Pipeline81.s38.run(spark, sfDir)
    val plan = finalPlan(s38).split("== Initial Plan ==").head
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "cohesion must come from the centroid identity, not pair dots")
    s38.collect().foreach(r => assert(r.getLong(1) > 1L))
  }

  test("round-11 part-47 shapes (q89 merged-state gini == one-shot q76 cell-exact)") {
    // the associativity claim, asserted engine-side too: the Gini
    // computed from two merged slice states must equal q76's one-shot
    val oneShot = queries.Pipeline63.q76.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val merged = queries.Pipeline82.q89.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(merged.toSeq == oneShot.toSeq,
      "slice states merged must reproduce the one-shot gini cell-exactly")
  }

  test("round-11 part-48 shapes (q90 dup bounds, e42 hop-mass identity + grouped windows)") {
    val q90 = queries.Pipeline83.q90.run(spark, sfDir).collect().head
    val (n, grps, dups, mx, micro) = (q90.getLong(0), q90.getLong(1),
      q90.getLong(2), q90.getLong(3), q90.getLong(4))
    assert(dups < n && micro <= 1000000L)
    assert((grps == 0 && dups == 0 && mx == 0) || (mx >= 2 && dups >= grps))

    val e42 = queries.Pipeline83.e42.run(spark, sfDir)
    assert(finalPlan(e42).contains("hashpartitioning(g"),
      "per-pair medians must ride the grouped bucketed windows")
    val rows = e42.collect()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(org.apache.spark.sql.functions.col("user_id"))
      .orderBy(org.apache.spark.sql.functions.col("ts"),
        org.apache.spark.sql.functions.col("event_id"))
    val nHops = Tables.events(spark, sfDir)
      .withColumn("b", org.apache.spark.sql.functions.lead(
        org.apache.spark.sql.functions.col("event_type"), 1).over(w))
      .filter(org.apache.spark.sql.functions.col("b").isNotNull).count()
    assert(rows.map(_.getLong(2)).sum == nHops,
      "per-pair hop counts must sum to all transitions")
  }

  test("round-11 part-49 shapes (q91 quartile order + bounds, t47 consistent with t46 corpus face)") {
    val q91 = queries.Pipeline84.q91.run(spark, sfDir)
    assert(bucketKeyed(finalPlan(q91)),
      "quartile lookups must ride the value-range bucketed window")
    val r = q91.collect().head
    assert(r.getLong(1) <= r.getLong(2) && r.getLong(2) <= r.getLong(3))
    assert(r.getLong(4).abs <= 1000000L,
      "Bowley skewness is bounded in [-1, 1] by construction")

    // t47's per-source sentence counts must sum to t46's corpus count
    val t47 = queries.Pipeline84.t47.run(spark, sfDir).collect()
    val corpusN = queries.Pipeline79.t46.run(spark, sfDir)
      .collect().head.getLong(1)
    assert(t47.map(_.getLong(1)).sum == corpusN,
      "per-source sentence counts must partition the corpus")
  }

  test("round-11 part-50 shapes (c18 rank-mass conservation over the dup-flow graph)") {
    // exact-integer PageRank conserves mass up to per-node truncation
    // slack: sum(rank) <= n * 1e6, and loses at most ~1 micro per
    // node per round (5 rounds + teleport rounding)
    val rows = queries.Pipeline85.c18.run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val n = rows.length.toLong
    val total = rows.map(_.getLong(1)).sum
    assert(total <= n * 1000000L, "rank mass can never exceed n (micro)")
    assert(total >= n * 1000000L - n * 1000L,
      s"truncation slack bound blown: $total vs ${n * 1000000L}")
    rows.foreach(r => assert(r.getLong(1) >= 150000L - 1L,
      "every node holds at least the teleport share"))
  }

  test("round-11 part-51 shapes (d28 cross-query consistency, q92 bounds)") {
    // d28's flag counts must reconcile with the queries that own each
    // tier: prefix dups == corpus minus p45's keepers-of-singletons...
    // the exact identity: n_prefix_dup == sum over d27 groups with
    // size >= 2 of their doc mass
    val d28 = queries.Pipeline86.d28.run(spark, sfDir).collect().head
    val d27 = queries.Pipeline79.d27.run(spark, sfDir).collect()
    val prefixDupMass = d27.filter(_.getLong(0) >= 2L).map(_.getLong(2)).sum
    assert(d28.getLong(2) == prefixDupMass,
      "prefix-dup flags must equal d27's size>=2 doc mass")
    assert(d28.getLong(3) <= math.min(d28.getLong(1), d28.getLong(2)))
    assert(d28.getLong(4) >= 0L && d28.getLong(4) <= 1000000L)

    // q92: quartile order and the [0, 1e6] bound (values positive)
    val r = queries.Pipeline86.q92.run(spark, sfDir).collect().head
    assert(r.getLong(1) <= r.getLong(2))
    assert(r.getLong(3) >= 0L && r.getLong(3) <= 1000000L)
  }

  test("sstable scan reports size stats so small scans auto-broadcast in joins") {
    import org.apache.spark.sql.functions.col
    val atoms = GraftSSTable.readAtoms(spark,
      "/root/reference/aegisthus-hadoop/src/test/resources/testdata/2.0.10/randomtable/input",
      Map("skipCorrupt" -> "true")).select(col("key"))
    val big = spark.range(200000)
      .select(col("id"), col("id").cast("string").cast("binary").as("key"))
    val plan = finalPlan(big.join(atoms, "key"))
    assert(plan.contains("BroadcastHashJoin"),
      s"a KB-sized sstable scan must broadcast, not sort-merge:\n$plan")
  }

  test("round-12 shapes: q41 has no Expand, t39 has no sources×vocab grid") {
    // q41 (VERDICT r11 #1): per-column two-level aggs, never the
    // multi-distinct Expand whose (C+1)× replication regressed it 23×
    val q41 = finalPlan(queries.Pipeline12.q41.run(spark, sfDir))
    assert(!q41.contains("Expand"),
      s"q41 must not plan a multi-distinct Expand:\n$q41")
    // t39 (VERDICT r11 #5): the TV closed form joins only PRESENT
    // (source, term) pairs — the only non-equi join is the 1-row
    // n_total broadcast; no unbounded×unbounded cross product
    val t39 = finalPlan(queries.Pipeline46.t39.run(spark, sfDir))
    assert(!t39.contains("CartesianProduct"),
      s"t39 must not materialize the sources×vocab grid:\n$t39")
    // the AQE string repeats the plan ("Final" + "Initial") — count
    // nested-loop joins in the final segment only
    val t39Final = t39.split("== Initial Plan ==").head
    assert(t39Final.split("BroadcastNestedLoopJoin").length <= 2,
      s"t39: the only nested-loop join is the 1-row n_total broadcast:\n$t39")
    // d29 (VERDICT r11 #2): seed occurrences join the cross-doc hash
    // set by EQUALITY — a hot boilerplate shingle must cost O(its
    // occurrences), never a pair join
    val d29 = finalPlan(queries.Pipeline88.d29.run(spark, sfDir))
    assert(!d29.contains("CartesianProduct") &&
      !d29.contains("BroadcastNestedLoopJoin"),
      s"d29 candidate generation must stay an equi-join:\n$d29")
  }

  test("sstable scan prunes to the required atom columns (F6)") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val keysOnly = GraftSSTable.readAtoms(spark,
      "/root/reference/aegisthus-hadoop/src/test/resources/testdata/2.0.10/randomtable/input",
      Map("skipCorrupt" -> "true")).select("key")
    keysOnly.collect()
    val scan = keysOnly.queryExecution.executedPlan.collect { case b: BatchScanExec => b }.head
    assert(scan.output.map(_.name) == Seq("key"))
  }

  test("round-15 shapes (d37 equi-only audit, q93/q94 no cartesian over keys, p60 broadcast assignment)") {
    // d37: the rare set joins occurrences by hash EQUALITY — never a
    // broadcast of the (huge at scale) rare-window set, never a pair
    // join
    val d37 = finalPlan(queries.Pipeline98.d37.run(spark, sfDir))
    assert(!d37.contains("CartesianProduct") &&
      !d37.contains("BroadcastNestedLoopJoin"),
      s"d37 must stay an equi-join on the window hash:\n$d37")
    // q93: the only joins are the tiny histogram/rank lookups — the
    // key-sized frame itself never joins anything
    val q93 = finalPlan(queries.Pipeline99.q93.run(spark, sfDir))
    assert(!q93.contains("CartesianProduct"),
      s"q93 must not cross anything unbounded:\n$q93")
    // q94: two 1-row stat frames cross — every nested-loop join in
    // the plan must be a broadcast of a 1-row side (the stats), which
    // AQE renders as BroadcastNestedLoopJoin over singletons
    val q94 = finalPlan(queries.Pipeline101.q94.run(spark, sfDir))
    assert(!q94.contains("CartesianProduct"),
      s"q94 must not plan a real cartesian product:\n$q94")
    // p60: assignment is ONE scan against the broadcast k-row center
    // frame folded by a partial-aggregable min(struct) — no
    // SortMergeJoin against the corpus, no cartesian
    val p60 = finalPlan(queries.Pipeline103.p60.run(spark, sfDir))
    assert(!p60.contains("CartesianProduct"),
      s"p60 must broadcast the center frame:\n$p60")
    // d38: the pair matrix is a broadcast self-join of the O(sources)
    // sketch frame; the doc-level side never self-joins
    val d38 = finalPlan(queries.Pipeline101.d38.run(spark, sfDir))
    assert(!d38.contains("CartesianProduct"),
      s"d38 must broadcast the source-sketch frame:\n$d38")
  }

  test("round-16 shapes (t53 map-only, d40 banded equi-join, p62/p63 no cartesian)") {
    // t53: a pure projection — the deliberate O(w)-per-token cost is
    // arithmetic, not data movement; any Exchange here is a
    // regression
    val t53 = finalPlan(graft.operators.TextOps.mattrDiversity(
      Tables.documents(spark, sfDir), "text", 25))
    assert(!t53.contains("Exchange"),
      s"t53 must stay a map-only projection (no shuffle):\n$t53")
    // d40: conversation near-dup rides the audited banded machinery —
    // band-bucket EQUI-joins only, never a cartesian/nested-loop pair
    // plan over conversations
    val d40 = finalPlan(queries.Pipeline106.d40.run(spark, sfDir))
    assert(!d40.contains("CartesianProduct") &&
      !d40.contains("BroadcastNestedLoopJoin"),
      s"d40 must stay band-bucket equi-joins:\n$d40")
    // p62: the composition adds only conv-keyed equi-joins to the
    // audited stage plans
    val p62 = finalPlan(queries.Pipeline106.p62.run(spark, sfDir))
    assert(!p62.contains("CartesianProduct"),
      s"p62 must compose via conv-keyed equi-joins:\n$p62")
    // p63: everything after the conv-keyed accounting runs on the
    // O(sources) frame
    val p63 = finalPlan(queries.Pipeline106.p63.run(spark, sfDir))
    assert(!p63.contains("CartesianProduct"),
      s"p63 must stay keyed aggregations over O(sources) rows:\n$p63")
  }
}
