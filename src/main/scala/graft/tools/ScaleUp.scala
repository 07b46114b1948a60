package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Synthesize an N×-scaled slice of the test corpus for measured
  * scale-up evidence (VERDICT r10 Next #1): the plan-shape audits
  * argue 100 TB readiness from sf0.1 — this tool makes the claim
  * falsifiable by producing a slice `factor`× larger with the SAME
  * per-row statistics plus the adversarial realism the small corpus
  * lacks, so `graft.BenchScale` can measure per-query scaling
  * exponents instead of trusting prose.
  *
  * Scaling rules (key strides keep every copy disjoint):
  *  - `lineitem`/`orders`: order keys shifted per copy; customer /
  *    part / supplier references UNCHANGED — dimensions stay fixed
  *    (the TPC-H convention for nation/region applied throughout), so
  *    each dim join's fan-out grows exactly linearly.
  *  - `events`: event AND user ids shifted per copy — `factor`× users
  *    at the same per-user event density, so user-partitioned windows
  *    keep their partition size and gain partitions (the scale path a
  *    real event log follows).
  *  - `documents`: doc ids shifted; per copy ~15% of docs keep their
  *    text VERBATIM (cross-copy exact duplicates — dedup realism),
  *    the rest get a copy-specific near-dup mutation appended; and in
  *    EVERY copy ~25% of docs are prefixed with one shared
  *    boilerplate header (the globally-hot-shingle case that makes
  *    uncapped inverted-index joins quadratic — t31/d02's adversarial
  *    input).
  *  - `embeddings`: vec ids shifted; non-zero copies get a
  *    deterministic per-(id, component) micro-perturbation (near-dup
  *    neighborhoods rather than exact collisions).
  *  - dims (`region nation customer supplier part`): copied verbatim.
  *
  * Usage: ScaleUp <srcDir> <outDir> <factor>
  */
object ScaleUp {

  private val Boilerplate =
    "all rights reserved terms of service apply to this page content"

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleUp <srcDir> <outDir> <factor>")
    val Array(src, out, factorS) = args
    val factor = factorS.toInt
    require(factor >= 1 && factor <= 1000, s"factor out of range: $factor")
    val spark = graft.GraftSession("graft-scaleup")
    scale(spark, src, out, factor)
    spark.stop()
  }

  def scale(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode(SaveMode.Overwrite).parquet(s"$out/$t.parquet")
    // a copy index column 0..factor-1 cross-joined via explode keeps
    // the whole synthesis one distributed pass per table
    def copies(df: DataFrame): DataFrame =
      df.selectExpr(s"explode(sequence(0, ${factor - 1})) AS __copy", "*")

    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(t => write(read(t), t))

    // shift only the listed key columns; every other column rides
    // through untouched (schema-agnostic — the testdata tables carry
    // a subset of the full TPC-H columns)
    def shifted(t: String, strides: Map[String, Long]): DataFrame = {
      val df = read(t)
      strides.keys.foreach(k => require(df.columns.contains(k),
        s"$t lacks key column $k"))
      copies(df).selectExpr(df.columns.map { c =>
        strides.get(c) match {
          case Some(s) => s"$c + __copy * ${s}L AS $c"
          case None => c
        }
      }: _*)
    }

    write(shifted("orders", Map("o_orderkey" -> 1000000L)), "orders")
    write(shifted("lineitem", Map("l_orderkey" -> 1000000L)), "lineitem")
    write(shifted("events",
      Map("event_id" -> 1000000L, "user_id" -> 10000L)), "events")

    write(copies(read("documents"))
      .selectExpr("doc_id + __copy * 10000L AS doc_id",
        // 25% boilerplate header in EVERY copy; per non-zero copy 15%
        // verbatim duplicates, the rest near-dup mutated
        "concat(if(doc_id % 4 = 0, " +
          s"'$Boilerplate ', ''), text, " +
          "if(__copy = 0 OR doc_id % 20 < 3, '', " +
          "concat(' c', cast(__copy as string), 'x', " +
          "cast(doc_id % 97 as string)))) AS text",
        "lang", "source", "n_chars")
      .selectExpr("doc_id", "text", "lang", "source",
        "cast(length(text) as bigint) AS n_chars"),
      "documents")

    write(copies(read("embeddings"))
      .selectExpr("vec_id + __copy * 10000L AS vec_id",
        "if(__copy = 0, embedding, " +
          "transform(embedding, (x, j) -> cast(x + " +
          "(pmod((vec_id + __copy * 10000L) * 31 + j, 1001) - 500) / 100000.0" +
          " as float))) AS embedding",
        "label"),
      "embeddings")
  }
}
