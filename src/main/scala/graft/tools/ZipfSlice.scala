package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Realistic-vocabulary scale slices for the pair-dedup family
  * (VERDICT r13 #1): [[ScaleUp]]'s document slices inherit the test
  * corpus's ~31-unigram vocabulary, so at 10×/100× EVERY 3-shingle
  * crosses the df cap and the capped candidate generators measure
  * zero-output runs (BENCH_SCALE Finding 2) — scale evidence for
  * d02/d08/d09/d31 that is vacuous by construction. This generator
  * synthesizes documents from a ZIPFIAN vocabulary (50k types,
  * s ≈ 1 — the published rank-frequency law real corpora follow, so
  * shingle doc-frequencies stay Heaps-sparse at scale) with
  * duplicate structure injected at CONTROLLED rates:
  *
  *  - 3% exact duplicates (verbatim copy of an earlier doc — d01/d21
  *    ground truth),
  *  - 6% near-duplicates (~8% token mutation → 3-gram Jaccard ≈ 0.6,
  *    above d02's 0.5 threshold — d02/d09 ground truth),
  *  - 4% containment (a full earlier doc embedded between fresh
  *    filler — d08 ground truth),
  *  - 4% aligned spans (a verbatim 25-token window spliced from an
  *    earlier doc — d29/d31 ground truth at k = 8),
  *  - 83% independent Zipf docs.
  *
  * Every token is a PURE function of (doc id, position) — xxhash64
  * chains, rank = floor(V^u) which realizes p(rank) ∝ 1/rank — so a
  * partner doc regenerates its source's tokens without a join: the
  * whole synthesis is ONE map-only distributed pass, deterministic
  * at any scale, and the pair-structure RATES (not the pair
  * locations) are what the scale factor preserves.
  *
  * Usage: ZipfSlice <outDir> <nDocs>
  */
object ZipfSlice {

  /** vocabulary size: 50k types keeps 3-shingle doc frequencies
    * Heaps-sparse at 500k docs while the Zipf head still produces a
    * small hot set (the realistic df-cap workload: the cap prunes
    * the head, the tail carries recall). */
  val V = 50000

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: ZipfSlice <outDir> <nDocs>")
    val Array(out, nDocsS) = args
    val nDocs = nDocsS.toLong
    require(nDocs >= 100 && nDocs <= 10000000L, s"nDocs out of range: $nDocs")
    val spark = graft.GraftSession("graft-zipf-slice")
    synthesize(spark, nDocs).write.mode(SaveMode.Overwrite)
      .parquet(s"$out/documents.parquet")
    synthesizeEmbeddings(spark, (nDocs * 2) / 5).write.mode(SaveMode.Overwrite)
      .parquet(s"$out/embeddings.parquet")
    spark.stop()
  }

  /** token j (0-based) of doc i's BASE stream, as a SQL expression:
    * u = uniform-from-hash in [0,1), rank = floor(V^u) + 1 ∈ [1, V]
    * (inverse-CDF Zipf: P(rank = r) = log((r+1)/r)/log(V+1) ≈
    * 1/(r·ln V)). `salt` decouples independent streams (base tokens
    * vs mutation replacements). */
  private def tok(salt: String, i: String, j: String): String =
    s"concat('w', cast(pow(${V + 1}.0d, " +
      s"pmod(xxhash64('$salt', $i, $j), 1000000) / 1000000.0d) as bigint))"

  /** doc i's base length: 45..150 tokens (≥ 45 so the aligned-span
    * splice window [20, 45) always fits). */
  private def lenOf(i: String): String =
    s"(45 + cast(pmod(xxhash64('len', $i), 106) as int))"

  /** doc i's base token array. */
  private def baseToks(i: String): String =
    s"transform(sequence(0, ${lenOf(i)} - 1), j -> ${tok("tok", i, "j")})"

  /** Companion embeddings table (testdata schema: vec_id BIGINT,
    * embedding ARRAY<FLOAT> dim 64, label INT; 2 vectors per 5 docs —
    * the testdata ratio) so the embedding-side queries (t23's dense
    * ranking, s-family) run on the Zipf slices too. Pure function of
    * (vec_id, dim) like the documents: base coordinates are
    * hash-uniform in [-0.5, 0.5); 10% of vectors are micro-perturbed
    * copies of an earlier vector (near-dup neighborhoods, the ScaleUp
    * convention — never exact collisions). */
  def synthesizeEmbeddings(spark: SparkSession, nVecs: Long): DataFrame = {
    val coord = (i: String, j: String) =>
      s"cast(pmod(xxhash64('emb', $i, $j), 1000000) / 1000000.0d - 0.5d as float)"
    val srcE = "pmod(xxhash64('esrc', id), id)"
    spark.range(0L, nVecs, 1L, 32)
      .selectExpr("id AS vec_id",
        s"""CASE WHEN id >= 100 AND pmod(id, 100) < 10 THEN
              transform(sequence(0, 63), j -> cast(${coord(srcE, "j")}
                + pmod(xxhash64('eps', id, j), 1000) / 1000000.0d as float))
            ELSE transform(sequence(0, 63), j -> ${coord("id", "j")})
          END AS embedding""",
        "cast(pmod(xxhash64('elabel', id), 10) as int) AS label")
  }

  def synthesize(spark: SparkSession, nDocs: Long): DataFrame = {
    // partner classes pick a uniformly-random EARLIER doc and
    // regenerate its token stream from the same pure function
    val src = "pmod(xxhash64('srcpick', id), id)"
    val toks =
      s"""CASE
        WHEN id >= 100 AND pmod(id, 100) < 3 THEN ${baseToks(src)}
        WHEN id >= 100 AND pmod(id, 100) < 9 THEN
          transform(${baseToks(src)},
            (x, j) -> if(pmod(xxhash64('mutgate', id, j), 100) < 8,
                         ${tok("mut", "id", "j")}, x))
        WHEN id >= 100 AND pmod(id, 100) < 13 THEN
          concat(transform(sequence(0, 39), j -> ${tok("fill", "id", "j")}),
                 ${baseToks(src)},
                 transform(sequence(40, 49), j -> ${tok("fill", "id", "j")}))
        WHEN id >= 100 AND pmod(id, 100) < 17 THEN
          transform(${baseToks("id")},
            (x, j) -> if(j >= 20 AND j < 45,
                         element_at(${baseToks(src)}, j - 14), x))
        ELSE ${baseToks("id")}
      END"""
    spark.range(0L, nDocs, 1L, 32)
      .selectExpr("id AS doc_id", s"array_join($toks, ' ') AS text",
        "element_at(array('en','de','fr','es','it'), " +
          "1 + cast(pmod(xxhash64('lang', id), 5) as int)) AS lang",
        "concat('src', pmod(xxhash64('source', id), 20)) AS source")
      .selectExpr("doc_id", "text", "lang", "source",
        "cast(length(text) as bigint) AS n_chars")
  }
}
