package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Full operator registry; each entry is one operator from
    * SURVEY.md §2 (or the extended LLM-pipeline surface). */
  def registry: Seq[QueryDef] =
    Relational.all ++ Relational2.all ++ Pipeline.all ++ Pipeline2.all ++
      Pipeline3.all ++ Pipeline4.all ++ Pipeline5.all ++ Pipeline6.all ++
      Pipeline7.all ++ Pipeline8.all ++ Pipeline9.all ++ Pipeline10.all ++
      Pipeline11.all ++ Pipeline12.all ++ Pipeline13.all ++ Pipeline14.all ++
      Pipeline15.all ++ Pipeline16.all ++ Pipeline17.all ++ Pipeline18.all ++
      Pipeline19.all ++ Pipeline20.all ++ Pipeline21.all ++ Pipeline22.all ++
      Pipeline23.all ++ Pipeline24.all ++ Pipeline25.all ++ Pipeline26.all ++
      Pipeline27.all ++ Pipeline28.all ++ Pipeline29.all ++ Pipeline30.all ++
      Pipeline31.all ++ Pipeline32.all ++ Pipeline33.all ++ Pipeline34.all ++
      Pipeline35.all ++ Pipeline36.all ++ Pipeline37.all ++ Pipeline38.all ++
      Pipeline39.all ++ Pipeline40.all ++ Pipeline41.all ++ Pipeline42.all ++ Pipeline43.all ++ Pipeline44.all ++ Pipeline45.all ++ Pipeline46.all ++ Pipeline47.all ++ Pipeline48.all ++ Pipeline49.all ++ Pipeline50.all ++ Pipeline51.all ++ Pipeline52.all ++ Pipeline53.all ++ Pipeline54.all ++ Pipeline55.all ++ Pipeline56.all ++ Pipeline57.all ++ Pipeline58.all ++ Pipeline59.all ++ Pipeline60.all ++ Pipeline61.all ++ Pipeline62.all ++ Pipeline63.all ++ Pipeline64.all ++ Pipeline65.all ++ Pipeline66.all ++ Pipeline67.all ++ Pipeline68.all ++ Pipeline69.all ++ Pipeline70.all ++ Pipeline71.all ++ Pipeline72.all ++ Pipeline73.all ++ Pipeline74.all ++ Pipeline75.all ++ Pipeline76.all ++ Pipeline77.all ++ Pipeline78.all ++ Pipeline79.all ++ Pipeline80.all ++ Pipeline81.all ++ Pipeline82.all ++ Pipeline83.all ++ Pipeline84.all ++ Pipeline85.all ++ Pipeline86.all ++ Pipeline87.all ++ Pipeline88.all ++ Pipeline89.all ++ Pipeline90.all ++ Pipeline91.all ++ Pipeline92.all ++ Pipeline93.all ++ Pipeline94.all ++ Pipeline95.all ++ Pipeline96.all ++ Pipeline97.all ++ Pipeline98.all ++ Pipeline99.all ++ Pipeline100.all ++ Pipeline101.all ++ Pipeline102.all ++ Pipeline103.all ++ Pipeline104.all ++ Pipeline105.all ++ Pipeline106.all ++
      Seq(cassCompaction, cassCompactionTyped, cassDiff, cassRoundtripCompressed,
        cassStreamCompaction, cassCompactionMixed)

  /** One shared per-JVM root for the synthetic sstable fixtures below.
    * The fixture bytes are deterministic, so re-writing them on every
    * invocation is idempotent — but the bench harness runs each query
    * n>=3 times, and a fresh temp dir per invocation leaked a
    * directory per run. Removed on JVM exit. */
  private lazy val fixtureRoot: java.io.File = {
    val d = java.nio.file.Files.createTempDirectory("graft_fixtures").toFile
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def del(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(del)
        f.delete(): Unit
      }
      del(d)
    }))
    d
  }

  /** Write a deterministic jb-version sstable fixture (driver-local
    * path — the registry queries run local-mode per the driver
    * contract; a cluster deployment would stage fixtures on a shared
    * filesystem). On a failed row write the stream is closed AND the
    * partial file deleted, so the shared fixture root can never
    * re-serve a truncated Data.db. package-private: DiffSnapshotsSpec
    * writes its fixtures through the same helper. */
  private[graft] def writeFixture(file: java.io.File, rows: Seq[graft.sstable.CompactedRow]): Unit = {
    file.getParentFile.mkdirs()
    val f = new java.io.DataOutputStream(new java.io.FileOutputStream(file))
    try rows.foreach(graft.sstable.SSTableWriter.writeRow(f, _,
      graft.sstable.SSTableVersion("jb")))
    catch {
      case e: Throwable =>
        try f.close() finally file.delete()
        throw e
    }
    f.close()
  }

  /** The reference's core operator (SURVEY §2.4 A1): distributed
    * SSTable compaction over the reference's own binary fixtures
    * (independent of sfDir). The oracle is the reference's checked-in
    * golden output itself, loaded line-wise by DuckDB — so the driver
    * hash-compares our distributed compaction byte-for-byte against
    * the reference run (same proof the SSTableGoldenSpec makes). */
  val cassCompaction: QueryDef = QueryDef(
    "cass_compaction",
    (s, _) => {
      import org.apache.spark.sql.functions._
      val root = "/root/reference/aegisthus-hadoop/src/test/resources/testdata"
      val atoms = GraftSSTable.readAtoms(s, s"$root/2.0.10/randomtable/input",
        Map("skipCorrupt" -> "true"))
      GraftSSTable.aegJsonLines(GraftSSTable.compact(atoms))
        .toDF("key", "line")
        .select(col("line"))
        .orderBy(col("line"))
    },
    // the golden file contains no '|' (verified), so a '|' delimiter
    // with quoting disabled yields exactly one VARCHAR column per line
    Some("""SELECT line FROM read_csv(
        '/root/reference/aegisthus-hadoop/src/test/resources/testdata/2.0.10/randomtable/aeg_json_output/aeg-00000',
        delim='|', header=false, quote='', escape='', columns={'line': 'VARCHAR'})
      ORDER BY line"""))

  /** Typed-comparator compaction (O1, the `aegisthus.columntype`
    * analog) through the driver gate: a deterministic two-sstable
    * fixture with LongType column names whose byte order and numeric
    * order DISAGREE (-1 vs 2 vs 100), written through the real
    * SSTableWriter, read with the `columnType` reader option, merged
    * distributed. The oracle pins the exact expected aeg-JSON line —
    * numeric name order, LWW across files, LongType rendering. */
  val cassCompactionTyped: QueryDef = QueryDef(
    "cass_compaction_typed",
    (s, _) => {
      import graft.sstable._
      val tmp = new java.io.File(fixtureRoot, "typed"); tmp.mkdirs()
      def longB(v: Long): Array[Byte] =
        java.nio.ByteBuffer.allocate(8).putLong(v).array()
      def cell(n: Long, v: String, ts: Long) =
        CellOut(SSTableFormat.KindColumn, longB(n), v.getBytes, ts, None, None, None)
      def write(name: String, cells: Seq[CellOut]): Unit =
        writeFixture(new java.io.File(tmp, name),
          Seq(CompactedRow("key1".getBytes, Long.MinValue, cells)))
      write("ks-cf-jb-1-Data.db", Seq(cell(2L, "two", 10L), cell(-1L, "neg-old", 5L)))
      write("ks-cf-jb-2-Data.db", Seq(cell(-1L, "neg-new", 20L), cell(100L, "hundred", 10L)))
      val atoms = GraftSSTable.readAtoms(s, tmp.toString, Map("columnType" -> "LongType"))
      GraftSSTable.aegJsonLines(GraftSSTable.compact(atoms), nameType = "LongType")
        .toDF("key", "line").select("line")
    },
    Some("""SELECT '6b657931' || chr(9) ||
      '{"6b657931":{"deletedAt":-9223372036854775808,"columns":' ||
      '[["-1","6e65672d6e6577",20],["2","74776f",10],["100","68756e64726564",10]]}}'
      AS line"""))

  /** Snapshot diff ([[GraftSSTable.diffSnapshots]]) through the driver
    * gate: two deterministic snapshots of one CF written through the
    * real SSTableWriter — a row that is identical in both, a row whose
    * cell is overwritten by a newer timestamp, a row only in the old
    * snapshot, and a row only in the new one — compacted independently
    * and full-outer-diffed on the raw key. The oracle pins the exact
    * (key_hex, status) matrix. */
  val cassDiff: QueryDef = QueryDef(
    "cass_diff",
    (s, _) => {
      import graft.sstable._
      import org.apache.spark.sql.functions.col
      val root = new java.io.File(fixtureRoot, "diff")
      def cell(n: String, v: String, ts: Long) =
        CellOut(SSTableFormat.KindColumn, n.getBytes, v.getBytes, ts, None, None, None)
      def write(dir: String, name: String, rows: Seq[CompactedRow]): Unit =
        writeFixture(new java.io.File(new java.io.File(root, dir), name), rows)
      def row(k: String, cells: Seq[CellOut]) =
        CompactedRow(k.getBytes, Long.MinValue, cells)
      write("old", "ks-cf-jb-1-Data.db", Seq(
        row("k1", Seq(cell("c1", "same", 10L))),
        row("k2", Seq(cell("c1", "old", 10L))),
        row("k3", Seq(cell("c1", "gone", 10L)))))
      write("new", "ks-cf-jb-1-Data.db", Seq(
        row("k1", Seq(cell("c1", "same", 10L))),
        row("k2", Seq(cell("c1", "new", 20L))),
        row("k4", Seq(cell("c1", "born", 10L)))))
      GraftSSTable.diffSnapshots(s, s"$root/old", s"$root/new")
        .select(col("key_hex"), col("status"))
        .orderBy(col("key_hex"))
    },
    Some("""SELECT * FROM (VALUES
        ('6b31', 'same'), ('6b32', 'changed'), ('6b33', 'removed'),
        ('6b34', 'added')) AS t(key_hex, status)
      ORDER BY key_hex"""))

  /** Compressed write→split→scan→compact round-trip AT BENCH SCALE
    * (VERDICT r9 next #8): the S4 chunk-aligned compressed-split
    * improvement (the reference's own wishlist, `README.md:40-41`) was
    * previously proven byte-identical only on KB-scale fixtures; this
    * line times it on a ~25 MB two-file LZ4 table written through the
    * real compressed writer WITH Index.db sidecars, re-read with a
    * 1 MiB blocksize so the planner must produce chunk-aligned
    * compressed splits (`multi_split` pins > 1 partitions in the
    * hash-compared result), compacted distributed, and aggregated.
    * The oracle REGENERATES the corpus from `range()` and computes the
    * same aggregates from first principles — so the driver hash proves
    * the full write+split+decompress+decode+merge path loses nothing. */
  val cassRoundtripCompressed: QueryDef = QueryDef(
    "cass_roundtrip_compressed",
    (s, _) => {
      import org.apache.spark.sql.functions._
      import s.implicits._
      import graft.sstable._
      val nRows = 120000L
      val dir = new java.io.File(fixtureRoot, "roundtrip-compressed").toString
      implicit val enc: org.apache.spark.sql.Encoder[CompactedRow] =
        org.apache.spark.sql.Encoders.product[CompactedRow]
      val rows = s.range(0L, nRows, 1L, 8).as[Long].map { i =>
        val cells = (0 until 4).map { j =>
          CellOut(SSTableFormat.KindColumn, s"c$j".getBytes,
            (s"v$j-$i" + "x" * ((i + j) % 17).toInt).getBytes,
            1000L + j, None, None, None)
        }
        CompactedRow(f"k$i%07d".getBytes, Long.MinValue, cells)
      }
      GraftSSTable.writeSSTable(rows, dir, numFiles = 2, compress = true,
        chunkLength = 16384, writeIndex = true)
      val atoms = GraftSSTable.readAtoms(s, dir,
        Map("blocksize" -> "1048576", "combine" -> "false"))
      val nParts = atoms.rdd.getNumPartitions
      GraftSSTable.compact(atoms)
        .map { r =>
          (new String(r.key, "UTF-8").drop(1).toLong,
            r.columns.size.toLong,
            r.columns.map(_.value.length.toLong).sum)
        }
        .toDF("k", "c", "vb")
        .agg(count(lit(1)).as("rows_n"), sum("c").as("cells_n"),
          sum("k").as("key_sum"), sum("vb").as("val_bytes"))
        .withColumn("multi_split", lit(nParts > 1))
    },
    Some("""SELECT
        CAST(120000 AS BIGINT) AS rows_n,
        CAST(480000 AS BIGINT) AS cells_n,
        CAST((SELECT sum(i) FROM range(0, 120000) t(i)) AS BIGINT) AS key_sum,
        CAST((SELECT sum(2 + length(CAST(j AS VARCHAR)) + length(CAST(i AS VARCHAR)) + (i + j) % 17)
              FROM range(0, 120000) t(i) CROSS JOIN range(0, 4) u(j)) AS BIGINT) AS val_bytes,
        true AS multi_split"""))

  /** MIXED-VERSION compaction against the reference's own combined
    * golden: the 2.0.10 + 1.2.18 fixture tree (two on-disk sstable
    * format generations in ONE input — the fleet-upgrade scenario
    * the reference's combined test pins) batch-compacted distributed
    * and hash-compared line-by-line against the reference's
    * `aeg_json_output` for that tree. Same plan as cass_compaction;
    * what's under test is the version sniffing (X10) + per-version
    * decoders agreeing inside one merge. */
  val cassCompactionMixed: QueryDef = QueryDef(
    "cass_compaction_mixed",
    (s, _) => {
      import org.apache.spark.sql.functions._
      val root = "/root/reference/aegisthus-hadoop/src/test/resources/testdata/2.0.10_1.2.18_combined"
      val atoms = GraftSSTable.readAtoms(s, s"$root/randomtable/input",
        Map("skipCorrupt" -> "true"))
      GraftSSTable.aegJsonLines(GraftSSTable.compact(atoms))
        .toDF("key", "line")
        .select(col("line"))
        .orderBy(col("line"))
    },
    Some("""SELECT line FROM read_csv(
        '/root/reference/aegisthus-hadoop/src/test/resources/testdata/2.0.10_1.2.18_combined/randomtable/aeg_json_output/aeg-00000',
        delim='|', header=false, quote='', escape='', columns={'line': 'VARCHAR'})
      ORDER BY line"""))

  /** The STREAMING compaction engine against the reference's own
    * golden output: the same fixture tree cass_compaction batch-
    * compacts is fed file-by-file (maxFilesPerTrigger=1) through the
    * sstable MicroBatchStream into
    * [[graft.streaming.StreamingCompaction.compactIncremental]], which
    * folds each micro-batch with the per-key state through the batch
    * merge under mapGroupsWithState; the per-key FINAL state (last
    * update wins, idempotent per-batch parquet sink) must agree with
    * the golden file's per-key deletedAt and live-column count — the
    * oracle parses the reference's own aeg-json lines with DuckDB's
    * JSON reader. Proves the fold converges to the batch answer on
    * the reference's data, range tombstones included, not just on
    * writer-generated fixtures (StreamingCompactionSpec's chaos
    * cases). */
  val cassStreamCompaction: QueryDef = QueryDef(
    "cass_stream_compaction",
    (s, _) => {
      import org.apache.spark.sql.functions._
      import s.implicits._
      val root = "/root/reference/aegisthus-hadoop/src/test/resources/testdata/2.0.10/randomtable/input"
      def fresh(name: String): java.io.File = {
        val f = new java.io.File(fixtureRoot, name)
        def del(x: java.io.File): Unit = {
          val kids = x.listFiles(); if (kids != null) kids.foreach(del)
          x.delete(): Unit
        }
        del(f); f
      }
      val sink = fresh("stream_sink")
      val ckpt = fresh("stream_ckpt")
      val atoms = s.readStream.format("sstable")
        .option("maxFilesPerTrigger", "1").option("skipCorrupt", "true")
        .load(root).as[graft.sstable.AtomRec]
      val q = graft.streaming.StreamingCompaction.compactIncremental(atoms)
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch(
          (df: org.apache.spark.sql.Dataset[graft.streaming.StreamingCompaction.RowUpdate],
            id: Long) => df.write.mode("overwrite").parquet(s"$sink/batch=$id"))
        .start()
      try q.processAllAvailable() finally q.stop()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("keyHex")).orderBy(col("batch").desc)
      s.read.parquet(sink.toString)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .selectExpr("keyHex AS key_hex", "deletedAt AS deleted_at",
          "cast(nLiveColumns as bigint) AS n_live_columns")
        .orderBy(col("key_hex"))
    },
    Some("""WITH g AS (SELECT split_part(line, chr(9), 1) AS key_hex,
               split_part(line, chr(9), 2) AS j
             FROM read_csv(
               '/root/reference/aegisthus-hadoop/src/test/resources/testdata/2.0.10/randomtable/aeg_json_output/aeg-00000',
               delim='|', header=false, quote='', escape='',
               columns={'line': 'VARCHAR'}))
      SELECT key_hex,
        CAST(json_extract(j, '$.' || key_hex || '.deletedAt') AS BIGINT)
          AS deleted_at,
        CAST(json_array_length(json_extract(j, '$.' || key_hex || '.columns'))
          AS BIGINT) AS n_live_columns
      FROM g ORDER BY key_hex"""))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q06.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
