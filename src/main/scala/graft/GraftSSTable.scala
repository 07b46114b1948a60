package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import graft.sstable._

/** User-facing facade for the Cassandra-SSTable pipeline — the Spark
  * rebuild of the reference's main job (SURVEY §3.1):
  *
  * {{{
  * val atoms = GraftSSTable.readAtoms(spark, dir)        // S1–S8
  * val rows  = GraftSSTable.compact(atoms)               // O1–O3 + A1/F1/F2
  * GraftSSTable.writeAegJson(rows, out)                  // X6 sink
  * }}}
  *
  * The physical plan mirrors the reference's MR pipeline Spark-first:
  * custom DSv2 scan → `repartition(key)` (hash partitioning, O3) →
  * `sortWithinPartitions(key, name, ts)` (secondary sort, O1) →
  * `mapPartitions` streaming merge (A1), no collect_list. Rows stream,
  * but a row's surviving cells are buffered until the row ends: only
  * `maxRowSize` bounds a wide row, by dropping the cells past it.
  */
object GraftSSTable {

  def readAtoms(
      spark: SparkSession,
      path: String,
      options: Map[String, String] = Map.empty): DataFrame =
    options.foldLeft(spark.read.format("sstable"))((r, kv) => r.option(kv._1, kv._2)).load(path)

  /** Marshal types configured via the reader's `cql` / `keyType` /
    * `columnType` options (published by the source as schema metadata;
    * reference `Aegisthus.java:102-111`). */
  def configuredKeyType(atoms: DataFrame): Option[CassType] =
    atoms.schema.fields.find(_.name == "key")
      .filter(_.metadata.contains("keyType"))
      .map(f => CassType.parse(f.metadata.getString("keyType")))

  def configuredColumnType(atoms: DataFrame): Option[CassType] =
    atoms.schema.fields.find(_.name == "name")
      .filter(_.metadata.contains("columnType"))
      .map(f => CassType.parse(f.metadata.getString("columnType")))

  /** rows_written counter from the last compact() action (A3 analog of
    * the reference's batched counter, `CassSSTableReducer.java:107-118`
    * — Spark accumulators batch per-task automatically). */
  @volatile var rowsWritten: Option[org.apache.spark.util.LongAccumulator] = None

  /** A1 compaction. Input may be any union of per-file atom frames
    * (mixed sstable versions merge correctly — the shuffle interleaves
    * them by (key, name, ts) exactly like the reference's secondary
    * sort).
    *
    * @param columnType    column-name comparator (the reference's
    *                       `aegisthus.columntype`,
    *                       `AegisthusKeySortingComparator.java:35-61`):
    *                       the shuffle sort orders names by a
    *                       binary-comparable sort key derived per type
    *                       ([[CassType.sortKey]]) and the merge
    *                       compares the same keys for range-tombstone
    *                       coverage and LWW adjacency
    * @param numPartitions  <= 0 (default) takes the session's
    *                       `spark.sql.shuffle.partitions` — the real
    *                       scale knob; fixed values are for tests */
  def compact(
      atoms: DataFrame,
      columnType: CassType = CassType.BytesType,
      numPartitions: Int = -1,
      maxRowSize: Long = Long.MaxValue,
      rowCounter: Option[org.apache.spark.util.LongAccumulator] = None): Dataset[CompactedRow] = {
    val spark = atoms.sparkSession
    import spark.implicits._
    // callers composing several compactions (diffSnapshots) pass one
    // shared accumulator so the published rowsWritten covers all of
    // them instead of only the last compact() call
    val acc = rowCounter.getOrElse(
      spark.sparkContext.longAccumulator("compaction.rowsWritten"))
    rowsWritten = Some(acc)
    // default BytesType defers to a comparator configured on the scan
    // (cql/columnType reader option), like the reference's job config
    val (ct, parts) = resolveCompaction(atoms, columnType, numPartitions)
    sortedAtoms(atoms, ct, parts, traced = false)
      .mapPartitions { it =>
        Compaction.merge(it, ct, maxRowSize).map { r => acc.add(1L); r }
      }
  }

  /** comparator (explicit, else scan-configured, else Bytes) and
    * shuffle parallelism (explicit, else session) for a compaction. */
  private def resolveCompaction(
      atoms: DataFrame,
      columnType: CassType,
      numPartitions: Int): (CassType, Int) = {
    val ct = if (columnType == CassType.BytesType)
      configuredColumnType(atoms).getOrElse(columnType) else columnType
    val parts = if (numPartitions > 0) numPartitions
      else atoms.sparkSession.sessionState.conf.numShufflePartitions
    (ct, parts)
  }

  /** shared shuffle plan: hash-partition by key (O3), secondary-sort by
    * the comparator-derived binary sort key (O1). BytesType sorts the
    * raw name directly — no extra column through the shuffle. */
  private def sortedAtoms(
      atoms: DataFrame,
      ct: CassType,
      parts: Int,
      traced: Boolean): Dataset[AtomRec] = {
    val spark = atoms.sparkSession
    import spark.implicits._
    val base = atoms.select("key", "source", "rowDeletedAt", "kind", "name", "value", "ts",
        "ttl", "localDeletionTime", "tsOfLastDelete", "rtMax")
    def sortCols(nameCol: String) =
      if (traced) Seq(col("key"), col("source"), col(nameCol), col("ts"))
      else Seq(col("key"), col(nameCol), col("ts"))
    if (ct == CassType.BytesType) {
      // Spark BinaryType order == the BytesType comparator already
      base.repartition(parts, col("key"))
        .sortWithinPartitions(sortCols("name"): _*)
        .as[AtomRec]
    } else {
      // native codegen'd sort key (no ScalaUDF barrier in the shuffle
      // hot path — this runs once per atom of every typed compaction)
      graft.functions.CassFunctions.registerAll(spark)
      val sk = org.apache.spark.sql.functions.expr(
        s"cass_sort_key(name, '${ct.typeName}')")
      base.withColumn("_nameSort", sk)
        .repartition(parts, col("key"))
        .sortWithinPartitions(sortCols("_nameSort"): _*)
        .drop("_nameSort")
        .as[AtomRec]
    }
  }

  /** Trace-source compaction (O2): one row per (key, sourcePath). */
  def compactTraced(
      atoms: DataFrame,
      columnType: CassType = CassType.BytesType,
      numPartitions: Int = -1,
      maxRowSize: Long = Long.MaxValue): Dataset[(String, CompactedRow)] = {
    val spark = atoms.sparkSession
    import spark.implicits._
    val (ct, parts) = resolveCompaction(atoms, columnType, numPartitions)
    sortedAtoms(atoms, ct, parts, traced = true)
      .mapPartitions(it => Compaction.mergeTraced(it, ct, maxRowSize))
  }

  /** aeg-JSON lines for trace mode: `key\tsourcePath\t{json}`. */
  def aegJsonLinesTraced(rows: Dataset[(String, CompactedRow)]): Dataset[(Array[Byte], String)] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.map { case (src, r) =>
      (r.key, Compaction.toAegJson(r, traceSource = Some(src)))
    }
  }

  /** aeg-JSON lines (X6), keyed for ordering. The type names are
    * parsed here, on the driver: a bad name fails the call, not a task. */
  def aegJsonLines(
      rows: Dataset[CompactedRow],
      keyType: String = "BytesType",
      nameType: String = "BytesType",
      valueType: String = "BytesType",
      maxColSize: Long = -1L): Dataset[(Array[Byte], String)] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val (kt, nt, vt) = (CassType.parse(keyType), CassType.parse(nameType), CassType.parse(valueType))
    rows.map(r => (r.key, Compaction.toAegJson(r, kt, nt, vt, maxColSize)))
  }

  /** Snapshot diff — the ops question one compaction can't answer:
    * what changed between two snapshots of a column family? Both dirs
    * are compacted independently (each the standard one-shuffle plan)
    * and the compacted states compared key-by-key via a full-outer
    * equi-join on the raw key bytes; per-key equality is equality of
    * the rendered aeg-JSON line, which is deterministic (sorted
    * columns, canonical rendering), so "changed" is exact. Returns
    * (key_hex, status in {added, removed, changed, same}, old_line,
    * new_line) with null lines on the absent side. 100 TB shape: two
    * compaction shuffles + one sort-merge join keyed the same way —
    * no driver state, no collect. */
  def diffSnapshots(
      spark: SparkSession,
      oldDir: String,
      newDir: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    import org.apache.spark.sql.functions._
    // one shared counter across both compactions, so rowsWritten
    // reports the whole diff's row count, not just the new side's
    val acc = spark.sparkContext.longAccumulator("compaction.rowsWritten")
    // render with the types the scan configured (its cql/keyType/
    // columnType options, as SSTable2Json does) plus a valueType
    // render option, case-insensitive like DSv2, so old_line/new_line
    // match what writeAegJson emits for the same typed CF
    val vt = options.collectFirst { case (k, v) if k.equalsIgnoreCase("valueType") => v }
      .getOrElse("BytesType")
    def lines(dir: String) = {
      val atoms = readAtoms(spark, dir, options)
      aegJsonLines(compact(atoms, rowCounter = Some(acc)),
        keyType = configuredKeyType(atoms).fold("BytesType")(_.typeName),
        nameType = configuredColumnType(atoms).fold("BytesType")(_.typeName),
        valueType = vt).toDF("key", "line")
    }
    lines(oldDir).select(col("key"), col("line").as("old_line"))
      .join(lines(newDir).select(col("key"), col("line").as("new_line")),
        Seq("key"), "full_outer")
      .select(
        lower(hex(col("key"))).as("key_hex"),
        when(col("old_line").isNull, "added")
          .when(col("new_line").isNull, "removed")
          .when(col("old_line") =!= col("new_line"), "changed")
          .otherwise("same").as("status"),
        col("old_line"), col("new_line"))
  }

  /** Write aeg-%05d text files, one per partition, rows ordered by raw
    * key bytes (deterministic file naming per
    * `output/JsonOutputFormat.java:62-67`). `numFiles=1` reproduces a
    * single-reducer reference run byte-for-byte. Commits through
    * [[graft.sstable.TaskCommit]]: the files of a previous run are
    * replaced only once this job has succeeded. */
  def writeAegJson(
      rows: Dataset[CompactedRow],
      outDir: String,
      numFiles: Int = 1,
      keyType: String = "BytesType",
      nameType: String = "BytesType",
      valueType: String = "BytesType",
      maxColSize: Long = -1L): Unit = {
    val spark = rows.sparkSession
    import spark.implicits._
    val lines = aegJsonLines(rows, keyType, nameType, valueType, maxColSize)
      .toDF("key", "line").repartitionByRange(numFiles, col("key"))
      .sortWithinPartitions(col("key"))
      .select("line").as[String]
    TaskCommit.write(lines, outDir, AegJsonCodec.FileNames) { (fs, dir, idx, it) =>
      val w = AegJsonCodec.create(fs, dir, idx)
      it.foreach { l => w.write(l); w.write('\n') }
      w.close()
    }
  }

  /** Write compacted rows as new SSTables (M3 write surface):
    * `<dataset>-<version>-<part>-Data.db` per partition, rows ordered
    * by raw key bytes (reference `output/SSTableOutputFormat.java`).
    * Supports both layout families ("ic" and "jb"/"la").
    * `compress=true` writes chunked-LZ4 Data.db files plus their
    * CompressionInfo.db sidecars — byte-compatible with Cassandra's
    * pre-3.0 on-disk compression, readable back through this engine's
    * own compressed scan (incl. chunk-aligned splits). */
  def writeSSTable(
      rows: Dataset[CompactedRow],
      outDir: String,
      version: String = "jb",
      dataset: String = "keyspace-dataset",
      numFiles: Int = 1,
      compress: Boolean = false,
      chunkLength: Int = 65536,
      codec: String = "LZ4Compressor",
      writeIndex: Boolean = false): Unit = {
    val sorted = rows.toDF("key", "deletedAt", "columns")
      .repartitionByRange(numFiles, col("key"))
      .sortWithinPartitions(col("key"))
      .as(org.apache.spark.sql.Encoders.product[CompactedRow])
    val names = (java.util.regex.Pattern.quote(s"$dataset-$version-") +
      raw"\d{10,}-(Data|CompressionInfo|Index)\.db").r
    TaskCommit.write(sorted, outDir, names) { (fs, dir, idx, it) =>
      val path = new org.apache.hadoop.fs.Path(dir, f"$dataset-$version-$idx%010d-Data.db")
      val raw = new java.io.BufferedOutputStream(fs.create(path, true))
      val v = SSTableVersion(version)
      val cos = if (compress) Some(new CompressionOutputStream(raw, chunkLength, codec)) else None
      // the Index.db sidecar records each row's offset in
      // UNCOMPRESSED space (the scanner's IndexScanner contract —
      // for compressed tables the split planner maps those to
      // chunk boundaries), so the counter sits ABOVE the
      // compressor on the plain byte stream
      var uPos = 0L
      val target: java.io.OutputStream = cos.getOrElse(raw)
      val counted = new java.io.OutputStream {
        override def write(b: Int): Unit = { target.write(b); uPos += 1 }
        override def write(b: Array[Byte], off: Int, len: Int): Unit = {
          target.write(b, off, len); uPos += len
        }
        override def flush(): Unit = target.flush()
        override def close(): Unit = target.close()
      }
      val os = new java.io.DataOutputStream(counted)
      val ix = if (writeIndex) {
        val ixPath = new org.apache.hadoop.fs.Path(dir, f"$dataset-$version-$idx%010d-Index.db")
        Some(new java.io.DataOutputStream(
          new java.io.BufferedOutputStream(fs.create(ixPath, true))))
      } else None
      it.foreach { row =>
        // entry layout mirrors IndexScanner exactly:
        // [u16 keyLen][key][i64 dataOffset][i32 promotedLen = 0]
        ix.foreach { i =>
          i.writeShort(row.key.length); i.write(row.key)
          i.writeLong(uPos); i.writeInt(0)
        }
        SSTableWriter.writeRow(os, row, v)
      }
      ix.foreach(_.close())
      cos.foreach { c =>
        val (dataLength, offsets) = c.finish()
        val ciPath = new org.apache.hadoop.fs.Path(dir,
          f"$dataset-$version-$idx%010d-CompressionInfo.db")
        val ci = new java.io.DataOutputStream(fs.create(ciPath, true))
        CompressionOutputStream.writeCompressionInfo(
          ci, codec, chunkLength, dataLength, offsets)
        ci.close()
      }
      os.close()
    }
  }

  /** Read aeg-JSON output back as a DataFrame (the Pig-loader
    * replacement, SURVEY §3.3): key, deletedAt, columns array of cell
    * structs; `clean=true` (the reference default) drops tombstoned /
    * row-shadowed columns and rows left empty. Backed by the PRUNING
    * [[graft.sstable.AegJsonSource]] DSv2 source: projection pushes
    * into the parse itself (keys-only scans skip cell parsing
    * entirely, matching `AegisthusLoader.java:215-241`), and files
    * split by newline-aligned byte ranges. The source is also
    * WRITABLE (`df.write.format("aegjson").save(dir)` with the same
    * schema) through the sinks' one commit protocol,
    * [[graft.sstable.TaskCommit]]: tasks stage their files and the
    * driver publishes them only after every task succeeds; overwrite
    * mode replaces every `aeg-NNNNN` file, append never replaces one —
    * a surface the reference's read-only Pig loader never had. */
  def readAegJson(spark: SparkSession, path: String, clean: Boolean = true,
      mapView: Boolean = false): DataFrame =
    spark.read.format("aegjson").option("clean", clean.toString)
      .option("mapView", mapView.toString).load(path)

  /** Pivot compacted CQL3 rows to a relational DataFrame per a CQL
    * CREATE TABLE schema (SURVEY §3.2 / M4), incl. collections; write
    * with `.write.parquet(...)` for the columnar export path.
    * `maxRowBytes` is the wide-row valve (see [[graft.cql.CqlPivot.pivot]]). */
  def pivotToRelational(rows: Dataset[CompactedRow], cql: String,
      maxRowBytes: Long = Long.MaxValue): DataFrame =
    graft.cql.CqlPivot.pivot(rows, cql, maxRowBytes)

  /** Avro export of a (pivoted) DataFrame — the reference's
    * `SSTableExport` Avro sink (`SSTableExport.java:174-181`); parquet
    * via `.write.parquet` remains the preferred columnar target. */
  def writeAvro(df: DataFrame, outDir: String, dataset: String = "export",
      numFiles: Int = -1): Unit =
    AvroSink.write(df, outDir, dataset, numFiles)

  /** Driver-side corrupt-file threshold check (A3 / reference
    * `Aegisthus.java:246-257`): call after an action over a scan read
    * with skipCorrupt=true. */
  def assertCorruptFilesBelow(max: Long): Unit = {
    val n = SSTableSource.corruptFiles.map(_.value.toLong).getOrElse(0L)
    require(n <= max, s"Corrupt files skipped ($n) exceeded threshold ($max)")
  }

  /** Driver-side wide-row threshold check for the CQL pivot valve
    * (same A3 pattern): call after an action over
    * `pivotToRelational(..., maxRowBytes)`. */
  def assertPivotRowsTooBigBelow(max: Long): Unit = {
    val n = graft.cql.CqlPivot.rowsTooBig.map(_.value.toLong).getOrElse(0L)
    require(n <= max, s"Pivot rows dropped as too big ($n) exceeded threshold ($max)")
  }
}
