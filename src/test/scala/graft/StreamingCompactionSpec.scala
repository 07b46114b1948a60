package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sstable.{AtomRec, CassType, CellOut, CompactedRow, SSTableFormat, SSTableSource, SSTableVersion, SSTableWriter}
import graft.streaming.StreamingCompaction

/** Streaming compaction parity: the per-key fold of micro-batches
  * through the batch merge must agree with one batch compaction on the
  * reference fixtures (range tombstones included) and on typed
  * comparators, and reach the same state whatever the chunking and
  * arrival order. The restart-chaos, task-chaos and typed-comparator
  * cases need no file outside the repo; the fixture cases read the
  * reference corpus. */
class StreamingCompactionSpec extends AnyFunSuite {
  private val testRoot = "/root/reference/aegisthus-hadoop/src/test/resources/testdata"

  lazy val spark: SparkSession = TestUtil.session()

  test("incremental compaction (streaming engine) matches batch merge") {
    import spark.implicits._
    val atomsDf = GraftSSTable.readAtoms(spark, s"$testRoot/2.0.10/randomtable/input")
    val atoms = atomsDf.select("key", "source", "rowDeletedAt", "kind", "name", "value",
      "ts", "ttl", "localDeletionTime", "tsOfLastDelete", "rtMax").as[AtomRec]

    // drive through the actual streaming engine: stage atoms as
    // parquet, readStream, run mapGroupsWithState, memory sink
    val tmp = java.nio.file.Files.createTempDirectory("atoms").toString
    atoms.write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(atoms.schema).parquet(tmp).as[AtomRec]
    val q = StreamingCompaction.compactIncremental(stream)
      .writeStream.outputMode("update").format("memory").queryName("inc_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT keyHex, max(deletedAt) AS da, CAST(max(nLiveColumns) AS BIGINT) AS nc FROM inc_out GROUP BY keyHex")
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

      val batch = GraftSSTable.compact(atomsDf, numPartitions = 4).collect()
        .map(r => CassType.hex(r.key) -> (r.deletedAt, r.columns.size.toLong)).toMap

      assert(streamed.keySet == batch.keySet)
      batch.foreach { case (k, (da, nc)) =>
        assert(streamed(k) == ((da, nc)), s"key $k: streamed=${streamed(k)} batch=($da,$nc)")
      }
    } finally q.stop()
  }

  test("restart chaos: kill between batches, resume from checkpoint — sink state hash-matches the one-shot batch compaction") {
    // VERDICT r10 Next #7 (the StorageChaosSpec discipline applied to
    // compactIncremental): the query is STOPPED between micro-batches,
    // more sstable flushes land while it is down, and the restarted
    // query must resume from the checkpoint with its mapGroupsWithState
    // state intact. The discriminator is a row tombstone absorbed
    // before the kill: a late LOW-ts cell arriving after the restart
    // stays shadowed only if the state survived — a fresh state would
    // resurrect it. The sink is the idempotent per-batch-overwrite
    // recipe (each batch id owns its directory), so foreachBatch's
    // at-least-once redelivery collapses to exactly-once on disk.
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, max => smax, struct}
    val dir = java.nio.file.Files.createTempDirectory("sst-chaos").toFile
    val sinkDir = java.nio.file.Files.createTempDirectory("sst-chaos-sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("sst-chaos-ckpt").toString
    def flush(gen: Int, rows: Seq[(String, Long, Seq[(String, String, Long)])]): Unit = {
      val f = new java.io.DataOutputStream(new java.io.FileOutputStream(
        new java.io.File(dir, f"ks-cf-jb-$gen%04d-Data.db")))
      rows.foreach { case (key, deletedAt, cells) =>
        SSTableWriter.writeRow(f, CompactedRow(key.getBytes, deletedAt,
          cells.map { case (n, v, ts) =>
            CellOut(SSTableFormat.KindColumn, n.getBytes, v.getBytes, ts,
              None, None, None)
          }), SSTableVersion("jb"))
      }
      f.close()
    }
    def writeBatch(df: org.apache.spark.sql.Dataset[StreamingCompaction.RowUpdate],
        batchId: Long): Unit =
      df.write.mode("overwrite").parquet(s"$sinkDir/batch=$batchId")
    def runToCompletion(): Unit = {
      val atoms = spark.readStream.format("sstable")
        .option("maxFilesPerTrigger", "1")
        .load(dir.toString).as[AtomRec]
      val q = StreamingCompaction.compactIncremental(atoms)
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch((df: org.apache.spark.sql.Dataset[StreamingCompaction.RowUpdate],
          id: Long) => writeBatch(df, id))
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    flush(1, Seq(("k1", Long.MinValue, Seq(("c", "v1", 10L))),
      ("k2", 15L, Seq(("c", "x", 5L)))))
    runToCompletion() // batch 0 committed; query KILLED between batches

    // flushes landing while the query is down: an LWW overwrite for k1
    // and the late low-ts cell for k2 that the pre-kill tombstone must
    // keep shadowing (ts 3 < deletedAt 15 — dead IF state survived)
    flush(2, Seq(("k1", Long.MinValue, Seq(("c", "v2", 20L), ("d", "y", 20L)))))
    flush(3, Seq(("k2", Long.MinValue, Seq(("e", "late", 3L))),
      ("k3", Long.MinValue, Seq(("f", "z", 7L)))))
    runToCompletion() // resumes from the checkpoint

    // replay chaos: re-committing an already-committed batch id must be
    // a no-op on disk (the overwrite recipe) — rerun the writer with
    // the final state rows under the highest id
    val sunk = spark.read.parquet(sinkDir)
    val maxBatch = sunk.agg(smax(col("batch").cast("long"))).head.getLong(0)
    assert(maxBatch >= 1L, "the restart must have produced further batches")
    val replayRows = sunk.filter(col("batch") === maxBatch)
      .select(col("keyHex"), col("deletedAt"), col("nLiveColumns"))
      .as[StreamingCompaction.RowUpdate].collect().toSeq
    writeBatch(spark.createDataset(replayRows), maxBatch)

    // final per-key state = the row from each key's HIGHEST batch
    val fin = spark.read.parquet(sinkDir)
      .groupBy(col("keyHex"))
      .agg(smax(struct(col("batch").cast("long").as("batch"), col("deletedAt"),
        col("nLiveColumns"))).as("s"))
      .selectExpr("keyHex", "s.deletedAt AS da", "cast(s.nLiveColumns as bigint) AS nc")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val batch = GraftSSTable.compact(
        GraftSSTable.readAtoms(spark, dir.toString), numPartitions = 4)
      .collect()
      .map(r => CassType.hex(r.key) ->
        ((r.deletedAt, r.columns.count(_.ts > r.deletedAt).toLong))).toMap
    assert(fin.keySet == batch.keySet)
    batch.foreach { case (k, want) =>
      assert(fin(k) == want, s"key $k: streamed-final=${fin(k)} batch=$want")
    }
    // the discriminator really discriminates: k2's late cell must have
    // stayed dead (state survived the kill), not resurrected
    assert(fin(CassType.hex("k2".getBytes))._2 == 0L,
      "late low-ts cell must stay shadowed by the pre-restart tombstone")
  }

  test("typed comparators stream: DecimalType and LongType names compact as the batch merge does") {
    import spark.implicits._
    // final per-key (deletedAt, live columns) of a streaming run, and
    // how many micro-batches it took
    def streamed(atoms: org.apache.spark.sql.Dataset[AtomRec]): (Map[String, (Long, Long)], Int) = {
      val fin = scala.collection.concurrent.TrieMap.empty[String, (Long, Long)]
      val batches = new java.util.concurrent.atomic.AtomicInteger
      val q = StreamingCompaction.compactIncremental(atoms)
        .writeStream.outputMode("update")
        .foreachBatch { (df: org.apache.spark.sql.Dataset[StreamingCompaction.RowUpdate], _: Long) =>
          batches.incrementAndGet()
          df.collect().foreach(u => fin(u.keyHex) = (u.deletedAt, u.nLiveColumns.toLong))
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      (fin.toMap, batches.get)
    }
    def batch(atoms: org.apache.spark.sql.DataFrame): Map[String, (Long, Long)] =
      GraftSSTable.compact(atoms, numPartitions = 2).collect()
        .map(r => CassType.hex(r.key) -> ((r.deletedAt, r.columns.size.toLong))).toMap
    val key = CassType.hex("k".getBytes)

    // DecimalType: 2.5 @10 and 2.50 @20 are one name to the comparator
    val dir = java.nio.file.Files.createTempDirectory("sst-decimal").toFile
    def decimal(unscaled: Long, scale: Int): Array[Byte] = {
      val u = java.math.BigInteger.valueOf(unscaled).toByteArray
      java.nio.ByteBuffer.allocate(4 + u.length).putInt(scale).put(u).array()
    }
    Seq((1, decimal(25, 1), 10L), (2, decimal(250, 2), 20L)).foreach { case (gen, name, ts) =>
      val f = new java.io.DataOutputStream(new java.io.FileOutputStream(
        new java.io.File(dir, f"ks-cf-jb-$gen%04d-Data.db")))
      SSTableWriter.writeRow(f, CompactedRow("k".getBytes, Long.MinValue,
        Seq(CellOut(SSTableFormat.KindColumn, name, "v".getBytes, ts, None, None, None))),
        SSTableVersion("jb"))
      f.close()
    }
    val (decStream, decBatches) = streamed(spark.readStream.format("sstable")
      .option("columnType", "DecimalType").option("maxFilesPerTrigger", "1")
      .load(dir.toString).as[AtomRec])
    assert(decBatches >= 2, "each file is its own micro-batch")
    assert(decStream(key)._2 == 1L, s"2.5 and 2.50 must collapse to one live column: $decStream")
    assert(decStream == batch(GraftSSTable.readAtoms(spark, dir.toString,
      Map("columnType" -> "DecimalType"))))

    // LongType: a range tombstone over [-1, 2] kills -1 and 2, not 100
    // (under BytesType order -1 = ff..ff sorts after 2). The writer
    // cannot write range tombstones, so the atoms are staged as parquet
    // read with the scan's typed schema.
    def long(v: Long): Array[Byte] = java.nio.ByteBuffer.allocate(8).putLong(v).array()
    val cells = Seq(-1L, 2L, 100L).map(v => AtomRec("k".getBytes, "g1", Long.MinValue,
      SSTableFormat.KindColumn, long(v), "v".getBytes, Some(10L), None, None, None, null))
    val rt = AtomRec("k".getBytes, "g2", Long.MinValue, SSTableFormat.KindRangeTombstone,
      long(-1L), null, Some(50L), None, None, None, long(2L))
    val staged = java.nio.file.Files.createTempDirectory("atoms-long").toString
    Seq(cells, Seq(rt)).foreach(as =>
      spark.createDataset(as).coalesce(1).write.mode("append").parquet(staged))
    val schema = SSTableSource.schemaFor(Map("columnType" -> "LongType"))
    val (longStream, longBatches) = streamed(spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(staged).as[AtomRec])
    assert(longBatches >= 2, "cells and range tombstone arrive in separate micro-batches")
    assert(longStream(key)._2 == 1L, s"only name 100 survives: $longStream")
    assert(longStream == batch(spark.read.schema(schema).parquet(staged)))
  }

  test("merge is associative: split input arbitrarily, same state") {
    import spark.implicits._
    val atoms = GraftSSTable.readAtoms(spark, s"$testRoot/1.2.18/randomtable/input")
      .filter("kind != 'rt'")
      .select("key", "source", "rowDeletedAt", "kind", "name", "value",
        "ts", "ttl", "localDeletionTime", "tsOfLastDelete", "rtMax")
      .as[AtomRec].collect().toSeq
    // canonical state: deletedAt, the sorted survivors and the set of
    // range tombstones
    def canonical(st: Seq[AtomRec]) = {
      val (markers, rest) = st.partition(_.kind == SSTableFormat.KindEmptyRow)
      val (rts, cells) = rest.partition(_.kind == SSTableFormat.KindRangeTombstone)
      assert(markers.size == 1)
      (markers.head.rowDeletedAt,
        cells.map(c => (CassType.hex(c.name), c.ts.get, c.kind)).sorted,
        rts.map(r => (CassType.hex(r.name), CassType.hex(r.rtMax), r.ts.get)).toSet)
    }
    val byKey = atoms.groupBy(a => CassType.hex(a.key))
    byKey.foreach { case (_, as) =>
      val all = StreamingCompaction.fold(Nil, as.iterator, CassType.BytesType)._2
      Seq(1, 3, 7).foreach { chunk =>
        val stepped = MergeModel.foldChunks(as, chunk, CassType.BytesType)._2
        assert(canonical(stepped) == canonical(all))
      }
    }
  }

  test("range tombstones in state: any chunking or arrival order yields the batch counts (2.0.10 fixture, RTs included)") {
    // the reference says its streaming reducer can't do RTs
    // incrementally; a fold that keeps every range tombstone in state
    // can — prove (a) chunk-invariance, (b) ORDER-invariance of the
    // observable (deletedAt, live columns), and (c) agreement with the
    // batch merge, on the reference's own RT-bearing fixture
    import spark.implicits._
    val atoms = GraftSSTable.readAtoms(spark, s"$testRoot/2.0.10/randomtable/input")
      .select("key", "source", "rowDeletedAt", "kind", "name", "value",
        "ts", "ttl", "localDeletionTime", "tsOfLastDelete", "rtMax")
      .as[AtomRec].collect().toSeq
    assert(atoms.exists(_.kind == "rt"), "fixture must carry range tombstones")
    val batch = GraftSSTable.compact(
        GraftSSTable.readAtoms(spark, s"$testRoot/2.0.10/randomtable/input"),
        numPartitions = 4)
      .collect()
      .map(r => CassType.hex(r.key) ->
        ((r.deletedAt, r.columns.count(_.ts > r.deletedAt))))
      .toMap
    val byKey = atoms.groupBy(a => CassType.hex(a.key))
    assert(byKey.keySet == batch.keySet)
    byKey.foreach { case (k, as) =>
      def obs(ordered: Seq[AtomRec], chunk: Int) = {
        val (row, _) = MergeModel.foldChunks(ordered, chunk, CassType.BytesType)
        (row.deletedAt, row.columns.size)
      }
      Seq(1, 3, as.size.max(1)).foreach { chunk =>
        assert(obs(as, chunk) == batch(k), s"key $k chunk $chunk")
        assert(obs(as.reverse, chunk) == batch(k), s"key $k reversed chunk $chunk")
      }
    }
  }

  test("task-attempt chaos: aegjson batch-write task killed mid-write leaves no visible file; restart re-commits; sink text == one-shot write (VERDICT r11 #8)") {
    // The streaming face of CommitProtocolSpec: the foreachBatch →
    // writeAegJson path dies INSIDE the write task (after the attempt
    // file is open and rows are flowing), the query fails, and the
    // production recovery — restart from the checkpoint, the engine
    // re-runs the failed batch id — must re-commit cleanly over the
    // dead attempt's debris. Text-compares each batch dir against a
    // one-shot batch write of the same flush.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sst-tchaos").toFile
    val oneshotRoot = java.nio.file.Files.createTempDirectory("sst-tchaos-exp").toFile
    val sinkDir = java.nio.file.Files.createTempDirectory("sst-tchaos-sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("sst-tchaos-ckpt").toString
    def flush(into: java.io.File, gen: Int,
        rows: Seq[(String, Long, Seq[(String, String, Long)])]): Unit = {
      val f = new java.io.DataOutputStream(new java.io.FileOutputStream(
        new java.io.File(into, f"ks-cf-jb-$gen%04d-Data.db")))
      rows.foreach { case (key, deletedAt, cells) =>
        SSTableWriter.writeRow(f, CompactedRow(key.getBytes, deletedAt,
          cells.map { case (n, v, ts) =>
            CellOut(SSTableFormat.KindColumn, n.getBytes, v.getBytes, ts,
              None, None, None)
          }), SSTableVersion("jb"))
      }
      f.close()
    }
    def runOnce(): Option[Throwable] = {
      val atoms = spark.readStream.format("sstable")
        .option("maxFilesPerTrigger", "1").load(dir.toString)
      val q = atoms.writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          val rows = GraftSSTable.compact(df, numPartitions = 1)
          // poison INSIDE the write task's pull pipeline: the kill
          // fires while the attempt file is already open with rows
          // written — a true mid-write task death, not a pre-write one
          val poisoned = rows.mapPartitions { it =>
            var n = 0
            it.map { r =>
              n += 1
              if (n == 2 && StreamSinkChaos.kill.compareAndSet(true, false))
                throw new RuntimeException("task attempt killed mid-write")
              r
            }
          }
          GraftSSTable.writeAegJson(poisoned, s"$sinkDir/batch=$id", numFiles = 1)
        }
        .start()
      try { q.processAllAvailable(); None }
      catch { case e: Throwable => Some(e) }
      finally q.stop()
    }
    val gen1 = Seq(
      ("k1", Long.MinValue, Seq(("a", "v1", 10L))),
      ("k2", 15L, Seq(("b", "x", 5L))),
      ("k3", Long.MinValue, Seq(("c", "y", 7L))))
    val gen2 = Seq(
      ("k1", Long.MinValue, Seq(("a", "v2", 20L))),
      ("k4", Long.MinValue, Seq(("d", "z", 9L))))
    flush(dir, 1, gen1)

    StreamSinkChaos.kill.set(true)
    val failed = runOnce()
    assert(failed.isDefined, "the poisoned batch write must fail the query")
    assert(!StreamSinkChaos.kill.get, "the kill must have fired inside the task")
    val b0 = new java.io.File(s"$sinkDir/batch=0")
    val visible0 = Option(b0.listFiles).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    assert(visible0.isEmpty,
      s"a dead attempt must publish NO final file, saw ${visible0.map(_.getName).toSeq}")

    assert(runOnce().isEmpty, "restart must re-run the failed batch cleanly")
    flush(dir, 2, gen2)
    assert(runOnce().isEmpty, "post-recovery flush must keep streaming")

    // one-shot expectations: each flush alone, compacted and written
    // through the same writer
    def oneshot(gen: Int, rows: Seq[(String, Long, Seq[(String, String, Long)])]): String = {
      val d = new java.io.File(oneshotRoot, s"g$gen"); d.mkdirs()
      flush(d, gen, rows)
      val out = new java.io.File(oneshotRoot, s"out$gen").toString
      GraftSSTable.writeAegJson(
        GraftSSTable.compact(GraftSSTable.readAtoms(spark, d.toString),
          numPartitions = 1), out, numFiles = 1)
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(out, "aeg-00000")), "UTF-8")
    }
    def sunk(id: Long): String = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$sinkDir/batch=$id", "aeg-00000")), "UTF-8")
    assert(sunk(0L) == oneshot(1, gen1),
      "recommitted batch 0 must text-match the one-shot write of flush 1")
    assert(sunk(1L) == oneshot(2, gen2),
      "batch 1 must text-match the one-shot write of flush 2")
    // and the recovered batch dir holds exactly one visible file
    val finals0 = Option(b0.listFiles).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .map(_.getName).toSeq
    assert(finals0 == Seq("aeg-00000"), s"one intact final file, got $finals0")
  }
}

/** Executor-visible (local-mode) kill switch for the task-attempt
  * chaos test — compareAndSet so exactly one attempt dies. */
object StreamSinkChaos {
  val kill = new java.util.concurrent.atomic.AtomicBoolean(false)
}
