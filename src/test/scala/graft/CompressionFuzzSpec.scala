package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataOutputStream}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sstable._

/** Robustness coverage the golden fixtures don't reach:
  *  - Snappy and Deflate chunk decompression (fixtures are LZ4-only);
  *  - scanner fuzzing: random garbage behind skipCorrupt must never
  *    kill a scan, only count the file;
  *  - the CLI refuses a codec it cannot write.
  */
class CompressionFuzzSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  /** Build a Cassandra-style compressed blob + CompressionInfo bytes
    * for the given payload: chunks of `chunkLen` uncompressed bytes,
    * each followed by a 4-byte (ignored) checksum. */
  private def compressed(payload: Array[Byte], chunkLen: Int,
      name: String, compress: Array[Byte] => Array[Byte]): (Array[Byte], Array[Byte]) = {
    val data = new ByteArrayOutputStream()
    val offsets = scala.collection.mutable.ArrayBuffer[Long]()
    payload.grouped(chunkLen).foreach { chunk =>
      offsets += data.size().toLong
      data.write(compress(chunk))
      data.write(Array[Byte](0, 0, 0, 0)) // checksum (ignored)
    }
    val ci = new ByteArrayOutputStream()
    val d = new DataOutputStream(ci)
    d.writeUTF(name)
    d.writeInt(0) // no options
    d.writeInt(chunkLen)
    d.writeLong(payload.length.toLong)
    d.writeInt(offsets.size)
    offsets.foreach(d.writeLong)
    d.flush()
    (data.toByteArray, ci.toByteArray)
  }

  private def roundTrip(name: String, compress: Array[Byte] => Array[Byte]): Unit = {
    val rnd = new scala.util.Random(7)
    val payload = Array.fill(10000)(rnd.nextInt(64).toByte) // compressible-ish
    val (blob, ciBytes) = compressed(payload, 4096, name, compress)
    val meta = CompressionMeta.read(new ByteArrayInputStream(ciBytes), blob.length.toLong)
    assert(meta.compressorName == name && meta.chunkOffsets.length == 3)
    val cs = new CompressionInputStream(new ByteArrayInputStream(blob), meta)
    val out = new Array[Byte](payload.length)
    var off = 0
    while (off < out.length) {
      val n = cs.read(out, off, out.length - off)
      assert(n > 0, s"premature EOF at $off")
      off += n
    }
    assert(cs.read() == -1)
    assert(java.util.Arrays.equals(out, payload), s"$name round-trip mismatch")
  }

  test("Snappy chunk round-trip (S5)") {
    roundTrip("SnappyCompressor", b => org.xerial.snappy.Snappy.compress(b))
  }

  test("Deflate chunk round-trip (S5)") {
    roundTrip("DeflateCompressor", { b =>
      val deflater = new java.util.zip.Deflater()
      deflater.setInput(b); deflater.finish()
      val buf = new Array[Byte](b.length * 2 + 64)
      val n = deflater.deflate(buf)
      deflater.end()
      buf.take(n)
    })
  }

  test("scanner fuzz: random garbage with skipCorrupt never kills the scan") {
    val tmp = java.nio.file.Files.createTempDirectory("fuzz").toFile
    val rnd = new scala.util.Random(12345)
    // a couple of valid files in the mix prove absorb doesn't over-skip
    (1 to 2).foreach { i =>
      val f = new DataOutputStream(new java.io.FileOutputStream(
        new java.io.File(tmp, f"ks-ok-jb-$i-Data.db")))
      SSTableWriter.writeRow(f, CompactedRow(s"good$i".getBytes, Long.MinValue,
        Seq(CellOut(SSTableFormat.KindColumn, "c".getBytes, "v".getBytes, 1L,
          None, None, None))), SSTableVersion("jb"))
      f.close()
    }
    (1 to 10).foreach { i =>
      val bytes = Array.fill(rnd.nextInt(4000) + 16)(rnd.nextInt(256).toByte)
      val p = new java.io.FileOutputStream(new java.io.File(tmp, f"ks-bad-jb-${i + 10}-Data.db"))
      p.write(bytes); p.close()
    }
    val atoms = GraftSSTable.readAtoms(spark, tmp.toString,
      Map("skipCorrupt" -> "true", "combine" -> "false"))
    val keys = atoms.select("key").collect().map(r => new String(r.getAs[Array[Byte]](0)))
    assert(keys.toSet.intersect(Set("good1", "good2")) == Set("good1", "good2"),
      "valid files must survive a fuzzed directory")
    // a fuzzed file can parse as garbage rows by chance, but the scan
    // itself must complete; corrupt counter is bounded by file count
    assert(SSTableSource.corruptFiles.get.value <= 10)
  }

  test("SSTable2Json refuses an unknown codec before the session starts, naming the ones it writes") {
    Seq("compress:zstd", "compress:", "compress:lz4hc").foreach { flag =>
      val e = intercept[IllegalArgumentException](graft.tools.SSTable2Json.main(
        Array("/nonexistent-sstables", "/nonexistent-out", "sstable:jb", flag)))
      Seq("lz4", "snappy", "deflate").foreach(c => assert(e.getMessage.contains(c), e.getMessage))
    }
  }
}
