package perfbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataOutputStream, OutputStream}
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import graft.sstable._

/** Single-thread timers of the program's per-layer kernels, outside Spark,
  * on one generated Data.db of the workload (the first generation of the
  * first node: every partition of that replica). */
object Kernels {
  final case class Result(scanAtomsPerS: Double, inflateMibPerS: Double, mergeAtomsPerS: Double,
      renderRowsPerS: Double, sstableWriteMibPerS: Double)

  def dataFiles(corpus: Path): Seq[Path] =
    Files.walk(corpus).iterator.asScala.filter(_.getFileName.toString.endsWith("-Data.db")).toSeq.sortBy(_.toString)

  /** median over passes of `work / seconds`; at least 3 passes and 0.5 s */
  private def rate(work: Double)(pass: => Unit): Double = {
    val rates = scala.collection.mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    while (rates.size < 3 || System.nanoTime() - t0 < 500000000L) {
      val s = System.nanoTime()
      pass
      rates += work / ((System.nanoTime() - s) / 1e9)
    }
    rates.sorted.apply(rates.size / 2)
  }

  private def compress(plain: Array[Byte]): (Array[Byte], CompressionMeta) = {
    val bytes = new ByteArrayOutputStream(plain.length)
    val cos = new CompressionOutputStream(bytes, 65536, "LZ4Compressor")
    cos.write(plain)
    val (length, offsets) = cos.finish()
    val info = new ByteArrayOutputStream()
    CompressionOutputStream.writeCompressionInfo(new DataOutputStream(info), "LZ4Compressor", 65536, length, offsets)
    (bytes.toByteArray, CompressionMeta.read(new ByteArrayInputStream(info.toByteArray), bytes.size.toLong))
  }

  private def inflate(compressed: Array[Byte], meta: CompressionMeta): Array[Byte] = {
    val in = new CompressionInputStream(new ByteArrayInputStream(compressed), meta)
    val out = new Array[Byte](meta.dataLength.toInt)
    var off = 0
    while (off < out.length) {
      val n = in.read(out, off, out.length - off)
      require(n > 0, "compressed data ended early")
      off += n
    }
    out
  }

  def run(w: Workload, corpus: Path, nameType: CassType): Result = {
    val spec = w.files.head
    val file = corpus.resolve(spec.dir).resolve(spec.fileName)
    val stored = Files.readAllBytes(file)
    val info = file.resolveSibling(spec.fileName.replace("-Data.db", "-CompressionInfo.db"))
    // the inflate kernel runs on every workload: plain files are
    // compressed in memory first, so the figure is comparable
    val (compressed, meta) =
      if (Files.exists(info)) (stored, CompressionMeta.read(Files.newInputStream(info), stored.length.toLong))
      else compress(stored)
    val plain = inflate(compressed, meta)
    val inflateMibPerS = rate(plain.length / 1048576.0)(inflate(compressed, meta))

    def scan() = new SSTableScanner(new ByteArrayInputStream(plain), 0, plain.length, spec.version, file.toString)
    val atoms = scan().toArray
    val scanAtomsPerS = rate(atoms.length)(scan().foreach(_ => ()))

    // one sorted atom run, in the order the compaction's shuffle sorts it
    val sortKeys = atoms.map(a => if (a.name == null) Array.emptyByteArray else nameType.sortKey(a.name))
    val order = atoms.indices.sortWith { (i, j) =>
      val k = java.util.Arrays.compareUnsigned(atoms(i).key, atoms(j).key)
      if (k != 0) k < 0 else {
        val n = java.util.Arrays.compareUnsigned(sortKeys(i), sortKeys(j))
        if (n != 0) n < 0 else atoms(i).ts.getOrElse(Long.MinValue) < atoms(j).ts.getOrElse(Long.MinValue)
      }
    }
    val sorted = order.map(atoms).toArray
    val rows = Compaction.merge(sorted.iterator, nameType).toArray
    val mergeAtomsPerS = rate(sorted.length)(Compaction.merge(sorted.iterator, nameType).foreach(_ => ()))

    val renderRowsPerS = rate(rows.length)(rows.foreach(r => Compaction.toAegJson(r, CassType.BytesType, nameType)))

    val nullOut = new OutputStream {
      override def write(b: Int): Unit = ()
      override def write(b: Array[Byte], off: Int, len: Int): Unit = ()
    }
    val version = SSTableVersion("jb")
    val written = {
      val out = new DataOutputStream(new CompressionOutputStream(nullOut))
      rows.foreach(SSTableWriter.writeRow(out, _, version))
      out.size()
    }
    val sstableWriteMibPerS = rate(written / 1048576.0) {
      val cos = new CompressionOutputStream(nullOut)
      val out = new DataOutputStream(cos)
      rows.foreach(SSTableWriter.writeRow(out, _, version))
      cos.finish()
    }
    Result(scanAtomsPerS, inflateMibPerS, mergeAtomsPerS, renderRowsPerS, sstableWriteMibPerS)
  }
}
