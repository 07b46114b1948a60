package perfbench

import java.io.{BufferedInputStream, DataInputStream, EOFException, FileInputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import graft.sstable.SSTableFormat

/** 64-bit FNV-1a over a field stream, with a final avalanche so that sums
  * of record hashes stay well spread. */
final class Hash64 {
  private var h = 0xcbf29ce484222325L
  def byte(b: Int): this.type = { h = (h ^ (b & 0xff)) * 0x100000001b3L; this }
  def long(v: Long): this.type = { var i = 0; while (i < 8) { byte((v >>> (56 - 8 * i)).toInt); i += 1 }; this }
  def bytes(b: Array[Byte]): this.type = { long(b.length.toLong); var i = 0; while (i < b.length) { byte(b(i)); i += 1 }; this }
  def result: Long = { var z = h; z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL; z ^ (z >>> 33) }
}

/** Order-independent digest of a set of output records: their count and
  * the sum of their hashes. */
final case class Digest(records: Long, sum: Long) {
  override def toString: String = f"$records:$sum%016x"
}

final class DigestBuilder {
  private var n = 0L
  private var s = 0L
  def add(h: Long): Unit = { n += 1; s += h }
  def result: Digest = Digest(n, s)
}

/** Canonical record hashes shared by the model and the output readers. */
object Canon {
  /** a compacted row: key, row deletion, then its cells in output order */
  def row(key: Array[Byte], deletedAt: Long, cells: Seq[GCell]): Long = {
    val h = new Hash64().bytes(key).long(deletedAt).long(cells.size.toLong)
    cells.foreach { c =>
      h.bytes(c.kind.getBytes(UTF_8)).bytes(c.name).bytes(c.value).long(c.ts)
      c.kind match {
        case SSTableFormat.KindExpiring => h.long(c.ttl.toLong).long(c.ldt.toLong)
        case SSTableFormat.KindCounter => h.long(c.tsOld)
        case _ =>
      }
    }
    h.result
  }

  /** one pivoted ledger record; tags compare as a set */
  def pivotRow(userId: Long, day: Int, seq: Int, kind: Option[Array[Byte]], amount: Option[Double],
      tags: Option[Seq[Array[Byte]]]): Long = {
    val h = new Hash64().long(userId).long(day.toLong).long(seq.toLong)
    kind match { case Some(k) => h.byte(1).bytes(k); case None => h.byte(0) }
    amount match { case Some(a) => h.byte(1).long(java.lang.Double.doubleToLongBits(a)); case None => h.byte(0) }
    tags match {
      case Some(ts) =>
        h.byte(1).long(ts.size.toLong)
        ts.sortWith(Model.unsignedLess).foreach(h.bytes)
      case None => h.byte(0)
    }
    h.result
  }
}

/** Reads a sink's output back, independently of the program's own
  * readers, into the record hashes of [[Canon]]. A `perturb` of "drop"
  * removes one cell of the first record that has one, "alter" changes one
  * timestamp (a value, for parquet): the self-check uses them to prove
  * that a wrong output is reported. */
object OutputReader {
  /** output data files: aeg-* files, Data.db with its sidecars, parquet
    * parts; never checksum or marker files */
  def dataFiles(out: Path): Seq[Path] =
    if (!Files.isDirectory(out)) Nil
    else Files.list(out).iterator.asScala.filter { p =>
      val n = p.getFileName.toString
      !n.startsWith(".") && !n.startsWith("_") && !n.endsWith(".crc") && Files.isRegularFile(p)
    }.toSeq.sortBy(_.toString)

  def digest(sink: Sink, out: Path, perturb: Option[String]): Digest = {
    val d = new DigestBuilder
    var pending = perturb
    sink match {
      case AegJsonSink =>
        dataFiles(out).filter(_.getFileName.toString.startsWith("aeg-")).foreach { f =>
          val r = Files.newBufferedReader(f, UTF_8)
          try {
            var line = r.readLine()
            while (line != null) {
              val (k, del, cells) = AegJson.parse(line)
              d.add(Canon.row(k, del, perturbCells(cells, pending, () => pending = None)))
              line = r.readLine()
            }
          } finally r.close()
        }
      case SSTableSink =>
        dataFiles(out).filter(_.getFileName.toString.endsWith("-Data.db")).foreach { f =>
          SSTableRead.rows(f).foreach { case (k, del, cells) =>
            d.add(Canon.row(k, del, perturbCells(cells, pending, () => pending = None)))
          }
        }
      case ParquetSink =>
        dataFiles(out).filter(_.getFileName.toString.endsWith(".parquet")).foreach { f =>
          ParquetRead.records(f).foreach { rec =>
            val r = pending match {
              case Some("drop") if rec.kind.isDefined => pending = None; rec.copy(kind = None)
              case Some("alter") if rec.amount.isDefined => pending = None; rec.copy(amount = rec.amount.map(_ + 0.25))
              case _ => rec
            }
            d.add(Canon.pivotRow(r.userId, r.day, r.seq, r.kind, r.amount, r.tags))
          }
        }
    }
    require(pending.isEmpty, s"perturbation $perturb found nothing to change")
    d.result
  }

  private def perturbCells(cells: Vector[GCell], perturb: Option[String], done: () => Unit): Vector[GCell] =
    perturb match {
      case Some("drop") if cells.nonEmpty => done(); cells.tail
      case Some("alter") if cells.nonEmpty => done(); cells.updated(0, cells(0).copy(ts = cells(0).ts + 1))
      case _ => cells
    }
}

/** Parser for the aeg-JSON lines of a BytesType column family:
  * `hexKey\t{"hexKey":{"deletedAt":L,"columns":[["n","v",ts(,"d"|,"e",ttl,ldt|,"c",tsOld)?],...]}}` */
object AegJson {
  private final class Cursor(s: String) {
    var i = 0
    def expect(lit: String): Unit = {
      if (!s.startsWith(lit, i)) throw new IllegalArgumentException(s"expected $lit at $i: $s")
      i += lit.length
    }
    def peek: Char = s.charAt(i)
    def long(): Long = {
      val st = i
      if (peek == '-') i += 1
      while (i < s.length && s.charAt(i).isDigit) i += 1
      s.substring(st, i).toLong
    }
    def hexString(): Array[Byte] = {
      expect("\"")
      val st = i
      while (s.charAt(i) != '"') i += 1
      val hex = s.substring(st, i)
      i += 1
      require(hex.length % 2 == 0 && hex.forall(c => Character.digit(c, 16) >= 0), s"not hex: $hex")
      Array.tabulate(hex.length / 2)(j => Integer.parseInt(hex.substring(2 * j, 2 * j + 2), 16).toByte)
    }
    def atEnd: Boolean = i == s.length
  }

  def parse(line: String): (Array[Byte], Long, Vector[GCell]) = {
    val tab = line.indexOf('\t')
    val keyHex = line.substring(0, tab)
    val c = new Cursor(line.substring(tab + 1))
    c.expect("{\"" + keyHex + "\":{\"deletedAt\":")
    val deletedAt = c.long()
    c.expect(",\"columns\":[")
    val cells = Vector.newBuilder[GCell]
    while (c.peek != ']') {
      if (c.peek == ',') c.expect(",")
      c.expect("[")
      val name = c.hexString(); c.expect(",")
      val value = c.hexString(); c.expect(",")
      val ts = c.long()
      val cell = if (c.peek == ']') GCell(SSTableFormat.KindColumn, name, value, ts)
        else {
          c.expect(",\"")
          val tag = c.peek
          c.i += 1
          c.expect("\"")
          tag match {
            case 'd' => GCell(SSTableFormat.KindDeleted, name, value, ts)
            case 'e' =>
              c.expect(","); val ttl = c.long(); c.expect(","); val ldt = c.long()
              GCell(SSTableFormat.KindExpiring, name, value, ts, ttl = ttl.toInt, ldt = ldt.toInt)
            case 'c' =>
              c.expect(","); val old = c.long()
              GCell(SSTableFormat.KindCounter, name, value, ts, tsOld = old)
            case other => throw new IllegalArgumentException(s"unknown cell tag $other")
          }
        }
      c.expect("]")
      cells += cell
    }
    c.expect("]}}")
    require(c.atEnd, s"trailing text: $line")
    val key = new Cursor("\"" + keyHex + "\"").hexString()
    (key, deletedAt, cells.result())
  }
}

/** Reader for a `jb` Data.db written by the SSTable sink, plain or
  * LZ4 chunk-compressed (CompressionInfo.db beside it). */
object SSTableRead {
  private def uncompressed(data: Path): java.io.InputStream = {
    val info = data.resolveSibling(data.getFileName.toString.replace("-Data.db", "-CompressionInfo.db"))
    if (!Files.exists(info)) new BufferedInputStream(new FileInputStream(data.toFile), 1 << 16)
    else {
      val ci = new DataInputStream(new BufferedInputStream(new FileInputStream(info.toFile)))
      val codec = ci.readUTF()
      require(codec.contains("LZ4"), s"unsupported codec $codec")
      (0 until ci.readInt()).foreach { _ => ci.readUTF(); ci.readUTF() }
      val chunkLength = ci.readInt()
      ci.readLong()
      val offsets = Array.fill(ci.readInt())(ci.readLong())
      ci.close()
      val bytes = Files.readAllBytes(data)
      val dec = net.jpountz.lz4.LZ4Factory.fastestInstance().fastDecompressor()
      val chunks = offsets.indices.iterator.map { c =>
        val end = (if (c + 1 < offsets.length) offsets(c + 1) else bytes.length.toLong) - 4 // adler32
        val off = offsets(c).toInt
        val len = (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8) |
          ((bytes(off + 2) & 0xff) << 16) | ((bytes(off + 3) & 0xff) << 24)
        require(len <= chunkLength && end > off, s"bad chunk $c in $data")
        val out = new Array[Byte](len)
        dec.decompress(bytes, off + 4, out, 0, len)
        new java.io.ByteArrayInputStream(out): java.io.InputStream
      }
      new java.io.SequenceInputStream(chunks.asJavaEnumeration)
    }
  }

  def rows(data: Path): Iterator[(Array[Byte], Long, Vector[GCell])] = {
    val in = new DataInputStream(new BufferedInputStream(uncompressed(data), 1 << 16))
    def bytes(n: Int) = { val b = new Array[Byte](n); in.readFully(b); b }
    new Iterator[(Array[Byte], Long, Vector[GCell])] {
      private var nextKeyLen = readKeyLen()
      private def readKeyLen(): Int = try in.readUnsignedShort() catch { case _: EOFException => in.close(); -1 }
      def hasNext: Boolean = nextKeyLen >= 0
      def next(): (Array[Byte], Long, Vector[GCell]) = {
        val key = bytes(nextKeyLen)
        in.readInt()
        val deletedAt = in.readLong()
        val cells = Vector.newBuilder[GCell]
        var nameLen = in.readUnsignedShort()
        while (nameLen != 0) {
          val name = bytes(nameLen)
          val flags = in.readUnsignedByte()
          cells += (if ((flags & SSTableFormat.CounterMask) != 0) {
            val old = in.readLong(); val ts = in.readLong()
            GCell(SSTableFormat.KindCounter, name, bytes(in.readInt()), ts, tsOld = old)
          } else if ((flags & SSTableFormat.ExpirationMask) != 0) {
            val ttl = in.readInt(); val ldt = in.readInt(); val ts = in.readLong()
            GCell(SSTableFormat.KindExpiring, name, bytes(in.readInt()), ts, ttl = ttl, ldt = ldt)
          } else {
            require((flags & ~SSTableFormat.DeletionMask) == 0, s"unexpected cell flags $flags")
            val ts = in.readLong()
            GCell(if ((flags & SSTableFormat.DeletionMask) != 0) SSTableFormat.KindDeleted
              else SSTableFormat.KindColumn, name, bytes(in.readInt()), ts)
          })
          nameLen = in.readUnsignedShort()
        }
        nextKeyLen = readKeyLen()
        (key, deletedAt, cells.result())
      }
    }
  }
}

/** Reader for the ledger table's parquet parts, through parquet-mr's
  * record API rather than Spark. */
object ParquetRead {
  final case class Rec(userId: Long, day: Int, seq: Int, kind: Option[Array[Byte]], amount: Option[Double],
      tags: Option[Seq[Array[Byte]]])

  def records(file: Path): Iterator[Rec] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.ColumnIOFactory
    import org.apache.parquet.example.data.Group
    import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
    val conf = new org.apache.hadoop.conf.Configuration()
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(file.toUri), conf))
    val schema = reader.getFooter.getFileMetaData.getSchema
    val out = Vector.newBuilder[Rec]
    try {
      var pages = reader.readNextRowGroup()
      while (pages != null) {
        val rr = new ColumnIOFactory().getColumnIO(schema).getRecordReader(pages, new GroupRecordConverter(schema))
        var n = 0L
        while (n < pages.getRowCount) {
          val g: Group = rr.read()
          def has(f: String) = g.getFieldRepetitionCount(f) > 0
          val tags = if (!has("tags")) None else {
            val list = g.getGroup("tags", 0)
            Some((0 until list.getFieldRepetitionCount(0)).map(j =>
              list.getGroup(0, j).getBinary(0, 0).getBytes))
          }
          out += Rec(g.getLong("user_id", 0), g.getInteger("day", 0), g.getInteger("seq", 0),
            if (has("kind")) Some(g.getBinary("kind", 0).getBytes) else None,
            if (has("amount")) Some(g.getDouble("amount", 0)) else None, tags)
          n += 1
        }
        pages = reader.readNextRowGroup()
      }
    } finally reader.close()
    out.result().iterator
  }
}

/** Minimal JSON object writer for the tools' one-line reports. */
object Json {
  def value(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case null => "null"
    case other => value(other.toString)
  }
  def obj(kv: (String, Any)*): String = kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
