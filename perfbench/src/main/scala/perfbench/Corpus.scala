package perfbench

import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import graft.sstable.{CellOut, CompactedRow, CompressionOutputStream, SSTableFormat, SSTableVersion, SSTableWriter}

/** One cell as the generator writes it. `kind` uses the program's atom
  * letters (c, d, e, x, rt); `rtMax` is set only on range tombstones,
  * whose `ts` is their markedForDeleteAt. */
final case class GCell(
    kind: String,
    name: Array[Byte],
    value: Array[Byte],
    ts: Long,
    ttl: Int = 0,
    ldt: Int = 0,
    tsOld: Long = Long.MinValue,
    rtMax: Array[Byte] = null) {
  def isRangeTombstone: Boolean = kind == SSTableFormat.KindRangeTombstone
  def toCellOut: CellOut = CellOut(kind, name, value, ts,
    if (kind == SSTableFormat.KindExpiring) Some(ttl) else None,
    if (kind == SSTableFormat.KindExpiring) Some(ldt) else None,
    if (kind == SSTableFormat.KindCounter) Some(tsOld) else None)
}

/** One partition as stored in one file: its row deletion marker and cells. */
final case class Frag(deletedAt: Long, cells: Vector[GCell])

/** One Data.db of the corpus, with the sidecars it gets. */
final case class FileSpec(dir: String, fileName: String, compress: Boolean, index: Boolean) {
  def version: SSTableVersion = SSTableVersion(fileName.split('-')(2))
}

/** Writes one Data.db (plain or LZ4 chunk-compressed) row by row through
  * the program's `SSTableWriter` and `CompressionOutputStream`, plus its
  * Index.db and CompressionInfo.db sidecars. */
final class FileOut(root: Path, spec: FileSpec) {
  private val dir = Files.createDirectories(root.resolve(spec.dir))
  private val dataPath = dir.resolve(spec.fileName)
  private val raw = new BufferedOutputStream(new FileOutputStream(dataPath.toFile), 1 << 16)
  private val cos =
    if (spec.compress) Some(new CompressionOutputStream(raw, 65536, "LZ4Compressor")) else None
  private val out = new DataOutputStream(cos.getOrElse(raw))
  private val ix = if (spec.index) Some(new DataOutputStream(new BufferedOutputStream(
    new FileOutputStream(dir.resolve(spec.fileName.replace("-Data.db", "-Index.db")).toFile))))
    else None
  private val version = spec.version
  var rows = 0L
  var atoms = 0L

  def write(key: Array[Byte], frag: Frag): Unit = {
    // Index.db entry: [u16 keyLen][key][i64 uncompressed offset][i32 0]
    ix.foreach { i => i.writeShort(key.length); i.write(key); i.writeLong(out.size().toLong); i.writeInt(0) }
    if (frag.cells.exists(_.isRangeTombstone)) writeWithRangeTombstones(key, frag)
    else SSTableWriter.writeRow(out, CompactedRow(key, frag.deletedAt, frag.cells.map(_.toCellOut)), version)
    rows += 1
    atoms += math.max(1, frag.cells.size)
  }

  /** `SSTableWriter`/`CellOut` have no range-tombstone cell, so rows that
    * carry one are framed here, with the layout of SSTableFormat.scala:
    * `[u16 nameLen][min][u8 0x10][u16 maxLen][max][i32 ldt][i64 markedForDeleteAt]`. */
  private def writeWithRangeTombstones(key: Array[Byte], frag: Frag): Unit = {
    def size(c: GCell): Long =
      if (c.isRangeTombstone) 2L + c.name.length + 1 + 2 + c.rtMax.length + 4 + 8
      else SSTableWriter.cellSize(c.toCellOut)
    out.writeShort(key.length)
    out.write(key)
    if (version.hasRowSizeAndColumnCount) out.writeLong(16L + frag.cells.map(size).sum)
    out.writeInt((frag.deletedAt / 1000).toInt)
    out.writeLong(frag.deletedAt)
    if (version.hasRowSizeAndColumnCount) out.writeInt(frag.cells.size)
    frag.cells.foreach { c =>
      if (c.isRangeTombstone) {
        out.writeShort(c.name.length); out.write(c.name)
        out.writeByte(SSTableFormat.RangeTombstoneMask)
        out.writeShort(c.rtMax.length); out.write(c.rtMax)
        out.writeInt(c.ldt); out.writeLong(c.ts)
      } else SSTableWriter.writeCell(out, c.toCellOut)
    }
    if (!version.hasRowSizeAndColumnCount) out.writeShort(0)
  }

  def close(): Unit = {
    ix.foreach(_.close())
    cos match {
      case Some(c) =>
        val (dataLength, offsets) = c.finish()
        val ci = new DataOutputStream(new FileOutputStream(
          dir.resolve(spec.fileName.replace("-Data.db", "-CompressionInfo.db")).toFile))
        CompressionOutputStream.writeCompressionInfo(ci, "LZ4Compressor", 65536, dataLength, offsets)
        ci.close()
        raw.close()
      case None => out.close()
    }
  }
}

/** A benchmark workload: a cluster layout, a per-key write history drawn
  * from a seeded generator, and the independent model of its expected
  * output. */
sealed trait Workload {
  def name: String
  def files: IndexedSeq[FileSpec]
  def key(i: Int): Array[Byte]
  /** fragments of partition `i`, by index into [[files]] */
  def history(i: Int, rnd: SplittableRandom): Seq[(Int, Frag)]
  /** expected output record hashes of one partition, from its fragments */
  def expected(key: Array[Byte], frags: Seq[Frag]): Iterator[Long]
  def sink: Sink
}

sealed trait Sink
case object AegJsonSink extends Sink
case object SSTableSink extends Sink
case object ParquetSink extends Sink

object Workload {
  val all: Seq[Workload] = Seq(FleetJson, WideSSTable, CqlParquet)
  def apply(name: String): Workload = all.find(_.name == name)
    .getOrElse(throw new IllegalArgumentException(s"unknown workload $name"))

  /** base write time in microseconds; generation g writes at base + g*step */
  val BaseTs = 1600000000000000L
  val GenStep = 10000000000L

  def ascii(s: String): Array[Byte] = s.getBytes(UTF_8)

  /** value bytes of a given length: printable readings, so LZ4 finds some
    * but not much redundancy */
  def reading(rnd: SplittableRandom, len: Int): Array[Byte] = {
    val b = new Array[Byte](len)
    var i = 0
    while (i < len) {
      b(i) = (i % 8 match {
        case 0 => ';'
        case 1 => 'a' + (i / 8) % 6
        case 2 => '='
        case _ => '0' + rnd.nextInt(10)
      }).toByte
      i += 1
    }
    b
  }
}

/** The paper's headline job: a 6-node RF=3 fleet mid-upgrade (even nodes
  * write `ic`, odd nodes `jb`), 4 flush generations, narrow rows. */
object FleetJson extends Workload {
  import Workload._
  val name = "fleet_json"
  private val Nodes = 6
  private val Gens = 4
  val files: IndexedSeq[FileSpec] = for (n <- 0 until Nodes; g <- 1 to Gens) yield {
    val ver = if (n % 2 == 0) "ic" else "jb"
    FileSpec(s"node$n", s"aegbench-users-$ver-$g-Data.db", compress = false, index = false)
  }
  private def file(node: Int, gen: Int) = node * Gens + gen - 1
  def key(i: Int): Array[Byte] = ascii(f"user$i%09d")
  private val names = Array.tabulate(8)(c => ascii(s"c$c"))
  def sink: Sink = AegJsonSink

  private def cell(rnd: SplittableRandom, c: Int, ts: Long): GCell = {
    val u = rnd.nextDouble()
    val value = reading(rnd, 16 + rnd.nextInt(49))
    if (u < 0.03) GCell(SSTableFormat.KindDeleted, names(c), java.nio.ByteBuffer.allocate(4)
      .putInt((ts / 1000000).toInt).array(), ts)
    else if (u < 0.08) GCell(SSTableFormat.KindExpiring, names(c), value, ts,
      ttl = 86400, ldt = (ts / 1000000).toInt + 86400)
    else if (u < 0.09) GCell(SSTableFormat.KindCounter, names(c), value.take(8), ts)
    else GCell(SSTableFormat.KindColumn, names(c), value, ts)
  }

  def history(i: Int, rnd: SplittableRandom): Seq[(Int, Frag)] = {
    val home = rnd.nextInt(Nodes)
    val replicas = Seq(home, (home + 1) % Nodes, (home + 2) % Nodes)
    (1 to Gens).flatMap { g =>
      val ts = BaseTs + g * GenStep + i.toLong * 16 + rnd.nextInt(16)
      val u = rnd.nextDouble()
      val frag =
        if (g == 1) Some(Frag(Long.MinValue, (0 until 8).map(c => cell(rnd, c, ts)).toVector))
        else if (u < 0.02) Some(Frag(ts, Vector.empty)) // row tombstone
        else if (u < 0.32) {
          val cs = (0 until 8).filter(_ => rnd.nextInt(2) == 0)
          val chosen = if (cs.isEmpty) Seq(rnd.nextInt(8)) else cs
          Some(Frag(Long.MinValue, chosen.map(c => cell(rnd, c, ts)).toVector))
        } else None
      frag.toSeq.flatMap { f =>
        // about 5% of writes miss one replica
        val missing = if (rnd.nextDouble() < 0.05) replicas(rnd.nextInt(3)) else -1
        replicas.filter(_ != missing).map(n => file(n, g) -> f)
      }
    }
  }

  def expected(key: Array[Byte], frags: Seq[Frag]): Iterator[Long] = {
    val (deletedAt, cells) = Model.compact(frags)
    Iterator.single(Canon.row(key, deletedAt, cells))
  }
}

/** Time-series partitions on 3 nodes at RF=3 over 3 generations: later
  * generations append, overwrite and range-delete; files are LZ4
  * chunk-compressed with Index.db, and the sink writes a compressed
  * SSTable. */
object WideSSTable extends Workload {
  import Workload._
  val name = "wide_sstable"
  private val Nodes = 3
  private val Gens = 3
  private val CellsPerPartition = 1500
  val files: IndexedSeq[FileSpec] = for (n <- 0 until Nodes; g <- 1 to Gens) yield
    FileSpec(s"node$n", s"aegbench-series-jb-$g-Data.db", compress = true, index = true)
  def key(i: Int): Array[Byte] = ascii(f"sensor$i%06d")
  private def cellName(t: Int): Array[Byte] = ascii(f"t$t%08d.")
  def sink: Sink = SSTableSink

  def history(i: Int, rnd: SplittableRandom): Seq[(Int, Frag)] = {
    var count = CellsPerPartition - 50 + rnd.nextInt(101)
    val frags = (1 to Gens).map { g =>
      val ts = BaseTs + g * GenStep + i.toLong * 4096
      val cells = Vector.newBuilder[GCell]
      if (g == 1) {
        (0 until count).foreach(t => cells += GCell(SSTableFormat.KindColumn, cellName(t),
          reading(rnd, 180 + rnd.nextInt(41)), ts + rnd.nextInt(1000)))
      } else {
        // a range tombstone over about 2.5% of the names written so far;
        // its bounds sit between cell names, as CQL3 slice bounds do
        val span = math.max(1, count / 40)
        val start = rnd.nextInt(count - span)
        cells += GCell(SSTableFormat.KindRangeTombstone, ascii(f"t$start%08d"), Array.emptyByteArray,
          ts, ldt = (ts / 1000000).toInt, rtMax = ascii(f"t${start + span - 1}%08d/"))
        // overwrite about 5% of names (after the deletion), append about 10%
        (0 until count / 20).map(_ => rnd.nextInt(count)).distinct.foreach { t =>
          cells += GCell(SSTableFormat.KindColumn, cellName(t), reading(rnd, 180 + rnd.nextInt(41)),
            ts + 1 + rnd.nextInt(1000))
        }
        val appended = count / 10
        (count until count + appended).foreach { t =>
          cells += GCell(SSTableFormat.KindColumn, cellName(t), reading(rnd, 180 + rnd.nextInt(41)),
            ts + 1 + rnd.nextInt(1000))
        }
        count += appended
      }
      Frag(Long.MinValue, cells.result().sortWith((a, b) => Model.unsignedLess(a.name, b.name)))
    }
    for (n <- 0 until Nodes; g <- 1 to Gens) yield (n * Gens + g - 1) -> frags(g - 1)
  }

  def expected(key: Array[Byte], frags: Seq[Frag]): Iterator[Long] = {
    val (deletedAt, cells) = Model.compact(frags)
    Iterator.single(Canon.row(key, deletedAt, cells))
  }
}

/** A CQL3 table with composite cell names and row markers, compacted with
  * the typed comparator and pivoted to parquet:
  * `aegbench.ledger (user_id bigint, day int, seq int, kind text,
  * amount double, tags set<text>, PRIMARY KEY ((user_id), day, seq))`. */
object CqlParquet extends Workload {
  import Workload._
  val name = "cql_parquet"
  private val Nodes = 3
  private val Gens = 3
  val files: IndexedSeq[FileSpec] = for (n <- 0 until Nodes; g <- 1 to Gens) yield
    FileSpec(s"node$n", s"aegbench-ledger-jb-$g-Data.db", compress = false, index = false)
  def key(i: Int): Array[Byte] = java.nio.ByteBuffer.allocate(8).putLong(1000000L + i).array()
  def sink: Sink = ParquetSink

  private val Kinds = Array("debit", "credit", "refund", "fee").map(ascii)
  private val Tags = Array("web", "mobile", "pos", "promo", "intl", "flagged").map(ascii)

  private def int4(v: Int) = java.nio.ByteBuffer.allocate(4).putInt(v).array()
  /** CompositeType name: each component `[u16 len][bytes][u8 eoc=0]` */
  def composite(parts: Array[Byte]*): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(parts.map(_.length + 3).sum)
    parts.foreach { p => bb.putShort(p.length.toShort); bb.put(p); bb.put(0.toByte) }
    bb.array()
  }
  private def amount(rnd: SplittableRandom) =
    java.nio.ByteBuffer.allocate(8).putDouble(rnd.nextInt(400000) / 4.0).array()
  private def tombstone(name: Array[Byte], ts: Long) =
    GCell(SSTableFormat.KindDeleted, name, int4((ts / 1000000).toInt), ts)

  /** the cells of one clustering row written at `ts` */
  private def rowCells(rnd: SplittableRandom, day: Int, seq: Int, ts: Long): Seq[GCell] = {
    val ck = Seq(int4(day), int4(seq))
    Seq(GCell(SSTableFormat.KindColumn, composite(ck :+ Array.emptyByteArray: _*), Array.emptyByteArray, ts),
      GCell(SSTableFormat.KindColumn, composite(ck :+ ascii("kind"): _*), Kinds(rnd.nextInt(Kinds.length)), ts),
      GCell(SSTableFormat.KindColumn, composite(ck :+ ascii("amount"): _*), amount(rnd), ts)) ++
      Tags.indices.filter(_ => rnd.nextInt(4) == 0).map(t =>
        GCell(SSTableFormat.KindColumn, composite(ck ++ Seq(ascii("tags"), Tags(t)): _*),
          Array.emptyByteArray, ts))
  }

  def history(i: Int, rnd: SplittableRandom): Seq[(Int, Frag)] = {
    var rows = 15 + rnd.nextInt(11)
    val frags = (1 to Gens).map { g =>
      val ts = BaseTs + g * GenStep + i.toLong * 64
      val cells = Vector.newBuilder[GCell]
      if (g == 1) (0 until rows).foreach(r => cells ++= rowCells(rnd, 20000 + r / 4, r, ts + rnd.nextInt(32)))
      else if (rnd.nextDouble() < 0.4) {
        // moderate overwrites: rewrite a few rows, delete a column or a
        // tag, and append new rows
        (0 until 3).foreach { _ =>
          val r = rnd.nextInt(rows)
          val (day, ck) = (20000 + r / 4, Seq(int4(20000 + r / 4), int4(r)))
          rnd.nextInt(3) match {
            case 0 => cells ++= rowCells(rnd, day, r, ts + 1 + rnd.nextInt(32))
            case 1 => cells += tombstone(composite(ck :+ ascii("kind"): _*), ts + 1)
            case _ => cells += tombstone(composite(ck ++ Seq(ascii("tags"), Tags(rnd.nextInt(Tags.length))): _*),
              ts + 1)
          }
        }
        val added = 1 + rnd.nextInt(3)
        (rows until rows + added).foreach(r => cells ++= rowCells(rnd, 20000 + r / 4, r, ts + 1 + rnd.nextInt(32)))
        rows += added
      }
      Frag(Long.MinValue, cells.result())
    }
    for (n <- 0 until Nodes; g <- 1 to Gens if frags(g - 1).cells.nonEmpty)
      yield (n * Gens + g - 1) -> frags(g - 1)
  }

  /** the relational pivot of the compacted partition: one record per
    * clustering prefix that kept any cell (a tombstone too) */
  def expected(key: Array[Byte], frags: Seq[Frag]): Iterator[Long] = {
    val (_, cells) = Model.compact(frags)
    val userId = java.nio.ByteBuffer.wrap(key).getLong
    cells.groupBy(c => Model.components(c.name).take(2).map(_.toSeq)).iterator.map { case (ck, cs) =>
      def live(col: String) = cs.filter(c => c.kind != SSTableFormat.KindDeleted &&
        new String(Model.components(c.name)(2), UTF_8) == col)
      val kind = live("kind").headOption.map(_.value)
      val amount = live("amount").headOption.map(c => java.nio.ByteBuffer.wrap(c.value).getDouble)
      val tags = live("tags").map(c => Model.components(c.name)(3))
      Canon.pivotRow(userId, java.nio.ByteBuffer.wrap(ck(0).toArray).getInt,
        java.nio.ByteBuffer.wrap(ck(1).toArray).getInt, kind, amount,
        if (tags.isEmpty) None else Some(tags))
    }
  }
}

/** Independent model of Cassandra compaction for one partition: fold all
  * of its fragments, from every replica and generation, at once. */
object Model {
  def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = java.util.Arrays.compareUnsigned(a, b) < 0

  /** Row deletion is the newest marker; each name keeps its newest cell
    * (equal timestamps are replica copies of one write); a cell dies if a
    * range tombstone covering its name is at least as new, or if the row
    * deletion is at least as new. Output is in byte order of names. */
  def compact(frags: Seq[Frag]): (Long, Vector[GCell]) = {
    val deletedAt = frags.map(_.deletedAt).max
    val all = frags.flatMap(_.cells)
    val (rts, cells) = all.partition(_.isRangeTombstone)
    val newest = cells.groupBy(c => java.nio.ByteBuffer.wrap(c.name)).valuesIterator.map(_.maxBy(_.ts))
    val kept = newest.filter { c =>
      c.ts > deletedAt && !rts.exists(rt => !unsignedLess(c.name, rt.name) &&
        !unsignedLess(rt.rtMax, c.name) && rt.ts >= c.ts)
    }.toVector
    (deletedAt, kept.sortWith((a, b) => unsignedLess(a.name, b.name)))
  }

  /** CompositeType components (end-of-component bytes dropped) */
  def components(name: Array[Byte]): IndexedSeq[Array[Byte]] = {
    val bb = java.nio.ByteBuffer.wrap(name)
    val out = IndexedSeq.newBuilder[Array[Byte]]
    while (bb.remaining() > 0) {
      val c = new Array[Byte](bb.getShort & 0xffff)
      bb.get(c)
      if (bb.remaining() > 0) bb.get()
      out += c
    }
    out.result()
  }
}

/** Writes a workload's corpus for a seed and computes the model's expected
  * output digest as it goes. */
object Generator {
  /** `keys` partitions of `w` into `root`; the expected digest and the input
    * sizes land in `root/corpus.json`. */
  def generate(w: Workload, seed: Long, keys: Int, root: Path): Unit = {
    val outs = scala.collection.mutable.Map[Int, FileOut]()
    val digest = new DigestBuilder
    // partitions are drawn and modelled on all cores, a chunk at a time,
    // and written in key order on this thread
    val threads = Runtime.getRuntime.availableProcessors
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val chunk = math.max(1, keys / (threads * 16))
    def draw(from: Int) = pool.submit(() => (from until math.min(keys, from + chunk)).map { i =>
      val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + w.name.hashCode)
      val key = w.key(i)
      val hist = w.history(i, rnd)
      (key, hist, w.expected(key, hist.map(_._2)).toVector)
    })
    try {
      val pending = scala.collection.mutable.Queue((0 until keys by chunk).take(2 * threads).map(draw): _*)
      var next = 2 * threads * chunk
      while (pending.nonEmpty) {
        val done = pending.dequeue().get()
        if (next < keys) { pending.enqueue(draw(next)); next += chunk }
        done.foreach { case (key, hist, expected) =>
          hist.foreach { case (f, frag) => outs.getOrElseUpdate(f, new FileOut(root, w.files(f))).write(key, frag) }
          expected.foreach(digest.add)
        }
      }
    } finally pool.shutdown()
    outs.values.foreach(_.close())
    val dataFiles = w.files.map(s => root.resolve(s.dir).resolve(s.fileName)).filter(Files.exists(_))
    val sidecars = dataFiles.flatMap(f => Seq("-Index.db", "-CompressionInfo.db")
      .map(s => f.resolveSibling(f.getFileName.toString.replace("-Data.db", s)))).filter(Files.exists(_))
    Files.write(root.resolve("corpus.json"), Json.obj(
      "workload" -> w.name, "seed" -> seed, "keys" -> keys, "files" -> dataFiles.size,
      "data_bytes" -> dataFiles.map(Files.size).sum, "sidecar_bytes" -> sidecars.map(Files.size).sum,
      "rows" -> outs.values.map(_.rows).sum, "atoms" -> outs.values.map(_.atoms).sum,
      "expected" -> digest.result.toString).getBytes(UTF_8))
  }
}
