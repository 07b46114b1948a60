package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sstable._

/** Differential fuzz for distributed compaction. A random atom soup
  * (LWW collisions, deleted cells, row tombstones, range tombstones,
  * empty rows) must compact to the SAME result regardless of shuffle
  * partition count and input row order — the property that makes the
  * engine's answer well-defined on a 1000-executor cluster, where both
  * are scheduling accidents. A larger soup (plus expiring and counter
  * cells, BytesType and LongType names; smaller typed soups of
  * CompositeType(Int32Type,UTF8Type) and DecimalType names) must
  * compact, in batch and through the streaming fold, to what the
  * independent [[MergeModel]] expects, so a merge that is wrong the
  * same way every time fails too.
  *
  * Values are a function of (name, ts) so reference-inherited equal-ts
  * ties are value-identical (the reference's secondary sort has the
  * same ambiguity: `AegisthusKeySortingComparator` orders by name+ts
  * only). */
class CompactionDifferentialSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  private def randomAtoms(seed: Long, n: Int): Seq[AtomRec] = {
    val rnd = new scala.util.Random(seed)
    val keys = (1 to 12).map(i => f"k$i%02d")
    val names = (1 to 8).map(i => f"n$i%02d")
    (1 to n).map { _ =>
      val key = keys(rnd.nextInt(keys.length))
      rnd.nextInt(10) match {
        case 0 => // empty-row marker with a row tombstone watermark
          AtomRec(key.getBytes, "src", rnd.nextInt(50).toLong, SSTableFormat.KindEmptyRow,
            null, null, None, None, None, None, null)
        case 1 => // range tombstone over a random name interval
          val a = names(rnd.nextInt(names.length))
          val b = names(rnd.nextInt(names.length))
          val (lo, hi) = if (a <= b) (a, b) else (b, a)
          AtomRec(key.getBytes, "src", Long.MinValue, SSTableFormat.KindRangeTombstone,
            lo.getBytes, null, Some(rnd.nextInt(100).toLong), None, None, None, hi.getBytes)
        case 2 => // deleted cell
          val nm = names(rnd.nextInt(names.length))
          val ts = rnd.nextInt(100).toLong
          AtomRec(key.getBytes, "src", Long.MinValue, SSTableFormat.KindDeleted,
            nm.getBytes, Array.emptyByteArray, Some(ts), None, None, None, null)
        case _ => // live cell; value derived from (name, ts)
          val nm = names(rnd.nextInt(names.length))
          val ts = rnd.nextInt(100).toLong
          AtomRec(key.getBytes, "src", Long.MinValue, SSTableFormat.KindColumn,
            nm.getBytes, s"$nm@$ts".getBytes, Some(ts), None, None, None, null)
      }
    }
  }

  private def intB(v: Int): Array[Byte] = java.nio.ByteBuffer.allocate(4).putInt(v).array()

  /** Cassandra composite encoding: [u16 len][bytes][u8 eoc] per part. */
  private def composite(parts: Array[Byte]*): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(parts.map(2 + _.length + 1).sum)
    parts.foreach(p => bb.putShort(p.length.toShort).put(p).put(0.toByte))
    bb.array()
  }

  /** DecimalType wire format: [i32 scale][varint unscaled]. */
  private def decimal(unscaled: Long, scale: Int): Array[Byte] = {
    val u = java.math.BigInteger.valueOf(unscaled).toByteArray
    java.nio.ByteBuffer.allocate(4 + u.length).putInt(scale).put(u).array()
  }

  private val CompositeIntUtf8 = CassType.CompositeType(Seq(CassType.Int32Type, CassType.UTF8Type))

  /** `n` atoms over 150 keys and about 24 names of type `ct` (LongType
    * names include negatives, whose unsigned byte order differs from
    * the comparator's; composite names include the empty name, static
    * names and empty components; decimal names include byte-distinct
    * encodings of one value); range tombstones span up to 3 adjacent
    * names in comparator order. */
  private def soup(seed: Long, n: Int, ct: CassType): Seq[AtomRec] = {
    val rnd = new scala.util.Random(seed)
    val keys = (1 to 150).map(i => f"k$i%03d".getBytes)
    val names = (ct match {
      case CassType.LongType =>
        (-12 to 11).map(v => java.nio.ByteBuffer.allocate(8).putLong(v * 1000003L).array())
      case CompositeIntUtf8 =>
        Seq(Array.emptyByteArray, composite(Array.emptyByteArray, "a".getBytes)) ++
          Seq("s", "t").map(c => Array[Byte](-1, -1) ++ composite(Array.emptyByteArray, c.getBytes)) ++
          (for (i <- Seq(-2, 0, 3); c <- Seq("", "a", "ab", "b", "c", "a\u0000b"))
            yield composite(intB(i), c.getBytes)) ++
          Seq(composite(intB(-2)), composite(intB(3)))
      case CassType.DecimalType =>
        Seq(decimal(25, 1), decimal(250, 2), decimal(2500, 3), decimal(-15, 1), decimal(-150, 2),
          decimal(0, 0), decimal(0, 3), decimal(1, -2), decimal(100, 0), decimal(10000, 2),
          decimal(12345, 3), decimal(-12345, 3), decimal(7, 0), decimal(-7, 0), decimal(33, 1),
          decimal(Long.MaxValue, 0), decimal(Long.MinValue, 0), decimal(1, 9), decimal(-1, 9),
          decimal(26, 1), decimal(-26, 1), decimal(24, 1), decimal(249, 2), decimal(251, 2))
      case _ => (1 to 24).map(i => f"n$i%02d".getBytes)
    }).sortWith(TypedOrder.compare(ct, _, _) < 0)
    def cell(key: Array[Byte], kind: String, ttl: Option[Int] = None, ldt: Option[Int] = None,
        tsOfLastDelete: Option[Long] = None) = {
      val nm = names(rnd.nextInt(names.length))
      val ts = rnd.nextInt(100).toLong
      AtomRec(key, "src", Long.MinValue, kind, nm, s"${CassType.hex(nm)}@$ts".getBytes, Some(ts),
        ttl, ldt, tsOfLastDelete, null)
    }
    (1 to n).map { _ =>
      val key = keys(rnd.nextInt(keys.length))
      rnd.nextInt(20) match {
        case 0 =>
          AtomRec(key, "src", rnd.nextInt(40).toLong, SSTableFormat.KindEmptyRow,
            null, Array.emptyByteArray, None, None, None, None, null)
        case 1 | 2 =>
          val lo = rnd.nextInt(names.length)
          val hi = (lo + rnd.nextInt(3)).min(names.length - 1)
          AtomRec(key, "src", Long.MinValue, SSTableFormat.KindRangeTombstone,
            names(lo), null, Some(rnd.nextInt(100).toLong), None, None, None, names(hi))
        case 3 | 4 => cell(key, SSTableFormat.KindDeleted)
        case 5 => cell(key, SSTableFormat.KindExpiring, Some(60), Some(1000))
        case 6 => cell(key, SSTableFormat.KindCounter, tsOfLastDelete = Some(0L))
        case _ => cell(key, SSTableFormat.KindColumn)
      }
    }
  }

  private def render(rows: Seq[CompactedRow]): Seq[String] =
    rows.map(r => Compaction.toAegJson(r))
      .sorted

  test("compaction is partition-count and input-order independent (randomized)") {
    import spark.implicits._
    (1 to 5).foreach { seed =>
      val atoms = randomAtoms(seed.toLong * 7919, 600)
      val df = spark.createDataset(atoms).toDF()
      val base = render(GraftSSTable.compact(df, numPartitions = 1).collect().toSeq)
      assert(base.nonEmpty)
      // different shuffle width
      val wide = render(GraftSSTable.compact(df, numPartitions = 7).collect().toSeq)
      assert(wide == base, s"seed=$seed: partition count changed the answer")
      // scrambled input order + different pre-partitioning
      val scrambled = spark.createDataset(scala.util.Random.javaRandomToRandom(
        new java.util.Random(seed)).shuffle(atoms)).toDF().repartition(13)
      val out = render(GraftSSTable.compact(scrambled, numPartitions = 5).collect().toSeq)
      assert(out == base, s"seed=$seed: input order changed the answer")
    }
  }

  test("range tombstone kills an older cell named at its lower bound (shuffle-sorted input)") {
    import spark.implicits._
    // the (key, name, ts) sort puts k1's b@10 BEFORE the tombstone
    // b@50, so the merge sees the cell first and must drop it when the
    // tombstone arrives; k2's newer b@60 after it survives
    def cell(key: String, name: String, ts: Long) =
      AtomRec(key.getBytes, "src", Long.MinValue, SSTableFormat.KindColumn,
        name.getBytes, s"$key.$name@$ts".getBytes, Some(ts), None, None, None, null)
    def rt(key: String, min: String, max: String, mfda: Long) =
      AtomRec(key.getBytes, "src", Long.MinValue, SSTableFormat.KindRangeTombstone,
        min.getBytes, null, Some(mfda), None, None, None, max.getBytes)
    val atoms = Seq(
      cell("k1", "a", 10), cell("k1", "b", 10), rt("k1", "b", "c", 50),
      cell("k1", "c", 50), cell("k1", "d", 10),
      cell("k2", "b", 10), cell("k2", "b", 20), rt("k2", "b", "b", 50), cell("k2", "b", 60))
    val rows = GraftSSTable.compact(spark.createDataset(atoms).toDF()).collect()
    val kept = rows.flatMap(_.columns).map(c => new String(c.value)).toSet
    assert(kept == Set("k1.a@10", "k1.d@10", "k2.b@60"))
  }

  /** batch `compact` and the streaming fold over `n`-atom soups of
    * each type and seed against [[MergeModel]]. */
  private def agreeWithModel(types: Seq[CassType], seeds: Range, n: Int): Unit = {
    import spark.implicits._
    for (ct <- types; seed <- seeds) {
      val ctx = s"$ct seed=$seed"
      val atoms = soup(seed * 104729L, n, ct)
      val byKey = atoms.groupBy(a => CassType.hex(a.key))
      val want = byKey.map { case (k, as) => k -> MergeModel.expected(as, ct) }
      // the soup exercises every rule: range tombstones shadow cells
      // the row watermark and LWW alone would keep
      val noRt = byKey.values.map(as =>
        MergeModel.expected(as.filter(_.kind != SSTableFormat.KindRangeTombstone), ct).survivors.size).sum
      val survivors = want.values.map(_.survivors.size).sum
      assert(survivors > n / 20 && survivors < noRt, s"$ctx: $survivors survivors, $noRt without range tombstones")

      val batch = GraftSSTable.compact(spark.createDataset(atoms).toDF(), columnType = ct,
        numPartitions = 4).collect()
      assert(batch.map(r => CassType.hex(r.key)).toSet == want.keySet, ctx)
      batch.foreach { r =>
        val k = CassType.hex(r.key)
        MergeModel.disagreement(r, want(k)).foreach(e => fail(s"$ctx batch key $k: $e"))
      }

      val rnd = new scala.util.Random(seed)
      byKey.foreach { case (k, as) =>
        Seq("forward" -> as, "reversed" -> as.reverse, "shuffled" -> rnd.shuffle(as)).foreach {
          case (order, ordered) =>
            Seq(1, 3, ordered.size).foreach { chunk =>
              val (row, _) = MergeModel.foldChunks(ordered, chunk, ct)
              MergeModel.disagreement(row, want(k))
                .foreach(e => fail(s"$ctx fold $order chunk $chunk key $k: $e"))
            }
        }
      }
    }
  }

  test("batch compact and the streaming fold agree with the independent merge model (10k atoms, BytesType and LongType names)") {
    agreeWithModel(Seq(CassType.BytesType, CassType.LongType), 1 to 3, 10000)
  }

  test("batch compact and the streaming fold agree with the merge model on typed names (2k atoms, Composite with empty and static names, Decimal with equal encodings)") {
    agreeWithModel(Seq(CompositeIntUtf8, CassType.DecimalType), 1 to 2, 2000)
  }
}
