package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sstable._

/** Differential fuzz for distributed-compaction determinism: a random
  * atom soup (LWW collisions, deleted cells, row tombstones, range
  * tombstones, empty rows) must compact to the SAME result regardless
  * of shuffle partition count and input row order — the property that
  * makes the engine's answer well-defined on a 1000-executor cluster,
  * where both are scheduling accidents.
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
}
