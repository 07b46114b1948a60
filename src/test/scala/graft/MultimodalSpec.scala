package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{MediaCodec, Multimodal}

/** The real-decode contract: hand-built payload bytes round-trip
  * through the in-tree PPM/WAV/Y4M parsers exactly; malformed bytes
  * fail with diagnosable errors; the distributed batch-decode and the
  * frame resample agree with scalar recomputation. */
class MultimodalSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = TestUtil.session()

  test("PPM round trip: encode∘decode is identity on a hand-built fixture") {
    val rgb = Array.tabulate(3 * 2 * 3)(i => (i * 37 % 256).toByte)
    val bytes = MediaCodec.encodePpm(2, 3, rgb)
    assert(new String(bytes.take(11)) == "P6\n2 3\n255\n")
    val img = MediaCodec.decodePpm(bytes)
    assert(img.width == 2 && img.height == 3)
    assert(img.rgb.toSeq == rgb.toSeq)
    // spec-compliant variant header: comments + extra whitespace
    val commented = ("P6\n# a comment\n 2\t3 # trailing\n255\n").getBytes("US-ASCII") ++ rgb
    val img2 = MediaCodec.decodePpm(commented)
    assert(img2.width == 2 && img2.height == 3 && img2.rgb.toSeq == rgb.toSeq)
  }

  test("WAV round trip: header fields and signed samples survive exactly") {
    val samples = Array[Short](0, 1, -1, 32767, -32768, 12345, -12345)
    val bytes = MediaCodec.encodeWav(8000, samples)
    assert(bytes.length == 44 + 2 * samples.length)
    val wav = MediaCodec.decodeWav(bytes)
    assert(wav.sampleRate == 8000)
    assert(wav.samples.toSeq == samples.toSeq)
  }

  test("Y4M round trip: multi-frame luma planes survive; chroma length is validated") {
    val frames = Array.tabulate(3)(f => Array.tabulate(4 * 2)(j => ((f * 50 + j) % 256).toByte))
    val bytes = MediaCodec.encodeY4m(4, 2, frames)
    val vid = MediaCodec.decodeY4m(bytes)
    assert(vid.width == 4 && vid.height == 2 && vid.lumaFrames.length == 3)
    vid.lumaFrames.zip(frames).foreach { case (got, want) =>
      assert(got.toSeq == want.toSeq)
    }
  }

  test("malformed payloads fail fast with diagnosable errors, not index crashes") {
    def msg(f: => Any): String = intercept[IllegalArgumentException](f).getMessage
    assert(msg(MediaCodec.decodePpm("XX".getBytes)).contains("magic"))
    assert(msg(MediaCodec.decodePpm("P6\n4 4\n255\n".getBytes)).contains("truncated"))
    assert(msg(MediaCodec.decodePpm("P6\n4 4\n65535\n".getBytes ++ new Array[Byte](48)))
      .contains("maxval"))
    assert(msg(MediaCodec.decodeWav(new Array[Byte](10))).contains("truncated"))
    val stereo = {
      val ok = MediaCodec.encodeWav(8000, Array[Short](1, 2))
      ok(22) = 2 // channel count field
      ok
    }
    assert(msg(MediaCodec.decodeWav(stereo)).contains("channel"))
    assert(msg(MediaCodec.decodeY4m("YUV4MPEG2 W4 H2\nBOGUS".getBytes)).contains("FRAME"))
    val odd = "YUV4MPEG2 W3 H2\n".getBytes
    assert(msg(MediaCodec.decodeY4m(odd)).contains("even"))
    // batch decode surfaces unknown containers with the media id
    val rec = Multimodal.MediaRecord(7L, "image", "x", "s", "not-a-container".getBytes)
    assert(msg(Multimodal.decodeBatch(Seq(rec))).contains("media 7"))
  }

  test("batch feature extraction parses real payloads; deterministic across batch sizes") {
    val media = Multimodal.mediaFromDocuments(Tables.documents(spark, sfDir))
    val rows = Multimodal.extractFeatures(media, batchSize = 16).collect()
    assert(rows.length == media.count().toInt)
    rows.foreach { f =>
      f.kind match {
        case "image" =>
          val (w, h) = (4 + (f.media_id % 29).toInt, 4 + (f.media_id % 23).toInt)
          assert(f.width == w && f.height == h && f.channels == 3 && f.n_frames == 1)
          // the parsed channel sum equals the generator's arithmetic
          val want = (0 until 3 * w * h).map(i => (f.media_id * 31 + i * 7) % 256).sum
          assert(f.content_sum == want)
        case "audio" =>
          assert(f.sample_rate == Multimodal.AudioSampleRate && f.channels == 1)
          val n = 16 + (f.media_id % 240).toInt
          val want = (0 until n).map(i => (f.media_id * 131 + i * 17) % 65536).sum
          assert(f.content_sum == want)
        case "video" =>
          assert(f.n_frames == 1 + (f.media_id % 27).toInt)
          assert(f.frame_sums.length == f.n_frames)
        case other => fail(s"unexpected kind $other")
      }
      assert(f.embedding.length == 8)
      assert(f.embedding.forall(x => x >= -1.0f && x < 1.0f))
    }
    val again = Multimodal.extractFeatures(media, batchSize = 5).collect()
    assert(rows.sortBy(_.media_id).map(_.content_sum).toSeq ==
      again.sortBy(_.media_id).map(_.content_sum).toSeq)
  }

  test("nearest-neighbor resample: exact pixels on a hand fixture; bounds respected corpus-wide") {
    import spark.implicits._
    // 4x2 plane downsampled to fit 2: scale = 0.5, dst 2x1;
    // dst(x, 0) = src(x*4/2, 0*2/1) = src(2x, 0)
    val src = Multimodal.MediaFrame(1L, 0, 4, 2,
      Array[Byte](10, 20, 30, 40, 50, 60, 70, 80))
    val out = Multimodal.resizeFrames(Seq(src).toDS(), 2).collect()(0)
    assert(out.width == 2 && out.height == 1)
    assert(out.luma.toSeq == Seq[Byte](10, 30))
    // already-small frames pass through untouched
    val small = Multimodal.resizeFrames(Seq(src).toDS(), 8).collect()(0)
    assert(small.width == 4 && small.height == 2 && small.luma.toSeq == src.luma.toSeq)
    // corpus-wide: every resampled frame fits the bound and keeps
    // aspect-derived dims >= 1
    val media = Multimodal.mediaFromDocuments(Tables.documents(spark, sfDir))
    val resized = Multimodal.resizeFrames(Multimodal.decodeVideoFrames(media), 8).collect()
    assert(resized.nonEmpty)
    assert(resized.forall(f => f.width <= 8 && f.height <= 8 && f.width >= 1 && f.height >= 1))
    assert(resized.forall(f => f.luma.length == f.width * f.height))
  }

  test("corrupt-absorb decode: counts and drops exactly the mangled payloads") {
    import spark.implicits._
    val media = Multimodal.mediaFromDocuments(Tables.documents(spark, sfDir))
    val total = media.count()
    // the m05 corruption rule: every 31st payload gets a wrong magic
    // (even ids) or loses its last byte (odd ids)
    val mangled = media.map { m =>
      if (m.media_id % 31 != 0) m
      else if (m.media_id % 2 == 0) {
        val p = m.payload.clone(); p(0) = 'X'.toByte; m.copy(payload = p)
      } else m.copy(payload = java.util.Arrays.copyOf(m.payload, m.payload.length - 1))
    }
    val nBad = mangled.filter(_.media_id % 31 == 0).count()
    assert(nBad > 0, "fixture corpus must hit the corruption rule")

    // strict path: the corrupt corpus kills the job
    intercept[org.apache.spark.SparkException] {
      Multimodal.extractFeatures(mangled, batchSize = 16).count()
    }

    // absorb path: survivors = clean ids, bit-identical to a clean
    // decode of the same subset; accumulator = mangled count
    val (feats, acc) = Multimodal.extractFeaturesAbsorb(mangled, batchSize = 16)
    val got = feats.collect().sortBy(_.media_id)
    assert(got.length.toLong == total - nBad)
    assert(got.forall(_.media_id % 31 != 0))
    assert(acc.value == nBad)
    val clean = Multimodal.extractFeatures(media.filter(_.media_id % 31 != 0), batchSize = 16)
      .collect().sortBy(_.media_id)
    assert(got.map(f => (f.media_id, f.content_sum, f.n_bytes)).toSeq ==
      clean.map(f => (f.media_id, f.content_sum, f.n_bytes)).toSeq)

    // absorb is for bad DATA, not bugs: a non-IAE failure still
    // escapes (null payload -> NPE inside the decoder dispatch)
    val firstId = media.agg(org.apache.spark.sql.functions.min("media_id"))
      .as[Long].head()
    val poisoned = media.map(m =>
      if (m.media_id == firstId) m.copy(payload = null) else m)
    val (pf, _) = Multimodal.extractFeaturesAbsorb(poisoned, batchSize = 16)
    intercept[org.apache.spark.SparkException] { pf.count() }
  }

  test("frame sampling keeps the stride and exact luma sums") {
    val media = Multimodal.mediaFromDocuments(Tables.documents(spark, sfDir))
    val frames = Multimodal.decodeVideoFrames(media)
    val sampled = Multimodal.frameSums(Multimodal.sampleEveryNth(frames, 5)).collect()
    assert(sampled.nonEmpty)
    assert(sampled.forall(_.getLong(1) % 5 == 0))
    // scalar recomputation of one frame's sum from the generator
    val r = sampled.minBy(r => (r.getLong(0), r.getLong(1)))
    val (id, fidx, w, h) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val want = (0L until w * h).map(j => (id * 17 + fidx * 11 + j * 5) % 256).sum
    assert(r.getLong(4) == want)
  }

  test("trimSilence: interior silence kept, partial frame ignored, non-audio filtered") {
    import spark.implicits._
    def wav(id: Long, frames: Seq[Boolean], extraSamples: Int): Multimodal.MediaRecord = {
      // frames: true = loud (constant 5000), false = silent; plus
      // `extraSamples` trailing loud samples forming a PARTIAL frame
      val s = frames.flatMap(l => Seq.fill(8)(if (l) 5000.toShort else 0.toShort)) ++
        Seq.fill(extraSamples)(5000.toShort)
      Multimodal.MediaRecord(id, "audio", "audio/vnd.wave", "t",
        MediaCodec.encodeWav(8000, s.toArray))
    }
    val media = Seq(
      // silent, loud, SILENT-interior, loud, silent, silent
      wav(1L, Seq(false, true, false, true, false, false), 0),
      // all silent + a loud partial frame that must NOT count
      wav(2L, Seq(false, false), 7),
      Multimodal.MediaRecord(3L, "image", "image/x-portable-pixmap", "t",
        MediaCodec.encodePpm(1, 1, Array[Byte](1, 2, 3)))).toDS()
    val got = Multimodal.trimSilence(media, frameSamples = 8, thresholdMeanAbs = 100L)
      .collect().map(t => t.media_id ->
        ((t.n_frames, t.lead_silent, t.tail_silent, t.kept_frames))).toMap
    assert(!got.contains(3L), "non-audio records are filtered, not decoded")
    assert(got(1L) == ((6L, 1L, 2L, 3L)),
      "interior silent frames stay inside the kept span")
    assert(got(2L) == ((2L, 2L, 0L, 0L)),
      "a trailing partial frame is ignored; all-silent reports lead = n")
  }

  test("frameEnergies: exact integer energy/mean-abs, partial frame ignored, non-audio filtered") {
    import spark.implicits._
    // frame 0: constant +100 -> energy 10000, mean_abs 100
    // frame 1: alternating +-200 -> energy 40000, mean_abs 200
    // 3 trailing samples: partial frame, must not emit
    val samples = (Seq.fill(4)(100.toShort) ++
      Seq.tabulate(4)(j => (if (j % 2 == 0) 200 else -200).toShort) ++
      Seq.fill(3)(999.toShort)).toArray
    val media = Seq(
      Multimodal.MediaRecord(1L, "audio", "audio/vnd.wave", "t",
        MediaCodec.encodeWav(8000, samples)),
      Multimodal.MediaRecord(2L, "image", "image/x-portable-pixmap", "t",
        MediaCodec.encodePpm(1, 1, Array[Byte](1, 2, 3)))).toDS()
    val got = Multimodal.frameEnergies(media, frameSamples = 4)
      .collect().map(f => (f.media_id, f.frame_idx) -> ((f.energy, f.mean_abs))).toMap
    assert(got.keySet == Set((1L, 0L), (1L, 1L)),
      "partial frames and non-audio records emit nothing")
    assert(got((1L, 0L)) == ((10000L, 100L)))
    assert(got((1L, 1L)) == ((40000L, 200L)))
    intercept[IllegalArgumentException](Multimodal.frameEnergies(media, 0))
  }

  test("frameEnergies and trimSilence agree on which frames are silent (cross-operator fuzz)") {
    import spark.implicits._
    var x = 777555333L
    def nxt(): Long = { x = (x * 6364136223846793005L + 1442695040888963407L) >>> 2; x }
    val thresh = 500L
    val media = (1L to 20L).map { id =>
      val n = (nxt() % 12 + 2).toInt * 8
      val samples = Array.tabulate[Short](n)(_ =>
        (if (nxt() % 3 == 0) 0 else (nxt() % 4000 - 2000)).toShort)
      Multimodal.MediaRecord(id, "audio", "audio/vnd.wave", "t",
        MediaCodec.encodeWav(8000, samples))
    }.toDS()
    val energies = Multimodal.frameEnergies(media, 8).collect()
      .map(f => (f.media_id, f.frame_idx) -> f.mean_abs).toMap
    val trims = Multimodal.trimSilence(media, 8, thresh).collect()
    trims.foreach { t =>
      val frames = (0L until t.n_frames).map(f => energies((t.media_id, f)))
      // leading silent prefix must be below the threshold...
      (0L until t.lead_silent).foreach(f =>
        assert(frames(f.toInt) < thresh, s"media ${t.media_id} frame $f"))
      // ...and the first kept frame (if any) must be loud
      if (t.kept_frames > 0 && t.lead_silent < t.n_frames)
        assert(frames(t.lead_silent.toInt) >= thresh)
      // trailing silent suffix below threshold
      (t.n_frames - t.tail_silent until t.n_frames).foreach(f =>
        assert(frames(f.toInt) < thresh))
    }
    assert(trims.nonEmpty && energies.nonEmpty)
  }

  test("imageAHash: hand-built half-bright image pins the bit pattern; duplicates share hashes") {
    import spark.implicits._
    // 8x8 image: top 4 rows black (luma 0), bottom 4 rows white
    // (luma 255). mean = 127 -> exactly the bottom 32 bits set:
    // hash_hi = 0xFFFFFFFF (bits 32-63), hash_lo = 0
    val rgb = Array.tabulate(3 * 8 * 8) { i =>
      val y = (i / 3) / 8
      (if (y < 4) 0 else 255).toByte
    }
    val img = Multimodal.MediaRecord(3L, "image", "image/x-portable-pixmap",
      "t", MediaCodec.encodePpm(8, 8, rgb))
    val dup = img.copy(media_id = 6L)
    val got = Multimodal.imageAHash(Seq(img, dup).toDS())
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // mean = (32*0 + 32*255)/64 = 127; bright half = rows 4-7 = bits
    // 32..63 -> hi has all 32 bits set (0xFFFFFFFF), lo none
    assert(got(3L) === ((127L, 0xFFFFFFFFL, 0L)))
    assert(got(6L) === got(3L), "identical pixels must hash identically")
  }

  test("aHashNearDupPairs: pigeonhole recall — <=3-bit pairs always candidates; all-band damage escapes") {
    import spark.implicits._
    // hand-built 64-bit hashes as (hi, lo) 32-bit halves:
    //   id 1: base            id 2: 1 bit off (lo bit 0)
    //   id 3: 3 bits off (lo bits 0,1 + hi bit 0)
    //   id 4: 4 bits off, ONE PER BAND (lo bits 0,16 + hi bits 0,16)
    //         -> no shared band, must not even be a candidate vs id 1
    //   id 5: 4 bits off, all in one band (lo bits 0-3)
    //         -> candidate vs id 1 (3 bands intact) but is_neardup=false
    val base = 0x0F0F0F0FL
    val hashes = Seq(
      (1L, base, base),
      (2L, base, base ^ 1L),
      (3L, base ^ 1L, base ^ 3L),
      (4L, base ^ 0x10001L, base ^ 0x10001L),
      (5L, base, base ^ 0xFL))
      .toDF("media_id", "hash_hi", "hash_lo")
    val got = Multimodal.aHashNearDupPairs(hashes, maxHamming = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(got((1L, 2L)) == ((1L, true)), "1-bit pair flagged")
    assert(got((1L, 3L)) == ((3L, true)), "3-bit pair flagged (pigeonhole floor)")
    assert(!got.contains((1L, 4L)),
      "per-band damage destroys every band: not even a candidate")
    assert(got((1L, 5L)) == ((4L, false)),
      "single-band damage stays a candidate but fails the verdict")
    intercept[IllegalArgumentException](
      Multimodal.aHashNearDupPairs(hashes, maxHamming = 4))
  }

  test("keyframes: hand-built video — first frame keys, diff sums exact, threshold splits") {
    import spark.implicits._
    // 2x2 video, three frames: f0, f1 = f0 + small change (1 pixel by
    // 4 => mad 1.0), f2 = inverted (mad large)
    val f0 = Array[Byte](10, 20, 30, 40)
    val f1 = Array[Byte](10, 20, 30, 44)
    val f2 = Array[Byte](200.toByte, 210.toByte, 220.toByte, 230.toByte)
    val vid = Multimodal.MediaRecord(7L, "video", "video/x-yuv4mpeg",
      "t", MediaCodec.encodeY4m(2, 2, Array(f0, f1, f2)))
    val single = Multimodal.MediaRecord(8L, "video", "video/x-yuv4mpeg",
      "t", MediaCodec.encodeY4m(2, 2, Array(Array[Byte](5, 6, 7, 8))))
    val frames = Multimodal.decodeVideoFrames(Seq(vid, single).toDS())
    val got = Multimodal.keyframes(frames, threshMicro = 2000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.get(3)).map(_.asInstanceOf[Long]), r.getBoolean(4)))).toMap
    // f1: |44-40| = 4 over 4 px -> mad 1.0 (1000000) — below threshold
    // f2: |200-10|+|210-20|+|220-30|+|230-44| = 190*3+186 = 756 -> mad 189.0
    assert(got((7L, 0L)) === ((None, None, true)), "frame 0 is always a keyframe")
    assert(got((7L, 1L)) === ((Some(4L), Some(1000000L), false)))
    assert(got((7L, 2L)) === ((Some(756L), Some(189000000L), true)))
    assert(got((8L, 0L)) === ((None, None, true)), "single-frame video keys its only frame")
    intercept[IllegalArgumentException](Multimodal.keyframes(frames, -1L))
  }

  test("zeroCrossingAudit: strict sign flips, zeros break runs, non-audio filtered, degenerates") {
    import spark.implicits._
    // +5 -5 +5 0 -5 +5 : flips at (0,1) (1,2); (2,3) and (3,4) touch a
    // zero (product 0, NOT a crossing); (4,5) flips -> 3 crossings
    // over 5 adjacent pairs -> 600000 micro
    val s1 = Array[Short](5, -5, 5, 0, -5, 5)
    val media = Seq(
      Multimodal.MediaRecord(1L, "audio", "audio/vnd.wave", "t",
        MediaCodec.encodeWav(8000, s1)),
      Multimodal.MediaRecord(2L, "audio", "audio/vnd.wave", "t",
        MediaCodec.encodeWav(8000, Array[Short](7))), // 1 sample -> 0
      Multimodal.MediaRecord(3L, "audio", "audio/vnd.wave", "t",
        MediaCodec.encodeWav(8000, Array.tabulate[Short](8)(j =>
          (if (j % 2 == 0) 32767 else -32767).toShort))), // rails flip every pair
      Multimodal.MediaRecord(4L, "image", "image/x-portable-pixmap", "t",
        MediaCodec.encodePpm(1, 1, Array[Byte](1, 2, 3)))).toDS()
    val got = Multimodal.zeroCrossingAudit(media)
      .collect().map(z => z.media_id -> ((z.n_samples, z.n_crossings, z.zcr_micro))).toMap
    assert(got.keySet == Set(1L, 2L, 3L), "non-audio records emit nothing")
    assert(got(1L) == ((6L, 3L, 600000L)))
    assert(got(2L) == ((1L, 0L, 0L)), "a 1-sample clip has no adjacent pairs")
    assert(got(3L) == ((8L, 7L, 1000000L)),
      "rail-to-rail alternation crosses at every pair (and 32767² must not overflow)")
  }

  test("quietRunAudit: hand-pinned runs, threshold is strict, rails never quiet, non-audio filtered") {
    import spark.implicits._
    // threshold 10: |v| < 10 is quiet. Pattern: q q L q L L q q q ->
    // runs of 2, 1, 3 -> n_quiet 6, n_runs 3, max_run 3; v = ±10
    // (exactly at threshold) is LOUD (strict <)
    val s1 = Array[Short](3, -9, 10, 0, -10, 50, 9, 1, -4)
    val media = Seq(
      Multimodal.MediaRecord(1L, "audio", "audio/vnd.wave", "t",
        MediaCodec.encodeWav(8000, s1)),
      Multimodal.MediaRecord(2L, "audio", "audio/vnd.wave", "t",
        MediaCodec.encodeWav(8000, Array[Short](32767, -32768))), // all loud
      Multimodal.MediaRecord(3L, "audio", "audio/vnd.wave", "t",
        MediaCodec.encodeWav(8000, Array[Short](0, 0, 0))), // one full run
      Multimodal.MediaRecord(4L, "image", "image/x-portable-pixmap", "t",
        MediaCodec.encodePpm(1, 1, Array[Byte](1, 2, 3)))).toDS()
    val got = Multimodal.quietRunAudit(media, 10)
      .collect().map(q => q.media_id ->
        ((q.n_samples, q.n_quiet, q.n_runs, q.max_run))).toMap
    assert(got.keySet == Set(1L, 2L, 3L), "non-audio records emit nothing")
    assert(got(1L) == ((9L, 6L, 3L, 3L)))
    assert(got(2L) == ((2L, 0L, 0L, 0L)), "rail samples are never quiet")
    assert(got(3L) == ((3L, 3L, 1L, 3L)), "an all-quiet clip is one maximal run")
  }

  test("gradientEnergy: hand-built 3x2 image pins per-channel sums; 1-wide image is all zero") {
    import spark.implicits._
    // 3x2 image, bytes laid out row-major RGB. Row 0 pixels:
    // (10,0,0) (30,0,0) (20,0,0) -> R diffs |30-10|+|20-30| = 30
    // Row 1 pixels: (0,5,200) (0,9,100) (0,1,250) -> G 4+8=12, B 100+150=250
    val rgb = Array[Int](10, 0, 0, 30, 0, 0, 20, 0, 0,
      0, 5, 200, 0, 9, 100, 0, 1, 250).map(_.toByte)
    val media = Seq(
      Multimodal.MediaRecord(1L, "image", "image/x-portable-pixmap", "t",
        MediaCodec.encodePpm(3, 2, rgb)),
      Multimodal.MediaRecord(2L, "image", "image/x-portable-pixmap", "t",
        MediaCodec.encodePpm(1, 4, Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12))),
      Multimodal.MediaRecord(3L, "audio", "audio/vnd.wave", "t",
        MediaCodec.encodeWav(8000, Array[Short](1, 2)))).toDS()
    val got = Multimodal.gradientEnergy(media)
      .collect().map(g => g.media_id ->
        ((g.width, g.height, g.grad_r, g.grad_g, g.grad_b))).toMap
    assert(got.keySet == Set(1L, 2L), "non-image records emit nothing")
    assert(got(1L) == ((3L, 2L, 30L, 12L, 250L)))
    assert(got(2L) == ((1L, 4L, 0L, 0L, 0L)),
      "a 1-pixel-wide image has no horizontal neighbors")
  }

  test("channelStats: hand-built 2x1 image pins channel means and histogram, non-image filtered") {
    import spark.implicits._
    // pixels: (10, 100, 200) and (20, 150, 250)
    // r_mean = 15, g_mean = 125, b_mean = 225
    // buckets (v div 64): 10,20 -> h0; 100 -> h1; 150 -> h2; 200,250 -> h3
    val rgb = Array[Byte](10, 100.toByte, 200.toByte, 20, 150.toByte, 250.toByte)
    val media = Seq(
      Multimodal.MediaRecord(1L, "image", "image/x-portable-pixmap", "t",
        MediaCodec.encodePpm(2, 1, rgb)),
      Multimodal.MediaRecord(2L, "audio", "audio/vnd.wave", "t",
        MediaCodec.encodeWav(8000, Array[Short](1, 2)))).toDS()
    val got = Multimodal.channelStats(media).collect()
    assert(got.length == 1, "non-image records emit nothing")
    val s = got.head
    assert((s.width, s.height) == ((2L, 1L)))
    assert((s.r_mean, s.g_mean, s.b_mean) == ((15L, 125L, 225L)))
    assert((s.h0, s.h1, s.h2, s.h3) == ((2L, 1L, 1L, 2L)))
  }
}
