package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SpecUtil.randText
import graft.operators.Multimodal

/** Perceptual near-dup (`multimodal_phash`): planted near-identical
  * assets are found, unrelated assets are not, and the 16-bit band
  * blocking is LOSSLESS for Hamming <= 3 (pigeonhole) — asserted
  * against a literal all-pairs Hamming scan on randomized corpora.
  */
class PhashSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  private def assetsOf(rows: Seq[(Long, String)]) =
    rows.toDF("asset_id", "s")
      .select(col("asset_id"), encode(col("s"), "UTF-8").as("blob"))

  // deterministic pseudo-random printable text, seeded per asset
  test("planted near-identical asset pairs are found; unrelated are not") {
    val base = randText(42L, 300)
    // near-dup: flip a handful of chars INSIDE the 252-char window —
    // a localized edit moves only the adjacent dHash gradient bits
    val nearDup = base.updated(40, 'z').updated(41, 'z')
    val rows = Seq(
      (1L, base), (2L, nearDup), (3L, base), // 3 = exact dup of 1
      (10L, randText(7L, 300)), (11L, randText(13L, 300)))
    val got = Multimodal.phashPairsAssets(assetsOf(rows), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 3L)), "exact dup must be hamming 0")
    assert(got.contains((1L, 2L)) && got.contains((2L, 3L)),
      "localized edit must stay within the hamming budget")
    assert(!got.exists(p => p._1 >= 10L || p._2 >= 10L),
      "unrelated random assets must not pair")
  }

  test("short assets (< 252 decoded chars) are out of scope") {
    val s = randText(5L, 200)
    val got = Multimodal.phashPairsAssets(
      assetsOf(Seq((1L, s), (2L, s))), maxHamming = 3)
    assert(got.count() === 0)
  }

  test("phash incremental: store dups drop, earlier-delta dups drop, " +
      "short assets survive, batching is associative") {
    val base = randText(21L, 300)
    val other = randText(22L, 300)
    val store = assetsOf(Seq((1L, base), (2L, other)))
      .withColumn("mime", lit("image/png"))
    // delta: 10 dups store's 1; 12 dups earlier-delta 11; 13 is short;
    // 14 is fresh
    val delta = assetsOf(Seq(
      (10L, base.updated(5, 'q')), (11L, randText(30L, 300)),
      (12L, randText(30L, 300).updated(7, 'z')), (13L, randText(9L, 100)),
      (14L, randText(31L, 300))))
      .withColumn("mime", lit("image/png"))
    val got = Multimodal.phashIncrementalAssets(store, delta, 3)
      .collect().map(_.getLong(0)).toSet
    assert(got === Set(11L, 13L, 14L), s"got $got")
    // seen-store associativity is EXACT here (lossless banding): two
    // ordered batches equal the one-batch answer
    val d1 = delta.filter(col("asset_id") <= 11L)
    val d2 = delta.filter(col("asset_id") > 11L)
    val batch1 = Multimodal.phashIncrementalAssets(store, d1, 3)
      .collect().map(_.getLong(0)).toSet
    // batch 2 runs against store ∪ batch-1 SIGNATURES (all of d1 was
    // seen, kept or not)
    val batch2 = Multimodal.phashIncrementalAssets(
      store.unionByName(d1), d2, 3)
      .collect().map(_.getLong(0)).toSet
    assert((batch1 ++ batch2) === got, s"${batch1 ++ batch2}")
  }

  test("banding is lossless: banded pairs equal literal all-pairs hamming <= 3 (randomized)") {
    // corpus with planted bit-level variety: clusters of near-identical
    // texts (0-3 scattered single-char edits) + unrelated fillers
    val rnd = new scala.util.Random(99L)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    var id = 0L
    (0 until 8).foreach { c =>
      val base = randText(1000L + c, 280)
      (0 until 4).foreach { _ =>
        var s = base
        (0 until rnd.nextInt(4)).foreach { _ =>
          val pos = rnd.nextInt(252)
          s = s.updated(pos, ('a' + rnd.nextInt(26)).toChar)
        }
        rows += ((id, s)); id += 1
      }
    }
    (0 until 20).foreach { i => rows += ((id, randText(2000L + i, 280))); id += 1 }
    val assets = assetsOf(rows.toSeq)
    val banded = Multimodal.phashPairsAssets(assets, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // literal reference: all-pairs popcount over the same phash column
    val ph = assets
      .select(col("asset_id"),
        Multimodal.phashExpr(decode(col("blob"), "UTF-8")).as("ph"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expect = (for {
      (a, pa) <- ph; (b, pb) <- ph if a < b
      h = java.lang.Long.bitCount(pa ^ pb) if h <= 3
    } yield (a, b, h)).toSet
    assert(banded === expect,
      "banded candidate generation must be exactly lossless at hamming <= 3")
    assert(expect.nonEmpty, "fixture must exercise at least one pair")
  }

  test("video dedup: a re-encoded clip pairs with its original; " +
      "partial overlap below containment and non-video mimes do not") {
    def videos(rows: Seq[(Long, String, String)]) =
      rows.toDF("asset_id", "mime", "s")
        .select(col("asset_id"), col("mime"),
          encode(col("s"), "UTF-8").as("blob"))
    val t = randText(77L, 800) // frames k = 0..5 (stride 100, window 252)
    // "re-encode": two adjacent flips mid-clip nudge a few gradient
    // bits in the frames covering position 400 — every frame stays
    // within the hamming budget
    val reenc = t.updated(400, 'z').updated(401, 'z')
    // partial clip: shares only frame 0's window, then diverges —
    // 1 of 6 frames matches, below the 2*m >= n containment bar
    val partial = t.substring(0, 300) + randText(88L, 500)
    val rows = Seq(
      (1L, "video/mp4", t),
      (2L, "video/mp4", reenc),
      (3L, "video/mp4", randText(99L, 800)), // unrelated
      (4L, "image/png", t),                  // right bytes, wrong modality
      (5L, "video/mp4", partial))
    val got = Multimodal.videoDedupAssets(videos(rows), maxHamming = 3)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(got.keySet === Set((1L, 2L)),
      s"expected exactly the re-encoded pair, got ${got.keySet}")
    // the full clips share their whole signatures
    val (na, nb, ma, mb) = got((1L, 2L))
    assert(na === 6L && nb === 6L && ma === 6L && mb === 6L,
      s"re-encode must match frame-for-frame: $na $nb $ma $mb")
  }

  test("audio dedup: a re-encoded clip pairs with its original; " +
      "unrelated clips, wrong modalities, and 1-frame clips do not") {
    def clips(rows: Seq[(Long, String, String)]) =
      rows.toDF("asset_id", "mime", "s")
        .select(col("asset_id"), col("mime"),
          encode(col("s"), "UTF-8").as("blob"))
    val t = randText(177L, 800) // sub-fingerprints k = 1..5
    // "re-encode": two adjacent sample flips mid-clip nudge the band
    // energies of the windows covering position 400 — each affected
    // frame transition moves a few difference-of-differences bits,
    // and ≥ half the signature stays within the hamming budget
    val reenc = t.updated(400, 'z').updated(401, 'z')
    val rows = Seq(
      (1L, "audio/wav", t),
      (2L, "audio/wav", reenc),
      (3L, "audio/wav", randText(178L, 800)), // unrelated
      (4L, "video/mp4", t),                   // right bytes, wrong modality
      (5L, "audio/wav", randText(179L, 300))) // 1 frame: no transition
    val got = Multimodal.audioDedupAssets(clips(rows), maxHamming = 3)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(got.keySet === Set((1L, 2L)),
      s"expected exactly the re-encoded pair, got ${got.keySet}")
    val (na, nb, ma, mb) = got((1L, 2L))
    assert(na === 5L && nb === 5L,
      s"both clips carry 5 sub-fingerprints: $na $nb")
    assert(ma * 2 >= na && mb * 2 >= nb,
      s"containment must clear 1/2 both ways: $ma/$na $mb/$nb")
  }

  test("signature-set incremental (video + audio): store dups drop, " +
      "earlier-delta dups drop, short and novel clips survive") {
    def clips(mime: String, rows: Seq[(Long, String)]) =
      rows.toDF("asset_id", "s")
        .select(col("asset_id"), lit(mime).as("mime"),
          encode(col("s"), "UTF-8").as("blob"))
    val t = randText(301L, 800)
    val reenc = t.updated(400, 'z').updated(401, 'z')
    val u = randText(302L, 800)
    val uDup = u.updated(100, 'q')
    for ((mime, inc) <- Seq(
      ("video/mp4", Multimodal.videoIncrementalAssets _),
      ("audio/wav", Multimodal.audioIncrementalAssets _))) {
      val store = clips(mime, Seq((1L, t)))
      val delta = clips(mime, Seq(
        (10L, reenc),              // near-dup of store clip 1 → drops
        (11L, u),                  // novel → survives
        (12L, uDup),               // near-dup of EARLIER delta 11 → drops
        (13L, randText(303L, 300)) // short (video: 1 frame, audio: 0
                                   // transitions — both below a usable
                                   // signature vs the 800-char dups)
      ))
      val got = inc(store, delta, 3)
        .collect().map(_.getLong(0)).toSet
      assert(got.contains(11L) && !got.contains(10L) &&
        !got.contains(12L) && got.contains(13L),
        s"$mime incremental: got survivors $got")
      // seen-store associativity is exact (lossless banding): batch 2
      // against store ∪ batch-1 signatures (all of d1 was seen, kept or
      // not) gives the one-batch answer — 12 still drops against 11
      val d1 = delta.filter(col("asset_id") <= 11L)
      val d2 = delta.filter(col("asset_id") > 11L)
      val batch1 = inc(store, d1, 3).collect().map(_.getLong(0)).toSet
      val batch2 = inc(store.unionByName(d1), d2, 3)
        .collect().map(_.getLong(0)).toSet
      assert((batch1 ++ batch2) === got,
        s"$mime batches: ${batch1 ++ batch2} vs one batch $got")
    }
  }

  test("randomized reference: audio dedup matches a brute-force " +
      "all-pairs containment model on mutated random corpora") {
    // Scala-local model of the whole operator: window → 63 band sums →
    // HK difference-of-differences bits → signature set → literal
    // all-pairs bidirectional containment (no banding — losslessness
    // at Hamming ≤ 3 means the engine must agree EXACTLY)
    def hkModel(s: String): Set[Long] = {
      if (s.length < 352) Set.empty
      else {
        val nT = (s.length - 252) / 100
        (1 to nT).map { k =>
          def segs(off: Int): Array[Long] =
            Array.tabulate(63)(b =>
              (0 until 4).map(j => s.charAt(off + b * 4 + j).toLong).sum)
          val sc = segs(k * 100); val sp = segs((k - 1) * 100)
          (0 until 62).map(i =>
            if ((sc(i) - sc(i + 1)) > (sp(i) - sp(i + 1))) 1L << i
            else 0L).sum
        }.toSet
      }
    }
    def pairsModel(clips: Seq[(Long, String)])
        : Set[(Long, Long, Long, Long, Long, Long)] = {
      val sigs = clips.map { case (id, s) => id -> hkModel(s) }
        .filter(_._2.nonEmpty)
      (for {
        (a, fa) <- sigs; (b, fb) <- sigs if a < b
        ma = fa.count(x => fb.exists(y =>
          java.lang.Long.bitCount(x ^ y) <= 3))
        mb = fb.count(y => fa.exists(x =>
          java.lang.Long.bitCount(x ^ y) <= 3))
        if 2 * ma >= fa.size && 2 * mb >= fb.size
      } yield (a, b, fa.size.toLong, fb.size.toLong,
        ma.toLong, mb.toLong)).toSet
    }
    val rnd = new scala.util.Random(1717)
    for (trial <- 1 to 3) {
      val bases = (0 until 6).map(_ =>
        (0 until (400 + rnd.nextInt(500)))
          .map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
      // mutate: light flips (near-dups), heavier flips (borderline),
      // one short clip (out of scope)
      val clips = bases.zipWithIndex.flatMap { case (s, i) =>
        val id = i * 10L
        val flips = 1 + rnd.nextInt(4)
        var m = s
        (0 until flips).foreach { _ =>
          val p = rnd.nextInt(s.length)
          m = m.updated(p, ('a' + rnd.nextInt(26)).toChar)
        }
        Seq((id, s), (id + 1, m))
      } :+ (999L, bases.head.take(300))
      val df = clips.toDF("asset_id", "s")
        .select(col("asset_id"), lit("audio/wav").as("mime"),
          encode(col("s"), "UTF-8").as("blob"))
      val got = Multimodal.audioDedupAssets(df, 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      val want = pairsModel(clips)
      assert(got === want,
        s"trial $trial: engine ${got.diff(want)} vs model ${want.diff(got)}")
    }
  }

  test("audio fingerprint is TEMPORAL: bits answer 'did the band " +
      "gradient move vs the previous frame', so a time-reversed clip " +
      "does not share its signature the way a per-frame hash would") {
    // clip = A ++ B vs its block-reversal B ++ A (A, B = 400 chars):
    // per-frame dHash would share every within-block window hash; the
    // HK transition hash keys on CONSECUTIVE window pairs, and the
    // reversed clip's transitions cross different (prev, cur) pairs
    val a = randText(201L, 400)
    val b = randText(202L, 400)
    def clips(rows: Seq[(Long, String)]) =
      rows.toDF("asset_id", "s")
        .select(col("asset_id"), lit("audio/wav").as("mime"),
          encode(col("s"), "UTF-8").as("blob"))
    val got = Multimodal.audioDedupAssets(
      clips(Seq((1L, a + b), (2L, b + a))), maxHamming = 3)
      .collect()
    assert(got.isEmpty,
      s"block-reversed audio must not clear containment: ${got.toSeq}")
  }
}
