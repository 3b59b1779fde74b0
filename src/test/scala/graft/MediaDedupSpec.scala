package graft

import graft.ops.{Dedup, MediaDedup, Multimodal}
import graft.oracle.PlainOracles
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MediaDedupSpec extends AnyFunSuite with SparkSuite {

  private def mediaDf(rows: Seq[(String, String, Array[Byte])]) = {
    import spark.implicits._
    spark.createDataset(rows).toDF("media_ref", "kind", "content")
  }

  test("aHash64 / dHash64: pinned values on hand-computed grids") {
    // 8x8 grid: top half 200, bottom half 50 → mean 125; top 32 cells
    // set → low 32 bits (bit y*8+x, rows 0-3)
    val g8 = Array.tabulate(64)(i => if (i < 32) 200 else 50)
    assert(MediaDedup.aHash64(g8) == 0x00000000FFFFFFFFL)
    // all-equal grid: every cell >= mean → all 64 bits
    assert(MediaDedup.aHash64(Array.fill(64)(7)) == -1L)
    // 9x8 grid increasing left→right: every adjacent pair rises → all set
    val g9 = Array.tabulate(72)(i => i % 9)
    assert(MediaDedup.dHash64(g9) == -1L)
    // decreasing: none set
    assert(MediaDedup.dHash64(Array.tabulate(72)(i => 9 - i % 9)) == 0L)
    // single row 3 rising, rest flat: bits 24..31 only
    val oneRow = Array.tabulate(72)(i => if (i / 9 == 3) i % 9 else 5)
    assert(MediaDedup.dHash64(oneRow) == 0x00000000FF000000L)
  }

  test("twin parity: engine pHash == plain oracle over the RawGray corpus") {
    val rows = MediaDedup.nearDupMediaRows(40, 8, 99L)
    val got = MediaDedup.pHashStage(spark, mediaDf(rows))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    rows.foreach { case (ref, _, bytes) =>
      assert(got(ref) == PlainOracles.pHashPlain(bytes), ref)
    }
  }

  test("injected near-dups recovered; banded pairs == brute force") {
    val rows = MediaDedup.nearDupMediaRows(150, 25, 42L)
    val got = MediaDedup.nearDupPairs(spark, mediaDf(rows), maxHamming = 8)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    // every injected (base i, dup i) pair survives the perceptual hash:
    // pixel perturbation moved the bytes completely but the dHash barely
    (0 until 25).foreach { i =>
      assert(got.exists(p =>
          p._1 == f"media://pdup/base/$i%04d" &&
          p._2 == f"media://pdup/dup/$i%04d"),
        s"injected pair $i not recovered")
    }
    // exhaustive-recall check: banded join == O(n^2) brute force
    val brute = PlainOracles.mediaNearDupBrute(rows, maxHamming = 8)
    assert(got.sorted.toSeq == brute.sorted)
  }

  test("exact byte-dup and RawGray-vs-noise behave sanely") {
    // identical bytes → hamming 0 at any grid; pure-noise non-RawGray
    // payloads go through the hash-grid fallback deterministically
    val img = MediaDedup.nearDupMediaRows(1, 0, 7L).head._3
    val noise = Array.tabulate(100)(i => (i * 37 + 5).toByte)
    val rows = Seq(
      ("media://a", "image", img), ("media://b", "image", img),
      ("media://n1", "image", noise), ("media://n2", "image", noise.clone()))
    val pairs = MediaDedup.nearDupPairs(spark, mediaDf(rows), maxHamming = 0)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(pairs.contains(("media://a", "media://b", 0)))
    assert(pairs.contains(("media://n1", "media://n2", 0)))
    assert(pairs.size == 2)
  }

  test("ImageIoCodec seam: real PNG and its perturbed copy pair up") {
    // a smooth 64x48 gradient PNG and a copy with a handful of pixels
    // nudged — a REAL decoder through the same stage finds the pair
    def png(perturb: Boolean): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        64, 48, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 48; x <- 0 until 64) {
        val v = (128 + 60 * math.sin(2 * math.Pi * x / 64) +
          50 * math.cos(2 * math.Pi * y / 48)).toInt.max(0).min(255)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      if (perturb) {
        val rnd = new java.util.Random(5L)
        for (_ <- 0 until 60) {
          val x = rnd.nextInt(64); val y = rnd.nextInt(48)
          val v = ((img.getRGB(x, y) & 0xff) + rnd.nextInt(31) - 15)
            .max(0).min(255)
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
        }
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val rows = Seq(("png://orig", "image", png(false)),
                   ("png://tweak", "image", png(true)))
    val pairs = MediaDedup.nearDupPairs(spark, mediaDf(rows),
        maxHamming = 8, codec = Multimodal.ImageIoCodec)
      .collect()
    assert(pairs.length == 1)
    assert(pairs(0).getString(0) == "png://orig" &&
           pairs(0).getString(1) == "png://tweak")
    // the same two payloads are NOT byte-identical (the perceptual pair
    // is not a trivial exact dup)
    assert(!java.util.Arrays.equals(rows(0)._3, rows(1)._3))
  }

  test("hammingPairs64 generalization keeps simhashPairs semantics") {
    import spark.implicits._
    // direct fingerprints: distances 0, 1, and 9 from a base
    val fps = Seq(("a", 0L), ("b", 1L), ("c", 3L), ("d", 0x1FFL))
      .toDF("id", "fp")
    val got = Dedup.hammingPairs64(fps, "id", "fp", maxHamming = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
      .toSet
    assert(got == Set(("a", "b", 1), ("a", "c", 2), ("b", "c", 1)))
  }
}
