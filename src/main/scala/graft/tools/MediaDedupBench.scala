package graft.tools

import graft.ops.{MediaDedup, Multimodal}

/** Volume evidence for perceptual media dedup: hashes `nMedia` RawGray
  * images (48×32 noise; every 10th a one-pixel-perturbed copy of its
  * decade's base — a pixel-level near-dup byte hashes cannot see) and
  * runs the banded dHash pair join at the web-scale operating point
  * (maxHamming 3 → 4×16-bit bands, the Manku et al. WWW'07 shape).
  * Reports img/s end-to-end plus injected-pair recall.
  * `sbt "runMain graft.tools.MediaDedupBench [nMedia]"`; appends to
  * BENCH.md.
  */
object MediaDedupBench {

  private val W = 48
  private val H = 32

  private[graft] def imageBytes(i: Long): Array[Byte] = {
    // every image unique except the decade's 9th, which perturbs the
    // decade's 0th — exactly one injected near-dup pair per decade
    val base = if (i % 10 == 9) i - 9 else i
    val seed = base * 0x9E3779B97F4A7C15L + 0x1234567L
    val rnd = new java.util.Random(seed)
    val px = new Array[Byte](W * H)
    rnd.nextBytes(px)
    if (i % 10 == 9) {
      // near-dup of the decade base: ONE pixel nudged ±40 — box means
      // shift ~1.7/255, so dHash moves 0-2 bits while xxhash64 of the
      // bytes is unrecognizable
      val r2 = new java.util.Random(i)
      val at = r2.nextInt(W * H)
      px(at) = math.max(0, math.min(255, (px(at) & 0xff) +
        (if (r2.nextBoolean()) 40 else -40))).toByte
    }
    Multimodal.RawGray.encode(W, H, px)
  }

  def main(args: Array[String]): Unit = {
    val nMedia = args.headOption.map(_.toInt).getOrElse(200000)
    val spark = session(32)
    import spark.implicits._

    val media = spark.range(nMedia)
      .map(i => (f"media://vol/$i%08d", "image", imageBytes(i)))
      .toDF("media_ref", "kind", "content")

    val t0 = System.nanoTime()
    val pairs = MediaDedup.nearDupPairs(spark, media, maxHamming = 3)
      .collect().map(r => (r.getString(0), r.getString(1)))
    val sec = (System.nanoTime() - t0) / 1e9

    // injected pair (base of decade d, d*10+9): count recovered
    val nInjected = nMedia / 10
    val recovered = pairs.count { case (a, b) =>
      val ia = a.substring(12).toLong; val ib = b.substring(12).toLong
      (ia / 10 == ib / 10) && (ia % 10 == 0) && (ib % 10 == 9)
    }
    val recall = recovered.toDouble / nInjected
    val line = f"| perceptual media dedup volume | $nMedia 48x32 images " +
      f"decoded+hashed+band-joined in $sec%.1f s = ${nMedia / sec}%.0f " +
      f"img/s @ local[32] (maxHamming 3 = 16-bit bands); injected " +
      f"one-pixel near-dup recall ${recall * 100}%.2f%% " +
      f"($recovered/$nInjected), ${pairs.length} total pairs |"
    println("[mediadedup-bench] " + line)
    appendBenchMd(line)
    spark.stop()
  }
}
