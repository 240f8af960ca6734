package graft.multimodal

import graft.SparkSpec

/** Round-5 composition: the WHOLE multimodal curation pipeline driven end to
  * end from raw bytes to verdicts — one decode pass, quality gates,
  * perceptual dedup, survivor embeddings, self-kNN (the binary twin of the
  * q75 text pipeline; its relational skeleton is oracle-verified as
  * q141_media_curation). */
class MediaCurationSpec extends SparkSpec {
  import spark.implicits._

  // ---- fixtures: same builders as MultimodalHashSpec ------------------------

  private def pixelBmp(w: Int, h: Int)(f: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val rowBytes = ((w * 3 + 3) / 4) * 4
    val pixelOff = 54
    val buf = java.nio.ByteBuffer.allocate(pixelOff + rowBytes * h)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(pixelOff + rowBytes * h).putInt(0).putInt(pixelOff)
    buf.putInt(40).putInt(w).putInt(h)
    buf.putShort(1).putShort(24).putInt(0)
    buf.putInt(rowBytes * h).putInt(2835).putInt(2835).putInt(0).putInt(0)
    (0 until h).reverse.foreach { y =>
      (0 until w).foreach { x =>
        val (r, g, b) = f(x, y)
        buf.put(b.toByte).put(g.toByte).put(r.toByte)
      }
      (w * 3 until rowBytes).foreach(_ => buf.put(0.toByte))
    }
    buf.array()
  }

  private def gradient(shift: Int = 0): Array[Byte] =
    pixelBmp(18, 16)((x, _) => { val v = (x * 10 + shift) min 255; (v, v, v) })

  /** half rising / half falling: ~half the dhash bits set — structurally
    * distinct from the gradient (hamming ~32) AND from solid (nonzero), so
    * it survives both the no_structure gate and the near-dup stage */
  private def tent(): Array[Byte] =
    pixelBmp(18, 16)((x, _) => { val v = (if (x < 9) x * 25 else (17 - x) * 25) min 255; (v, v, v) })

  private def wav(samples: Array[Short], rate: Int = 8000): Array[Byte] = {
    val dataSize = samples.length * 2
    val b = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize).put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
    b.putShort(1).putShort(1).putInt(rate).putInt(rate * 2).putShort(2).putShort(16)
    b.put("data".getBytes("US-ASCII")).putInt(dataSize)
    samples.foreach(b.putShort)
    b.array()
  }

  /** alternating ±amp — non-silent, non-clipped for moderate amp */
  private def tone(amp: Int, n: Int = 4000): Array[Short] =
    Array.tabulate(n)(i => (if (i % 2 == 0) amp else -amp).toShort)

  private def media() = Seq(
    // images
    (1L, "image", gradient()),             // kept representative (min id of dup cluster)
    (2L, "image", gradient(shift = 20)),   // perceptual twin of 1 -> near_dup
    (3L, "image", tent()),                 // distinct structure -> ok
    (4L, "image", pixelBmp(18, 16)((_, _) => (90, 90, 90))), // solid -> no_structure
    (5L, "image", Array[Byte]('B', 'M', 1, 2, 3)),           // malformed -> undecodable
    // audio (defaults: maxSilence 0.5, maxClip 0.01, minRms 0.01, silenceAbs 327)
    (6L, "audio", wav(tone(8000))),        // rms ~0.24 -> ok
    (7L, "audio", wav(Array.fill(4000)(50.toShort))),  // all under silenceAbs -> silence
    (8L, "audio", wav(tone(32767))),       // full-scale square -> clipping
    (9L, "audio", wav(Array.tabulate(4000)(i =>       // half 330 (non-silent), half 0:
      (if (i % 2 == 0) 330 else 0).toShort))),        // silence_ratio == 0.5, rms ~0.007 -> low_rms
    (10L, "audio", "RIFFjunk".getBytes("US-ASCII")),  // malformed -> undecodable
    // other
    (11L, "video", Array[Byte](1, 2, 3))   // unsupported_modality
  ).toDF("media_id", "modality", "content")

  test("curateMedia: bytes -> verdicts, every gate and the dedup exercised") {
    val out = Multimodal.curateMedia(media())
    val verdicts = out.verdicts.collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getBoolean(3))).toMap
    assert(verdicts === Map(
      1L -> ("ok", true), 2L -> ("near_dup", false), 3L -> ("ok", true),
      4L -> ("no_structure", false), 5L -> ("undecodable", false),
      6L -> ("ok", true), 7L -> ("silence", false), 8L -> ("clipping", false),
      9L -> ("low_rms", false), 10L -> ("undecodable", false),
      11L -> ("unsupported_modality", false)))
  }

  test("curateMedia: embeddings cover exactly the kept assets, per-modality dims") {
    val out = Multimodal.curateMedia(media())
    val embs = out.embeddings.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getSeq[Float](2).length)).toMap
    assert(embs === Map(
      1L -> ("image", 48), 3L -> ("image", 48), // 3 * 4x4 grid
      6L -> ("audio", 16)))                      // 16 segments
  }

  test("curateMedia: self-kNN pairs the two surviving images; lone audio has no neighbor") {
    val out = Multimodal.curateMedia(media())
    val nbrs = out.neighbors.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getString(4)))
    assert(nbrs.toSet === Set((1L, 3L, 1L, "image"), (3L, 1L, 1L, "image")))
  }

  /** decreasing-then-increasing: the bit-mirror of tent (hamming ~64 from
    * it, ~32 from the gradient) — a third distinct structure */
  private def valley(): Array[Byte] =
    pixelBmp(18, 16)((x, _) => { val v = (if (x < 9) (8 - x) * 25 else (x - 9) * 25) min 255; (v, v, v) })

  test("ingestMediaBatch: lake-resident index dedups across batches; greedy rule within") {
    val batch1 = Seq(
      (1L, "image", gradient()),
      (3L, "image", tent()),
      (7L, "audio", wav(Array.fill(4000)(50.toShort)))  // silence -> never indexed
    ).toDF("media_id", "modality", "content")
    val s1 = Multimodal.ingestMediaBatch(batch1, Multimodal.emptyDHashIndex(spark))
    assert(s1.verdicts.collect().map(r => r.getLong(0) -> r.getString(2)).toMap ===
      Map(1L -> "ok", 3L -> "ok", 7L -> "silence"))
    // 2 kept images x 9 bands (maxHamming 8) land in the index
    assert(s1.indexRows.count() === 18)
    val index = s1.indexRows // "appended to the lake" for step 2

    val batch2 = Seq(
      (21L, "image", gradient(shift = 20)),  // near-dup of indexed 1 -> dropped
      (22L, "image", valley()),              // fresh structure -> kept
      (30L, "image", valley()),              // within-batch twin of 22... and of each other:
      (31L, "image", valley()),              //   22 < 30 < 31 -> only 22 survives (min-partner)
      (24L, "image", pixelBmp(18, 16)((_, _) => (5, 5, 5))) // solid -> no_structure
    ).toDF("media_id", "modality", "content")
    val s2 = Multimodal.ingestMediaBatch(batch2, index)
    assert(s2.verdicts.collect().map(r => r.getLong(0) -> r.getString(2)).toMap ===
      Map(21L -> "near_dup", 22L -> "ok", 30L -> "near_dup", 31L -> "near_dup",
          24L -> "no_structure"))
    assert(s2.indexRows.select("media_id").distinct().collect().map(_.getLong(0)).toSet === Set(22L))

    // backfill equivalence (no cross-batch chains in this fixture): the
    // union of per-batch keeps == one full curateMedia pass over everything
    val full = Multimodal.curateMedia(batch1.unionByName(batch2))
    val fullKept = full.verdicts.filter("kept").select("media_id")
      .collect().map(_.getLong(0)).toSet
    val incKept = (s1.verdicts.collect() ++ s2.verdicts.collect())
      .filter(_.getBoolean(3)).map(_.getLong(0)).toSet
    assert(incKept === fullKept && incKept === Set(1L, 3L, 22L))
  }

  test("ingestMediaBatch: re-ingesting an already-indexed id does not self-drop") {
    val b = Seq((1L, "image", gradient())).toDF("media_id", "modality", "content")
    val s1 = Multimodal.ingestMediaBatch(b, Multimodal.emptyDHashIndex(spark))
    val s2 = Multimodal.ingestMediaBatch(b, s1.indexRows) // replay of the same batch
    assert(s2.verdicts.head().getString(2) === "ok")
  }

  test("small valid BMP (under the 9x8 dHash grid) is too_small, not undecodable") {
    // an 8x8 BMP decodes fine for the 4x4 grid embedding but cannot produce
    // a dHash (needs >= 9x8): it must surface as decodable with its own
    // `too_small` verdict — previously it was mislabeled `undecodable` and
    // the perfectly good embedding was invisible in the features table
    val small = Seq((50L, "image", pixelBmp(8, 8)((x, y) => (x * 30, y * 30, 40))))
      .toDF("media_id", "modality", "content")
    val f = Multimodal.extractFeatures(small).head()
    assert(f.getBoolean(2), "decodable: the grid embedding decoded")
    assert(f.isNullAt(3), "no dhash below the 9x8 grid")
    assert(f.getSeq[Float](4).length === 48, "4x4x3 grid embedding present")
    val cur = Multimodal.curateMedia(small).verdicts.head()
    assert(cur.getString(2) === "too_small" && !cur.getBoolean(3))
    val ing = Multimodal.ingestMediaBatch(small, Multimodal.emptyDHashIndex(spark))
    assert(ing.verdicts.head().getString(2) === "too_small")
    // and it contributes nothing to the dedup index (it can't be screened)
    assert(ing.indexRows.count() === 0)
  }

  test("ingestMediaBatch releases its per-batch caches via unpersistAll") {
    val b = Seq((1L, "image", gradient())).toDF("media_id", "modality", "content")
    val s = Multimodal.ingestMediaBatch(b, Multimodal.emptyDHashIndex(spark))
    s.verdicts.count() // materialize through both pins
    assert(s.features.storageLevel.useMemory, "features pinned while batch is live")
    assert(s.bandPin.storageLevel.useMemory, "band table pinned while batch is live")
    s.unpersistAll()
    assert(s.features.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
    assert(s.bandPin.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
  }

  test("q141's cached survivors are released by clearCache") {
    // kept is persisted through the SQL cache, so the clearCache callers run
    // between queries returns the persistent RDD set to its baseline after
    // every run (an eager local checkpoint stayed listed after it)
    val sc = spark.sparkContext
    val q141 = graft.SparkEntry.queries("q141_media_curation")
    spark.catalog.clearCache()
    val baseline = sc.getPersistentRDDs.keySet
    for (run <- 1 to 2) {
      assert(q141(spark, "/root/testdata/sf0.001").count() > 0)
      spark.catalog.clearCache()
      assert(sc.getPersistentRDDs.keySet == baseline, s"run $run")
    }
  }

  test("extractFeatures: one row per asset, features null off-modality") {
    val feats = Multimodal.extractFeatures(media()).collect()
    assert(feats.length === 11)
    val byId = feats.map(r => r.getLong(0) -> r).toMap
    assert(!byId(1L).isNullAt(3) && byId(1L).isNullAt(6))  // image: dhash, no silence_ratio
    assert(byId(6L).isNullAt(3) && !byId(6L).isNullAt(6))  // audio: no dhash, silence_ratio
    assert(!byId(5L).getBoolean(2) && !byId(11L).getBoolean(2))
  }
}
