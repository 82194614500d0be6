package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Pins the exact state both sketches reach on a seeded colliding stream.
  *
  * The codec blob carries the cells, the heap AND the RNG stream position,
  * so a SHA-256 over it pins every collision trial, every decrement target
  * and the number of draws consumed. The stream mixes per-unit increments
  * (1-10) with increments above `Sketch.GeometricSkipThreshold` (the
  * closed-form skip), and multi-byte, astral and >= 16-byte items (the XXH32
  * stripe loop). The digests were recorded before the plain and sliding
  * update loops were folded into one kernel; any change to them is a change
  * of sketch output, not a refactor.
  */
class KernelDigestSpec extends AnyFunSuite {

  private val Width = 64
  private val Depth = 3

  private val items: IndexedSeq[String] =
    (0 until 48).map(i => s"tok$i") ++ Seq(
      "naïve", "日本語", "ключ", "😀", "a😀b", "𝄞 clef",
      "sixteen-bytes-xx", "a much longer item that spans several stripes",
      "混合 mixed 😀 payload over sixteen bytes")

  /** Zipf-ish item choice (so heavy items own cells and light ones collide)
    * and a weight that is a small unit count most of the time and a
    * geometric-skip-sized mass now and then.
    */
  private def stream(seed: Long, n: Int): IndexedSeq[(String, Long)] = {
    val r = new scala.util.Random(seed)
    IndexedSeq.fill(n) {
      val i   = math.min(items.length - 1, (items.length * math.pow(r.nextDouble(), 2.5)).toInt)
      val inc =
        if (r.nextInt(40) == 0) Sketch.GeometricSkipThreshold + 1 + r.nextInt(200000)
        else 1L + r.nextInt(10)
      (items(i), inc)
    }
  }

  private def sha256(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString

  private def plain(): Sketch = {
    val s = new Sketch(SketchConfig.withDefaults(8, width = Width, depth = Depth))
    stream(11L, 4000).foreach { case (it, inc) => s.add(it, inc) }
    s
  }

  test("plain sketch: golden state digest on a colliding mixed-weight stream") {
    assert(sha256(SketchCodec.encode(plain())) ==
      "56ab7027fe7f15295c2fd987af74dd1eb30c83830ab74c82edff7d82bfc3c857")
  }

  test("sliding sketch: golden state digest across tick() and a ticks(n) jump") {
    val s = new SlidingSketch(SlidingConfig.withDefaults(8, 6, width = Width, depth = Depth,
      bucketHistoryLength = 4))
    stream(13L, 4000).zipWithIndex.foreach { case ((it, inc), i) =>
      s.add(it, inc)
      if (i % 250 == 249) s.tick()
      if (i == 2000) s.ticks(40) // clears every ring via the large-jump path
    }
    assert(sha256(SketchCodec.encodeSliding(s)) ==
      "a894f979e522e2712bd3ace7330d630aa4f43e1379e7a7743312ab0ae182a097")
  }

  test("a sliding sketch that never ticks ends in the plain sketch's state") {
    val p = plain()
    val s = new SlidingSketch(SlidingConfig.withDefaults(8, 6, width = Width, depth = Depth,
      bucketHistoryLength = 4))
    stream(11L, 4000).foreach { case (it, inc) => s.add(it, inc) }
    assert(s.countsSum.sameElements(p.counts))
    assert(s.fingerprints.sameElements(p.fingerprints))
    assert(s.sortedSlice.toSeq == p.sortedSlice.toSeq)
    assert(s.rng.getState == p.rng.getState)
  }

  test("addUnsafe over UTF8String payloads encodes the same blob as add(String)") {
    import org.apache.spark.unsafe.types.UTF8String
    val viaString = new Sketch(SketchConfig.withDefaults(8, width = Width, depth = Depth))
    val viaUnsafe = new Sketch(SketchConfig.withDefaults(8, width = Width, depth = Depth))
    stream(17L, 3000).zipWithIndex.foreach { case ((it, inc), i) =>
      viaString.add(it, inc)
      val bytes = it.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      // every third payload is a slice at a non-zero offset of a larger array
      val u =
        if (i % 3 == 0) UTF8String.fromBytes(Array.fill[Byte](5)(0x7f) ++ bytes ++ Array[Byte](1, 2, 3), 5, bytes.length)
        else UTF8String.fromBytes(bytes)
      viaUnsafe.addUnsafe(u.getBaseObject, u.getBaseOffset, u.numBytes, inc)
    }
    assert(SketchCodec.encode(viaUnsafe).sameElements(SketchCodec.encode(viaString)))
  }

  test("addBytes rejects a slice outside its array") {
    val s = new Sketch(SketchConfig.withDefaults(8, width = Width, depth = Depth))
    intercept[IndexOutOfBoundsException](s.addBytes(new Array[Byte](4), 2, 3, 1L, null))
  }
}
