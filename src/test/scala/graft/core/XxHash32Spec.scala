package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** XXH32 parity vectors. Published vectors from the xxHash spec repo
  * (XXH32("")=0x02CC5D05, XXH32("abc")=0x32D153FF) plus seeded vectors
  * generated from a from-spec implementation validated against those.
  * The seed-4848280 vectors pin the reference's fingerprint placement
  * (reference: hash.go:5-10).
  */
class XxHash32Spec extends AnyFunSuite {

  test("published vectors, seed 0") {
    assert(XxHash32.hashString("", 0) == 0x02cc5d05)
    assert(XxHash32.hashString("abc", 0) == 0x32d153ff)
  }

  test("length-boundary vectors, seed 7 (4/16-byte block edges)") {
    assert(XxHash32.hashString("x" * 15, 7) == 0x7e74c8f9)
    assert(XxHash32.hashString("y" * 16, 7) == 0x51471916)
    assert(XxHash32.hashString("z" * 17, 7) == 0xa10b6a6e)
    assert(XxHash32.hashString("w" * 100, 7) == 0x824d611e.toInt)
  }

  test("misc seeds") {
    assert(XxHash32.hashString("", 1) == 0x0b2cb792)
    assert(XxHash32.hashString("abc", 4848280) == 0xa1eb6971.toInt)
  }

  test("fingerprint vectors (seed 4848280, reference hash.go:5-10)") {
    val vectors = Seq(
      "X"           -> 0x7048e4e5,
      "Y"           -> 0x8bc4204f.toInt,
      "Z"           -> 0x71413d6e,
      "item1"       -> 0x23f199d2,
      "item2"       -> 0xf1eefaed.toInt,
      "item3"       -> 0xbcfa91d7.toInt,
      "item4"       -> 0xc00ec120.toInt,
      "a"           -> 0xd59c3567.toInt,
      "b"           -> 0xe19fd25b.toInt,
      "c"           -> 0xe7f5c892.toInt,
      "high_freq"   -> 0xb85dcace.toInt,
      "medium_freq" -> 0x49c4ea7a,
      "low_freq"    -> 0x9d9f4b82.toInt,
      "lowest_freq" -> 0x1d2efce6,
      "hello world" -> 0x711aa220,
      "0"           -> 0xedd54dfd.toInt,
      "1"           -> 0x810f5659.toInt,
      "42"          -> 0xc240bac2.toInt,
      "123456789"   -> 0xb165b508.toInt,
      "The quick brown fox jumps over the lazy dog" -> 0xc5bba164.toInt
    )
    vectors.foreach { case (item, expected) =>
      assert(Hashing.fingerprint(item) == expected, s"fingerprint($item)")
    }
  }

  test("row-seed vectors (seeds 0..3, reference hash.go:13-16)") {
    val vectors = Seq(
      "X"           -> Seq(0x164a5cd1, 0xab5c7ea5.toInt, 0xcb977648.toInt, 0xe1a4ffa9.toInt),
      "Y"           -> Seq(0xe2eccaa5.toInt, 0x350b997b, 0xf604fed5.toInt, 0xc6d73749.toInt),
      "Z"           -> Seq(0x089d739a, 0x82f1570a.toInt, 0xb14b0a09.toInt, 0xb3270c74.toInt),
      "item1"       -> Seq(0xd2a33acf.toInt, 0xc3cd0e1d.toInt, 0x5c433e5d, 0x65f270cd),
      "hello world" -> Seq(0xcebb6622.toInt, 0xe166f32c.toInt, 0xed8d3461.toInt, 0x19777096)
    )
    vectors.foreach { case (item, hashes) =>
      hashes.zipWithIndex.foreach { case (expected, row) =>
        assert(XxHash32.hashString(item, row) == expected, s"xxh32($item, seed=$row)")
      }
    }
  }

  test("bucketIndex is non-negative and within row bounds (Go int(uint32)%width)") {
    // 0xE2ECCAA5 as signed Int is negative; the unsigned-widening mod must
    // still land in [row*width, (row+1)*width).
    for (item <- Seq("X", "Y", "Z", "hello world"); row <- 0 until 4; width <- Seq(4, 10, 32, 1024)) {
      val idx = Hashing.bucketIndex(item, row, width)
      assert(idx >= row * width && idx < (row + 1) * width, s"($item,$row,$width) -> $idx")
    }
    // exact placement: column = (hash as uint32) mod width
    assert(Hashing.bucketIndex("Y", 0, 10) == ((0xe2eccaa5L & 0xffffffffL) % 10).toInt)
  }

  test("hash range-checks its slice: out-of-range off/len throws, never reads past the array") {
    val bytes = Array.tabulate[Byte](40)(_.toByte)
    for ((off, len) <- Seq((0, 41), (30, 11), (-1, 4), (5, -1), (40, 1), (Int.MaxValue, 16)))
      intercept[IndexOutOfBoundsException](XxHash32.hash(bytes, off, len, 0))
    // the empty slice at the end is in range
    assert(XxHash32.hash(bytes, 40, 0, 0) == XxHash32.hashString("", 0))
  }

  test("hashUnsafe over a sliced UTF8String equals hash over the same bytes") {
    import org.apache.spark.unsafe.types.UTF8String
    for (item <- Seq("", "abc", "日本語", "a😀b", "x" * 15, "y" * 16, "混合 mixed 😀 payload over sixteen bytes");
         seed <- Seq(0, 3, Hashing.FingerprintSeed)) {
      val bytes = item.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val u     = UTF8String.fromBytes(Array[Byte](9, 9, 9) ++ bytes ++ Array[Byte](9), 3, bytes.length)
      assert(XxHash32.hashUnsafe(u.getBaseObject, u.getBaseOffset, u.numBytes, seed) ==
        XxHash32.hash(bytes, seed), s"hashUnsafe($item, $seed)")
    }
  }
}
