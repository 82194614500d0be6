package graft.core

import java.nio.charset.StandardCharsets

import org.apache.spark.unsafe.Platform

/** Seeded XXH32 (32-bit xxHash), implemented from the published algorithm
  * specification (github.com/Cyan4973/xxHash doc/xxhash_spec.md).
  *
  * The reference engine fingerprints items with `xxhash.ChecksumString32S(item, seed)`
  * (reference: hash.go:5-16); bit-exact parity with its hash placement is required
  * to reproduce its deterministic test vectors, so this is a from-spec
  * implementation, unit-tested against published vectors.
  *
  * All arithmetic is mod 2^32 — JVM `Int` overflow gives exactly that.
  */
object XxHash32 {
  private final val P1 = 0x9e3779b1 // 2654435761
  private final val P2 = 0x85ebca77 // 2246822519
  private final val P3 = 0xc2b2ae3d // 3266489917
  private final val P4 = 668265263
  private final val P5 = 374761393

  /** XXH32 of `len` bytes of `bytes` starting at `off`, with the given seed.
    * Returns the raw 32-bit hash as an Int (interpret as unsigned). The slice
    * is range-checked here: `hashUnsafe` reads raw memory and would
    * otherwise read past the array.
    */
  def hash(bytes: Array[Byte], off: Int, len: Int, seed: Int): Int = {
    java.util.Objects.checkFromIndexSize(off, len, bytes.length)
    hashUnsafe(bytes, Platform.BYTE_ARRAY_OFFSET + off, len, seed)
  }

  def hash(bytes: Array[Byte], seed: Int): Int = hash(bytes, 0, bytes.length, seed)

  def hashString(s: String, seed: Int): Int =
    hash(s.getBytes(StandardCharsets.UTF_8), seed)

  // Platform.getInt reads in NATIVE byte order while XXH32 is defined over
  // little-endian words; byte-swap on big-endian JVMs so a hash never
  // depends on the host.
  private final val BigEndian =
    java.nio.ByteOrder.nativeOrder() == java.nio.ByteOrder.BIG_ENDIAN

  @inline private def readLEUnsafe(base: AnyRef, i: Long): Int = {
    val v = Platform.getInt(base, i)
    if (BigEndian) Integer.reverseBytes(v) else v
  }

  /** THE XXH32 body, over `len` bytes at `offset` of any memory base (Spark
    * `Platform` unaligned reads): byte arrays via `hash`, UTF8String
    * payloads in place with no per-row copy. No range check — the caller
    * owns the bounds.
    */
  def hashUnsafe(base: AnyRef, offset: Long, len: Int, seed: Int): Int = {
    val end = offset + len
    var i   = offset
    var h: Int = 0
    if (len >= 16) {
      val limit = end - 16
      var v1 = seed + P1 + P2
      var v2 = seed + P2
      var v3 = seed
      var v4 = seed - P1
      while (i <= limit) {
        v1 = Integer.rotateLeft(v1 + readLEUnsafe(base, i) * P2, 13) * P1
        v2 = Integer.rotateLeft(v2 + readLEUnsafe(base, i + 4) * P2, 13) * P1
        v3 = Integer.rotateLeft(v3 + readLEUnsafe(base, i + 8) * P2, 13) * P1
        v4 = Integer.rotateLeft(v4 + readLEUnsafe(base, i + 12) * P2, 13) * P1
        i += 16
      }
      h = Integer.rotateLeft(v1, 1) + Integer.rotateLeft(v2, 7) +
        Integer.rotateLeft(v3, 12) + Integer.rotateLeft(v4, 18)
    } else {
      h = seed + P5
    }
    h += len
    while (i + 4 <= end) {
      h = Integer.rotateLeft(h + readLEUnsafe(base, i) * P3, 17) * P4
      i += 4
    }
    while (i < end) {
      h = Integer.rotateLeft(h + (Platform.getByte(base, i) & 0xff) * P5, 11) * P1
      i += 1
    }
    h ^= h >>> 15
    h *= P2
    h ^= h >>> 13
    h *= P3
    h ^= h >>> 16
    h
  }
}

/** Hash placement identical to the reference (hash.go:5-16). */
object Hashing {
  /** Fingerprint seed (reference: hash.go:5). */
  final val FingerprintSeed = 4848280

  /** Raw 32-bit fingerprint of an item (reference: hash.go:8-10). */
  @inline def fingerprint(bytes: Array[Byte]): Int =
    XxHash32.hash(bytes, FingerprintSeed)

  @inline def fingerprint(item: String): Int =
    XxHash32.hashString(item, FingerprintSeed)

  /** Flat bucket index of `item` in `row` of a d×w sketch (reference: hash.go:13-16).
    * Go computes `int(uint32) % width` — a non-negative 64-bit mod; mirror that
    * by widening the unsigned 32-bit value to Long before the mod.
    */
  @inline def bucketIndex(bytes: Array[Byte], row: Int, width: Int): Int =
    cell(XxHash32.hash(bytes, row), row, width)

  /** `bucketIndex` over raw memory (see XxHash32.hashUnsafe). */
  @inline def bucketIndexUnsafe(base: AnyRef, offset: Long, len: Int, row: Int, width: Int): Int =
    cell(XxHash32.hashUnsafe(base, offset, len, row), row, width)

  @inline private def cell(h: Int, row: Int, width: Int): Int =
    row * width + ((h & 0xffffffffL) % width).toInt

  @inline def bucketIndex(item: String, row: Int, width: Int): Int =
    bucketIndex(item.getBytes(java.nio.charset.StandardCharsets.UTF_8), row, width)
}
