package graft.core

import java.nio.charset.StandardCharsets

import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods

/** Sketch configuration with the reference's defaults
  * (reference: sketch.go:41-67, options.go:3-17):
  * width = max(256, ⌊k·ln k⌋), depth = max(3, ⌊ln k⌋), decay = 0.9, LUT size 256.
  */
final case class SketchConfig(
    k: Int,
    width: Int,
    depth: Int,
    decay: Float = 0.9f,
    lutSize: Int = 256,
    seed: Long = 0x5eed_70c4L
) extends Serializable {
  // the Go reference panics on K=0 (heap/heap.go:162 index out of range);
  // we fail fast with a message instead
  require(k > 0, s"k must be positive, got $k")
  require(width > 0 && depth > 0, s"invalid geometry ${width}x$depth")
  // width/depth are user-reachable as SQL literals: a wrapped product would
  // surface as a zero-length cell array + AIOOBE on the first add
  require(width.toLong * depth <= Int.MaxValue,
    s"geometry ${width}x$depth overflows the cell array (${width.toLong * depth} cells)")
  require(decay > 0f && decay <= 1f, s"decay must be in (0,1], got $decay")
  require(lutSize > 1, s"lutSize must be > 1, got $lutSize")
}

object SketchConfig {
  def withDefaults(
      k: Int,
      width: Int = -1,
      depth: Int = -1,
      decay: Float = 0.9f,
      lutSize: Int = 256,
      seed: Long = 0x5eed_70c4L
  ): SketchConfig = {
    val (w, d) = geometry(k, width, depth)
    SketchConfig(k, w, d, decay, lutSize, seed)
  }

  /** Default geometry (reference: sketch.go:41-67) for unset (<= 0)
    * width/depth: width = max(256, ⌊k·ln k⌋), depth = max(3, ⌊ln k⌋).
    */
  private[core] def geometry(k: Int, width: Int, depth: Int): (Int, Int) = {
    val lnK = math.log(k.toDouble)
    (if (width > 0) width else math.max(256, (k * lnK).toInt),
      if (depth > 0) depth else math.max(3, lnK.toInt))
  }

  // LUTs are pure functions of (decay, size); memoize so many-group
  // aggregations (sessions, fine windows) don't rebuild one per buffer
  private val lutCache =
    new java.util.concurrent.ConcurrentHashMap[(Float, Int), Array[Float]]()

  def decayLut(decay: Float, lutSize: Int): Array[Float] =
    lutCache.computeIfAbsent((decay, lutSize), { case (d, n) =>
      Array.tabulate(n)(i => math.pow(d.toDouble, i.toDouble).toFloat)
    })
}

/** Plain (whole-stream / tumbling) HeavyKeeper top-K sketch.
  *
  * Semantics ported from the reference (reference: sketch.go:14-215):
  * a depth×width array of (fingerprint, count) cells plus a bounded min-heap of
  * the top-K items. `add` applies the HeavyKeeper update per row — claim empty
  * buckets, increment own buckets, probabilistically decay colliding buckets
  * with probability decay^count (sketch.go:129-166) — then offers the max
  * per-row count to the heap.
  *
  * Counts are Long (superset of the reference's uint32; the reference may wrap
  * at 2^32, we simply don't). Storage is flat row-major primitive arrays, the
  * same cache-friendly layout as the reference (sketch.go:75-77).
  *
  * Beyond the reference: `merge` — a commutative sketch-union used as the
  * Spark partial-aggregation monoid (the reference is strictly single-writer
  * and has no union; see SURVEY.md §2.1).
  */
final class Sketch(val cfg: SketchConfig) extends Serializable {
  val width: Int  = cfg.width
  val depth: Int  = cfg.depth
  private val cells = width * depth

  val decayLUT: Array[Float]   = SketchConfig.decayLut(cfg.decay, cfg.lutSize)
  val fingerprints: Array[Int] = new Array[Int](cells)
  val counts: Array[Long]      = new Array[Long](cells)
  val heap: MinHeap            = new MinHeap(cfg.k)
  val rng: Rng                 = new Rng(cfg.seed)

  /** JVM serialization travels as compact codec bytes (see SketchCodec). */
  private def writeReplace(): AnyRef = new SerializedSketch(SketchCodec.encode(this))

  def incr(item: String): Boolean = add(item, 1L)

  def add(item: String, increment: Long): Boolean = {
    val bytes = item.getBytes(StandardCharsets.UTF_8)
    addBytes(bytes, 0, bytes.length, increment, item)
  }

  def add(item: String, bytes: Array[Byte], increment: Long): Boolean =
    addBytes(bytes, 0, bytes.length, increment, item)

  // --- allocation-free hot path -------------------------------------------
  // The reference's zero-allocation property (README benchmark: 0 B/op) is
  // preserved on the JVM by (a) hashing byte slices without materializing
  // Strings, (b) encoding integer tokens into a reusable scratch buffer, and
  // (c) materializing the heap's String key only when an update actually
  // reaches the heap — with a small fingerprint-keyed memo so hot items
  // materialize once.

  private val scratch                          = new Array[Byte](12)
  private var cacheFp: Array[Int]              = _
  private var cacheBytes: Array[Array[Byte]]   = _
  private var cacheStr: Array[String]          = _
  private final val CacheSlots                 = 4096

  /** Count one occurrence of an int token (canonical item = base-10 string,
    * SURVEY.md §1.4) without allocating.
    */
  def addToken(token: Int, increment: Long): Boolean = {
    val len = encodeInt(token)
    addBytes(scratch, 0, len, increment, null)
  }

  /** Write the decimal representation of v into `scratch`; returns length. */
  private def encodeInt(v: Int): Int = {
    var x = v
    if (x == Int.MinValue) { // cannot negate; rare, fall back
      val s = java.lang.Integer.toString(x); val b = s.getBytes(StandardCharsets.UTF_8)
      System.arraycopy(b, 0, scratch, 0, b.length); return b.length
    }
    val neg = x < 0
    if (neg) x = -x
    // write digits backwards into the tail, then shift to the front
    var p = scratch.length
    do { p -= 1; scratch(p) = ('0' + x % 10).toByte; x /= 10 } while (x != 0)
    if (neg) { p -= 1; scratch(p) = '-' }
    val len = scratch.length - p
    System.arraycopy(scratch, p, scratch, 0, len)
    len
  }

  private def materialize(fp: Int, base: AnyRef, offset: Long, len: Int,
                          item: String): String = {
    if (item != null) return item
    if (cacheFp == null) {
      cacheFp = new Array[Int](CacheSlots)
      cacheBytes = new Array[Array[Byte]](CacheSlots)
      cacheStr = new Array[String](CacheSlots)
    }
    val slot = fp & (CacheSlots - 1)
    val cb   = cacheBytes(slot)
    if (cacheFp(slot) == fp && cb != null && cb.length == len &&
        ByteArrayMethods.arrayEquals(cb, Platform.BYTE_ARRAY_OFFSET, base, offset, len))
      return cacheStr(slot)
    val bytes = new Array[Byte](len)
    Platform.copyMemory(base, offset, bytes, Platform.BYTE_ARRAY_OFFSET, len)
    val s = new String(bytes, StandardCharsets.UTF_8)
    cacheFp(slot) = fp
    cacheBytes(slot) = bytes
    cacheStr(slot) = s
    s
  }

  /** One bucket's HeavyKeeper update (reference: sketch.go:129-166):
    * claim-if-empty / increment-own / probabilistic-decay-on-collision.
    * Returns the resulting count if this bucket now belongs to the item,
    * else 0 (for the max-over-rows fold).
    */
  @inline private def updateBucket(idx: Int, fingerprint: Int, increment: Long): Long = {
    val count = counts(idx)
    if (count == 0L) { // empty bucket: claim it
      fingerprints(idx) = fingerprint
      counts(idx) = increment
      increment
    } else if (fingerprints(idx) == fingerprint) { // own bucket
      val c = count + increment
      counts(idx) = c
      c
    } else { // collision: probabilistic decay (sketch.go:141-165)
      val r = SketchOps.collide(rng, decayLUT, count, increment)
      if (r >= 0L) { counts(idx) = count - r; 0L }
      else { fingerprints(idx) = fingerprint; counts(idx) = -r; -r }
    }
  }

  /** Core update (reference: sketch.go:118-170) over a UTF-8 byte slice.
    * `item` may be null; the String key is materialized lazily, only when the
    * update actually reaches the heap.
    */
  def addBytes(bytes: Array[Byte], off: Int, len: Int, increment: Long,
               item: String): Boolean = {
    java.util.Objects.checkFromIndexSize(off, len, bytes.length)
    addAt(bytes, Platform.BYTE_ARRAY_OFFSET + off, len, increment, item)
  }

  /** Same update hashing the item in place from any memory base (Spark
    * UTF8String payloads: `getBaseObject/getBaseOffset/numBytes`) — no
    * per-row byte copy; bytes are copied out only when an update is admitted
    * to the heap and misses the materialization cache.
    */
  def addUnsafe(base: AnyRef, offset: Long, len: Int, increment: Long): Boolean =
    addAt(base, offset, len, increment, null)

  private def addAt(base: AnyRef, offset: Long, len: Int, increment: Long,
                    item: String): Boolean = {
    // the reference's increment domain is uint32 (sketch.go:118); reject
    // non-positive weights so a user-supplied weight column can't drive an
    // owned bucket negative or claim an empty bucket with count <= 0 (which
    // would break the count==0 empty-bucket sentinel and heap invariants)
    if (increment <= 0L) return false
    val fingerprint = XxHash32.hashUnsafe(base, offset, len, Hashing.FingerprintSeed)
    var maxCount    = 0L
    var row         = 0
    while (row < depth) {
      val idx = Hashing.bucketIndexUnsafe(base, offset, len, row, width)
      val c   = updateBucket(idx, fingerprint, increment)
      if (c > maxCount) maxCount = c
      row += 1
    }
    // admission precheck mirrors heap.update's reject rule (heap/heap.go:137)
    // so rejected updates never materialize a String
    if (maxCount < heap.minCount && heap.isFull) false
    else heap.update(materialize(fingerprint, base, offset, len, item), fingerprint, maxCount)
  }

  /** Point estimate (reference: sketch.go:90-111): exact tracked count on a
    * heap hit, else max matching-fingerprint bucket count, else 0.
    */
  def count(item: String): Long = {
    val tracked = heap.countOf(item)
    if (tracked >= 0) return tracked
    val bytes = item.getBytes(StandardCharsets.UTF_8)
    SketchOps.estimate(bytes, Hashing.fingerprint(bytes), depth, width, fingerprints, counts)
  }

  /** Top-K membership (reference: sketch.go:172-175). */
  def query(item: String): Boolean = heap.contains(item)

  /** Top-K entries sorted by (count desc, item asc), zero counts trimmed
    * (reference: sketch.go:189-209).
    */
  def sortedSlice: Array[TopKEntry] = heap.sorted

  /** Unsorted non-zero tracked entries (reference: sketch.go:177-187). */
  def iterEntries: Array[TopKEntry] = heap.entries.filter(_.count > 0)

  def reset(): Unit = {
    java.util.Arrays.fill(fingerprints, 0)
    java.util.Arrays.fill(counts, 0L)
    heap.reset()
  }

  /** Approximate in-memory footprint (reference: sketch.go:79-88). */
  def sizeBytes: Long =
    64L + cells.toLong * 12 + decayLUT.length.toLong * 4 + heap.sizeBytes

  /** Commutative sketch-union (NOT in the reference — engine extension, the
    * Spark partial-aggregation monoid; design per SURVEY.md §2.1):
    *   - cell-wise: equal fingerprints ⇒ sum counts; different ⇒ keep the
    *     fingerprint with the larger count at count max(a,b) (ties broken by
    *     unsigned fingerprint so the merge is commutative);
    *   - heap: union both candidate sets, re-estimate each item against the
    *     merged cells, keep the top-K under (count desc, item asc).
    * Preserves the HeavyKeeper under-estimation property for items tracked in
    * either input.
    */
  def merge(other: Sketch): Sketch = {
    SketchOps.requireMergeable("sketch", cfg, other.cfg)
    var i = 0
    while (i < cells) {
      val ca = counts(i); val cb = other.counts(i)
      if (cb != 0L) {
        if (ca == 0L) {
          counts(i) = cb; fingerprints(i) = other.fingerprints(i)
        } else if (fingerprints(i) == other.fingerprints(i)) {
          counts(i) = ca + cb
        } else if (cb > ca || (cb == ca &&
            (other.fingerprints(i).toLong & 0xffffffffL) < (fingerprints(i).toLong & 0xffffffffL))) {
          counts(i) = cb; fingerprints(i) = other.fingerprints(i)
        }
      }
      i += 1
    }
    // Union heap candidates, re-estimated against merged cells.
    SketchOps.rebuildHeapFromUnion(heap, other.heap.entries, cfg.k,
      depth, width, fingerprints, counts)
    this
  }
}

object Sketch {
  /** Collision-decay adds with remaining increment above this use the
    * closed-form geometric skip (one draw per decrement) instead of
    * reference-exact per-unit trials. Golden-vector tests all use increments
    * far below it, so bit-parity with the reference's trial sequence is
    * preserved where it's asserted; above it only the (identical)
    * distribution is preserved.
    */
  final val GeometricSkipThreshold: Long = 4096L
}
