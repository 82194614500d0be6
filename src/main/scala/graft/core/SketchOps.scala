package graft.core

import java.nio.charset.StandardCharsets

/** The HeavyKeeper kernel shared by the plain and sliding sketches: the
  * collision trial loop (`collide`), the decay extension, the point estimate
  * (`estimate`), the merge config check and the merge heap rebuild. The two
  * sketches differ only in where a decrement or takeover lands (a scalar
  * cell vs a ring slot); every rule that decides it lives here, once.
  */
private[core] object SketchOps {

  /** Item tie-break comparison by Unicode CODE POINT — equivalent to
    * comparing the UTF-8 byte sequences (UTF-8 is order-preserving in code
    * points), which is the order used by Go's string `<` (the reference's
    * heap tie-break, heap/heap.go:65-72), Spark's UTF8String and DuckDB.
    * Java's String.compareTo compares UTF-16 units, which sorts
    * supplementary characters (surrogate pairs, 0xD800-0xDBFF) BEFORE
    * [U+E000, U+FFFF] — the opposite of byte order. Identical to compareTo
    * for BMP-only strings (all golden vectors).
    */
  def compareItems(a: String, b: String): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val ca = a.charAt(i)
      val cb = b.charAt(i)
      if (ca != cb) {
        // a high surrogate starts a code point >= U+10000: rank it above
        // every BMP char (low surrogates only follow highs in well-formed
        // strings, and two highs order consistently with their code points)
        val ra = if (ca >= 0xD800 && ca < 0xDC00) ca + 0x2800 else ca.toInt
        val rb = if (cb >= 0xD800 && cb < 0xDC00) cb + 0x2800 else cb.toInt
        return ra - rb
      }
      i += 1
    }
    a.length - b.length
  }

  /** (count desc, item asc-by-code-point) — the emission order. */
  @inline def entryOrder(x: TopKEntry, y: TopKEntry): Boolean =
    x.count > y.count || (x.count == y.count && compareItems(x.item, y.item) < 0)

  /** decay^count via LUT, with the reference's closed-form extension for
    * counts beyond the LUT (sketch.go:146-153).
    */
  @inline def decayAt(decayLUT: Array[Float], count: Long): Float = {
    val lutSize = decayLUT.length
    if (count < lutSize) decayLUT(count.toInt)
    else {
      val q = count / (lutSize - 1)
      val r = (count % (lutSize - 1)).toInt
      math.pow(decayLUT(lutSize - 1).toDouble, q.toDouble).toFloat * decayLUT(r)
    }
  }

  /** THE collision trial loop (reference: sketch.go:141-165, applied to a
    * ring by sliding/sketch.go:222-243): `increment` units hit a bucket held
    * by another item at `count`; each unit decays it with probability
    * decay^count. Returns d >= 0 when the owner survives having lost d
    * units, or -mass (mass >= 1) when the count reached zero and the
    * remaining mass takes the bucket over. The decay depends only on the
    * scalar count, so the caller may apply the d decrements afterwards.
    */
  def collide(rng: Rng, decayLUT: Array[Float], count: Long, increment: Long): Long = {
    var c         = count
    var remaining = increment
    while (remaining > 0) {
      val decay = decayAt(decayLUT, c)
      if (remaining <= Sketch.GeometricSkipThreshold) {
        // reference-exact per-trial draws (one draw per increment unit)
        if (rng.nextFloat() < decay) {
          c -= 1
          if (c == 0L) return -remaining
        }
        remaining -= 1
      } else {
        // huge weighted adds: sample the run of failed trials to the next
        // decrement in closed form (same distribution, ONE draw) instead of
        // per-unit trials — a 2e9-weight add must not spin 2e9 times
        val k = rng.geometricTrials(decay)
        if (k > remaining) remaining = 0L // all remaining trials failed
        else {
          c -= 1
          // the successful trial does not consume its unit: the remaining
          // mass takes the bucket over, as in the per-trial branch
          if (c == 0L) return -(remaining - (k - 1))
          remaining -= k
        }
      }
    }
    count - c
  }

  /** THE point estimate (reference: sketch.go:90-111, sliding/sketch.go:
    * 131-152): the max count over rows whose cell holds fingerprint `fp`,
    * else 0. `counts` is the plain sketch's cells or the sliding ring sums.
    */
  def estimate(bytes: Array[Byte], fp: Int, depth: Int, width: Int,
               fingerprints: Array[Int], counts: Array[Long]): Long = {
    var mx  = 0L
    var row = 0
    while (row < depth) {
      val idx = Hashing.bucketIndex(bytes, row, width)
      if (fingerprints(idx) == fp && counts(idx) > mx) mx = counts(idx)
      row += 1
    }
    mx
  }

  /** Merge compatibility. Beyond geometry, k fixes the union heap's
    * capacity (a mismatch would make the top-set size depend on which side
    * the nondeterministic merge direction kept) and decay/seed/lutSize steer
    * the collision paths. Partials of one query always share their config,
    * so this rejects only genuinely mixed pipelines.
    */
  def requireMergeable(what: String, a: SketchConfig, b: SketchConfig): Unit = {
    require(a.width == b.width && a.depth == b.depth, s"$what geometry mismatch")
    require(a.k == b.k && a.decay == b.decay && a.seed == b.seed && a.lutSize == b.lutSize,
      s"$what config mismatch: k=${a.k}/${b.k} decay=${a.decay}/${b.decay} " +
        s"seed=${a.seed}/${b.seed} lutSize=${a.lutSize}/${b.lutSize}")
  }

  /** Merge's heap rebuild: union both candidate sets, re-estimate each item
    * against the merged cells, and repopulate the heap with the top-k under
    * (count desc, item asc).
    */
  def rebuildHeapFromUnion(heap: MinHeap, otherEntries: Array[TopKEntry], k: Int,
                           depth: Int, width: Int, fingerprints: Array[Int],
                           counts: Array[Long]): Unit = {
    val candidates = (heap.entries ++ otherEntries).map(_.item).distinct
    val estimated = candidates.map { it =>
      val bytes = it.getBytes(StandardCharsets.UTF_8)
      val fp    = Hashing.fingerprint(bytes)
      TopKEntry(fp, it, estimate(bytes, fp, depth, width, fingerprints, counts))
    }
    heap.reset()
    estimated.filter(_.count > 0).sortWith(entryOrder).take(k).foreach { e =>
      heap.update(e.item, e.fingerprint, e.count)
    }
  }
}
