package graft.core

/** Variable-byte encoding for non-negative ints/longs (7 bits per byte, high
  * bit = continuation). Same scheme as the reference's VInt/VLong
  * (`lucene/core/src/java/org/apache/lucene/store/DataOutput.java`), written
  * from the public spec.
  */
object VByte {
  def encodedSize(x: Long): Int = {
    var v = x; var n = 1
    while ((v & ~0x7FL) != 0) { v >>>= 7; n += 1 }
    n
  }

  def encodeLongs(xs: Array[Long]): Array[Byte] = {
    var size = 0
    var i = 0
    while (i < xs.length) { size += encodedSize(xs(i)); i += 1 }
    val out = new Array[Byte](size)
    var o = 0
    i = 0
    while (i < xs.length) {
      var v = xs(i)
      while ((v & ~0x7FL) != 0) {
        out(o) = ((v & 0x7F) | 0x80).toByte; o += 1; v >>>= 7
      }
      out(o) = v.toByte; o += 1
      i += 1
    }
    out
  }

  def encode(xs: Array[Int]): Array[Byte] = {
    val longs = new Array[Long](xs.length)
    var i = 0
    while (i < xs.length) { longs(i) = xs(i).toLong; i += 1 }
    encodeLongs(longs)
  }

  /** Decode exactly `n` long values from `bytes` starting at offset 0. */
  def decodeLongs(bytes: Array[Byte], n: Int): Array[Long] = {
    val out = new Array[Long](n)
    var o = 0
    var i = 0
    while (i < n) {
      var b = bytes(o); o += 1
      var v = (b & 0x7F).toLong
      var shift = 7
      while ((b & 0x80) != 0) {
        b = bytes(o); o += 1
        v |= (b & 0x7F).toLong << shift
        shift += 7
      }
      out(i) = v
      i += 1
    }
    out
  }

  /** Decode exactly `n` int values. */
  def decode(bytes: Array[Byte], n: Int): Array[Int] = {
    val out = new Array[Int](n)
    var o = 0
    var i = 0
    while (i < n) {
      var b = bytes(o); o += 1
      var v = b & 0x7F
      var shift = 7
      while ((b & 0x80) != 0) {
        b = bytes(o); o += 1
        v |= (b & 0x7F) << shift
        shift += 7
      }
      out(i) = v
      i += 1
    }
    out
  }
}

/** Frame-of-Reference bit packing: all values of an array packed at the bit
  * width of the largest (1 width byte + ⌈n·w/8⌉ payload bytes, little-endian
  * bit order). The reference packs its 128-int posting blocks the same way
  * (`lucene/core/src/java/org/apache/lucene/codecs/lucene103/ForUtil.java:64`);
  * unlike VByte the decode loop is branch-free per value, and typical doc-gap
  * frames cost ~half the bytes. (The reference's PFOR exception patching —
  * `PForUtil.java:28` — is intentionally skipped: one outlier widens the
  * frame, a simplicity/size trade this corpus measures as negligible.)
  */
object BitPack {
  def pack(xs: Array[Long]): Array[Byte] = {
    var max = 0L
    var i = 0
    while (i < xs.length) { if (xs(i) > max) max = xs(i); i += 1 }
    val w = math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(max))
    val out = new Array[Byte](1 + (xs.length * w + 7) / 8)
    out(0) = w.toByte
    var bitPos = 0
    i = 0
    while (i < xs.length) {
      val v = xs(i)
      var done = 0
      var p = bitPos
      while (done < w) {
        val avail = 8 - (p & 7)
        val take = math.min(avail, w - done)
        val chunk = ((v >>> done) & ((1L << take) - 1)).toInt
        val idx = 1 + (p >> 3)
        out(idx) = (out(idx) | (chunk << (p & 7))).toByte
        done += take
        p += take
      }
      bitPos += w
      i += 1
    }
    out
  }

  def unpack(bytes: Array[Byte], n: Int): Array[Long] = {
    val out = new Array[Long](n)
    unpackInto(bytes, n, out, 0)
    out
  }

  /** The `i`-th `w`-bit value of a packed frame. */
  @inline private def valueAt(bytes: Array[Byte], w: Int, i: Int): Long = {
    var v = 0L
    var done = 0
    var p = i * w
    while (done < w) {
      val avail = 8 - (p & 7)
      val take = math.min(avail, w - done)
      val chunk = ((bytes(1 + (p >> 3)) >> (p & 7)) & ((1 << take) - 1)).toLong
      v |= chunk << done
      done += take
      p += take
    }
    v
  }

  /** [[unpack]] into `out(off until off + n)`. */
  def unpackInto(bytes: Array[Byte], n: Int, out: Array[Long], off: Int): Unit = {
    val w = bytes(0).toInt
    var i = 0
    while (i < n) { out(off + i) = valueAt(bytes, w, i); i += 1 }
  }

  /** [[unpackInts]] into `out(off until off + n)`. */
  def unpackIntsInto(bytes: Array[Byte], n: Int, out: Array[Int], off: Int): Unit = {
    val w = bytes(0).toInt
    var i = 0
    while (i < n) { out(off + i) = valueAt(bytes, w, i).toInt; i += 1 }
  }

  def packInts(xs: Array[Int]): Array[Byte] = {
    val longs = new Array[Long](xs.length)
    var i = 0
    while (i < xs.length) { longs(i) = xs(i).toLong; i += 1 }
    pack(longs)
  }

  def unpackInts(bytes: Array[Byte], n: Int): Array[Int] = {
    val out = new Array[Int](n)
    unpackIntsInto(bytes, n, out, 0)
    out
  }
}

/** One compressed posting block: ≤ [[PostingsCodec.BlockSize]] documents of a
  * single term, with skip/impact metadata for block-max pruning.
  *
  * Logical re-expression of the reference's 128-doc posting blocks + level-0
  * skip entries + competitive impacts
  * (`lucene/core/src/java/org/apache/lucene/codecs/lucene103/Lucene103PostingsFormat.java:343-353`,
  * `lucene/core/src/java/org/apache/lucene/codecs/CompetitiveImpactAccumulator.java:27`).
  *
  * Doc ids are *global external* ids (no per-segment renumbering): the
  * relational layout has no dense-int requirement, which removes the
  * reference's docBase-rebase step from merges entirely.
  *
  * `maxFreq` and `minDlb` (the norm byte of the shortest doc in the block)
  * give a conservative per-block score upper bound: BM25 is monotone
  * increasing in freq and decreasing in doc length, so
  * score(maxFreq, minDlb) ≥ any member's score.
  *
  * `impFreqs`/`impDlbs` tighten that to the reference's competitive-impact
  * pareto frontier (`CompetitiveImpactAccumulator.java:27`): the maximal
  * (freq, norm) pairs under the order "freq ≥ and length ≤" — every posting
  * in the block is dominated by some frontier pair, so for any similarity
  * monotone in freq and antitone in length,
  * `max_i score(impFreqs(i), impDlbs(i))` bounds every member's score and is
  * ≤ the single-pair bound (the frontier never pairs the block's max freq
  * with its min length unless one doc actually has both). Capped at
  * [[PostingsCodec.MaxImpacts]] pairs by merging adjacent entries (keeping
  * the higher freq with the lower length — still dominating).
  *
  * Per-doc lengths are stored as the reference's one-byte SmallFloat norm
  * (`lucene/core/src/java/org/apache/lucene/index/IndexingChain.java` norms;
  * `BM25Similarity` scores against the byte, not the true length), so scoring
  * runs join-free at one byte per posting. Exact lengths live once per doc in
  * the `docs` table, not once per posting.
  *
  * @param firstDoc  first doc id in the block
  * @param lastDoc   last doc id (inclusive) — enables doc-range skipping
  * @param count     number of documents in the block
  * @param maxFreq   max term frequency within the block
  * @param minDlb    norm byte of the shortest doc in the block
  * @param docDeltas FOR-bit-packed doc-id gaps (first value 0, relative to firstDoc)
  * @param freqs     FOR-bit-packed term frequencies (≥ 1)
  * @param dlbs      raw SmallFloat norm byte per member doc (count bytes)
  * @param positions FOR-bit-packed per-doc position deltas, concatenated in doc order;
  *                  doc i contributes freqs(i) values (delta vs previous
  *                  position in the doc, first absolute). Empty when positions
  *                  are not indexed.
  */
final case class PostingBlock(
    firstDoc: Long,
    lastDoc: Long,
    count: Int,
    maxFreq: Int,
    minDlb: Byte,
    /** competitive-impact frontier: freqs strictly ascending */
    impFreqs: Array[Int],
    /** norm byte per frontier entry; quantized lengths strictly ascending */
    impDlbs: Array[Byte],
    docDeltas: Array[Byte],
    freqs: Array[Byte],
    dlbs: Array[Byte],
    positions: Array[Byte])

/** Decoded view of one block.
  * `doclens(i)` is the QUANTIZED doc length `byte4ToInt(dlbs(i))` — the same
  * value the reference's BM25 reads back through its 256-entry norm cache. */
final case class DecodedBlock(
    docs: Array[Long],
    freqs: Array[Int],
    doclens: Array[Int],
    /** positions(i) = positions of the term in doc i (empty if not decoded) */
    positions: Array[Array[Int]])

object PostingsCodec {
  /** Docs per block; matches the reference's BLOCK_SIZE
    * (`Lucene103PostingsFormat.java:343`). */
  val BlockSize = 128

  /** Blocks per postings-table row (level-1 skip granularity analog,
    * `Lucene103PostingsFormat.java:348-353`: 32 blocks = 4096 docs). Bounds
    * row payload size so head terms never materialize as one giant row. */
  val BlocksPerRow = 32

  /** Max competitive-impact pairs kept per block (the reference accumulates
    * an unbounded frontier per 128-doc block then serializes a capped set;
    * 8 pairs bound the metadata at ~40 bytes/block). */
  val MaxImpacts = 8

  /** Bytes of one block's fields: its fixed-width header plus its arrays. */
  def payloadBytes(b: PostingBlock): Long =
    25L + 4L * b.impFreqs.length + b.impDlbs.length + b.docDeltas.length +
      b.freqs.length + b.dlbs.length + b.positions.length

  /** Pareto frontier of (freq, quantized-length) over one block's postings:
    * maximal pairs under (freq ≥, length ≤), returned freq-ascending /
    * length-ascending, capped at [[MaxImpacts]] by merging adjacent pairs
    * into (higherFreq, lowerLength) — a superset bound, still dominating. */
  private[core] def impactFrontier(fr: Array[Int], dlq: Array[Int]): (Array[Int], Array[Byte]) = {
    // min length per distinct freq
    val minLen = new java.util.TreeMap[Integer, Integer]()
    var i = 0
    while (i < fr.length) {
      val cur = minLen.get(fr(i))
      if (cur == null || dlq(i) < cur) minLen.put(fr(i), dlq(i))
      i += 1
    }
    // keep pairs whose length is strictly below every higher-freq pair's
    val fs = scala.collection.mutable.ArrayBuffer.empty[Int]
    val ds = scala.collection.mutable.ArrayBuffer.empty[Int]
    var running = Int.MaxValue
    val it = minLen.descendingMap().entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue < running) { fs += e.getKey; ds += e.getValue; running = e.getValue }
    }
    // now freq descending / length descending; flip to ascending
    val n0 = fs.length
    var lo = 0; var hi = n0 - 1
    while (lo < hi) {
      val tf = fs(lo); fs(lo) = fs(hi); fs(hi) = tf
      val td = ds(lo); ds(lo) = ds(hi); ds(hi) = td
      lo += 1; hi -= 1
    }
    // cap: merge the adjacent pair with the smallest freq gap into
    // (f_{i+1}, d_i) — dominates both merged entries
    while (fs.length > MaxImpacts) {
      var best = 0; var bestGap = Int.MaxValue
      var j = 0
      while (j < fs.length - 1) {
        val g = fs(j + 1) - fs(j)
        if (g < bestGap) { bestGap = g; best = j }
        j += 1
      }
      ds(best + 1) = ds(best)
      fs.remove(best); ds.remove(best)
    }
    (fs.toArray, ds.map(SmallFloat.intToByte4).toArray)
  }

  /** Encode one term's postings (sorted by doc id, doc-unique) into blocks.
    * `doclens(i)` is the token count of doc `docs(i)` (exact or already
    * quantized — quantization is idempotent).
    * `positions` may be null for docs/freqs-only indexing.
    */
  def encodeBlocks(
      docs: Array[Long],
      freqs: Array[Int],
      doclens: Array[Int],
      positions: Array[Array[Int]]): Vector[PostingBlock] = {
    require(docs.length == freqs.length && docs.length == doclens.length)
    val out = Vector.newBuilder[PostingBlock]
    var start = 0
    while (start < docs.length) {
      val end = math.min(start + BlockSize, docs.length)
      val n = end - start
      val deltas = new Array[Long](n)
      val fr = new Array[Int](n)
      val dlb = new Array[Byte](n)
      val dlq = new Array[Int](n)
      var maxFreq = 0
      var minLen = Int.MaxValue
      var minDlb: Byte = 0
      var prev = docs(start)
      var i = 0
      while (i < n) {
        val d = docs(start + i)
        deltas(i) = d - prev
        prev = d
        fr(i) = freqs(start + i)
        val dl = doclens(start + i)
        dlb(i) = SmallFloat.intToByte4(dl)
        dlq(i) = SmallFloat.byte4ToInt(dlb(i))
        if (fr(i) > maxFreq) maxFreq = fr(i)
        if (dl < minLen) { minLen = dl; minDlb = dlb(i) }
        i += 1
      }
      val (impFreqs, impDlbs) = impactFrontier(fr, dlq)
      val posBytes =
        if (positions eq null) Array.emptyByteArray
        else {
          var total = 0
          var j = start
          while (j < end) { total += positions(j).length; j += 1 }
          val flat = new Array[Int](total)
          var o = 0
          j = start
          while (j < end) {
            val ps = positions(j)
            var prevPos = 0
            var k = 0
            while (k < ps.length) {
              flat(o) = ps(k) - prevPos; prevPos = ps(k); o += 1; k += 1
            }
            j += 1
          }
          BitPack.packInts(flat)
        }
      out += PostingBlock(
        firstDoc = docs(start),
        lastDoc = docs(end - 1),
        count = n,
        maxFreq = maxFreq,
        minDlb = minDlb,
        impFreqs = impFreqs,
        impDlbs = impDlbs,
        docDeltas = BitPack.pack(deltas),
        freqs = BitPack.packInts(fr),
        dlbs = dlb,
        positions = posBytes)
      start = end
    }
    out.result()
  }

  /** Doc-ids-only decode (delta chain; freqs/norms/positions untouched) —
    * for constant-score doc-set paths (term expansion, field-exists) where
    * decoding the full block would triple the work. */
  def decodeDocIds(b: PostingBlock): Array[Long] = {
    val docs = new Array[Long](b.count)
    decodeInto(b, docs, null, null, 0)
    docs
  }

  /** Decodes block `b` into the caller's arrays at `off`: its doc ids, and
    * its frequencies and quantized doc lengths unless `freqs` / `doclens`
    * are null — the values [[decodeBlock]] returns, with no array
    * allocated. Each array needs room for `b.count` values from `off`. */
  def decodeInto(b: PostingBlock, docs: Array[Long], freqs: Array[Int], doclens: Array[Int],
      off: Int): Unit = {
    BitPack.unpackInto(b.docDeltas, b.count, docs, off)
    var acc = b.firstDoc
    var i = off
    val end = off + b.count
    while (i < end) { acc += docs(i); docs(i) = acc; i += 1 }
    if (freqs != null) BitPack.unpackIntsInto(b.freqs, b.count, freqs, off)
    if (doclens != null) {
      i = 0
      while (i < b.count) { doclens(off + i) = SmallFloat.LengthTable(b.dlbs(i) & 0xFF); i += 1 }
    }
  }

  def decodeBlock(b: PostingBlock, withPositions: Boolean = false): DecodedBlock = {
    val docs = new Array[Long](b.count)
    val freqs = new Array[Int](b.count)
    val doclens = new Array[Int](b.count)
    decodeInto(b, docs, freqs, doclens, 0)
    var i = 0
    val positions =
      if (!withPositions || b.positions.isEmpty) Array.empty[Array[Int]]
      else {
        var total = 0
        while (i < b.count) { total += freqs(i); i += 1 }
        val flat = BitPack.unpackInts(b.positions, total)
        val out = new Array[Array[Int]](b.count)
        var o = 0
        i = 0
        while (i < b.count) {
          val ps = new Array[Int](freqs(i))
          var prevPos = 0
          var k = 0
          while (k < ps.length) { prevPos += flat(o); ps(k) = prevPos; o += 1; k += 1 }
          out(i) = ps
          i += 1
        }
        out
      }
    DecodedBlock(docs, freqs, doclens, positions)
  }
}
