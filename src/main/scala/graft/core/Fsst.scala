package graft.core

/** FSST — Fast Static Symbol Table string compression (Boncz, Neumann,
  * Leis; VLDB 2020). A north-rule addition on top of the reference's
  * dictionary/direct string encodings: random-access string compression
  * with a 255-entry table of symbols of 1..8 bytes each, one output byte
  * per symbol, and a dedicated escape code for bytes not covered by the
  * table.
  *
  * This is an independent from-scratch implementation of the published
  * algorithm (the reference repo has no FSST); training is the paper's
  * iterative bottom-up scheme: start from frequent single bytes, then
  * repeatedly extend symbols by merging adjacent matches that maximize
  * gain = frequency × length, over a bounded number of generations.
  *
  * Wire format:
  *   [numSymbols: u8] then numSymbols × [len: u8, 1..8][bytes...]
  *   payload: codes 0..numSymbols-1 index the table; 0xFF escapes the
  *   next literal byte.
  */
object Fsst {
  final val EscapeCode = 0xff
  final val MaxSymbols = 255
  final val MaxSymbolLen = 8

  final class SymbolTable(val symbols: Array[Array[Byte]]) {
    require(symbols.length <= MaxSymbols, s"${symbols.length} symbols > $MaxSymbols")
    // a 0-length symbol would decode to nothing and a longer-than-8 one
    // overruns the 8-byte match window: a corrupt table must fail here
    symbols.indices.foreach { i =>
      require(symbols(i).length >= 1 && symbols(i).length <= MaxSymbolLen,
        s"symbol $i has length ${symbols(i).length}, outside 1..$MaxSymbolLen")
    }

    /** Symbols packed little-endian into longs for one-compare matching. */
    private[Fsst] val symLong: Array[Long] = symbols.map(packLE)
    private[Fsst] val symLen: Array[Int] = symbols.map(_.length)

    /** The paper's constant-time match structure (FSST §3.2): symbols of
      * len ≥ 3 live in a hash table keyed on their first 3 bytes, ONE
      * candidate per slot (collisions keep the higher-gain symbol — the
      * trainer emits symbols gain-descending, so first insert wins);
      * 2-byte symbols index a 64 K short-code array; 1-byte symbols a
      * 256-entry array. A match probe is then one hash + at most three
      * array reads, instead of a scan over every symbol sharing the
      * first byte.
      */
    private[Fsst] val longTable: Array[Int] = {
      val t = new Array[Int](HashSlots)
      java.util.Arrays.fill(t, -1)
      var i = 0
      while (i < symbols.length) {
        if (symLen(i) >= 3) {
          val h = hash3(symLong(i) & 0xffffffL)
          if (t(h) < 0) t(h) = i
        }
        i += 1
      }
      t
    }

    /** Slot-indexed probe data: the hot loop previously chased
      * longTable(h) → symLen(idx) → symLong(idx) → lenMask(len), four
      * DEPENDENT loads per position; these parallel arrays make a probe
      * (w & slotMask(h)) == slotPattern(h) — two independent loads and
      * one compare — with empty slots encoded as an impossible pattern
      * (mask 0, pattern 1) so no emptiness branch exists at all.
      * slotCodeLen packs (code << 8 | len) for the match fast path.
      */
    private[Fsst] val slotMask: Array[Long] = new Array[Long](HashSlots)
    private[Fsst] val slotPattern: Array[Long] = new Array[Long](HashSlots)
    private[Fsst] val slotCodeLen: Array[Int] = new Array[Int](HashSlots)
    locally {
      java.util.Arrays.fill(slotPattern, 1L)
      var h = 0
      while (h < HashSlots) {
        val i = longTable(h)
        if (i >= 0) {
          slotMask(h) = lenMask(symLen(i))
          slotPattern(h) = symLong(i)
          slotCodeLen(h) = (i << 8) | symLen(i)
        }
        h += 1
      }
    }
    private[Fsst] val byteCodes: Array[Int] = {
      val t = new Array[Int](256)
      java.util.Arrays.fill(t, -1)
      var i = 0
      while (i < symbols.length) {
        if (symLen(i) == 1 && t(symLong(i).toInt) < 0) t(symLong(i).toInt) = i
        i += 1
      }
      t
    }

    /** Fused 2-byte/1-byte resolution (paper §3.2): slot [b0|b1<<8] holds
      * `code<<1` for a 2-byte symbol, else `code<<1|1` for the 1-byte
      * symbol of b0, else -1 (escape b0). One array read decides the
      * whole sub-3-byte match. The 1-byte fallback depends on b0 only, so
      * one 256-entry row is built and doubled across the array by copies;
      * this fill dominated building a table, and so training a short value.
      */
    private[Fsst] val shortCodes: Array[Int] = {
      val t = new Array[Int](1 << 16)
      var v = 0
      while (v < 256) {
        val b = byteCodes(v)
        t(v) = if (b >= 0) (b << 1) | 1 else -1
        v += 1
      }
      while (v < (1 << 16)) { System.arraycopy(t, 0, t, v, v); v <<= 1 }
      var i = 0
      while (i < symbols.length) {
        if (symLen(i) == 2) {
          val slot = symLong(i).toInt
          if (t(slot) < 0 || (t(slot) & 1) == 1) t(slot) = i << 1
        }
        i += 1
      }
      t
    }

    def serialize(out: ByteBuf): Unit = {
      out.writeByte(symbols.length)
      symbols.foreach { s =>
        out.writeByte(s.length)
        out.writeBytes(s)
      }
    }
  }

  private final val HashBits = 12
  private final val HashSlots = 1 << HashBits
  @inline private def hash3(first3: Long): Int =
    ((first3 * 0x9E3779B97F4A7C15L) >>> (64 - HashBits)).toInt

  private val LongView = java.lang.invoke.MethodHandles.byteArrayViewVarHandle(
    classOf[Array[Long]], java.nio.ByteOrder.LITTLE_ENDIAN)

  @inline private def packLE(bytes: Array[Byte]): Long = {
    var w = 0L
    var i = bytes.length - 1
    while (i >= 0) { w = (w << 8) | (bytes(i) & 0xffL); i -= 1 }
    w
  }

  /** mask(len) keeps the low len bytes. */
  private val lenMask: Array[Long] =
    Array.tabulate(9)(len => if (len == 8) -1L else (1L << (len * 8)) - 1)

  object SymbolTable {
    def deserialize(in: BytesIn): SymbolTable = {
      val n = in.checkedByte()
      val symbols = new Array[Array[Byte]](n)
      var i = 0
      while (i < n) {
        val len = in.checkedByte()
        symbols(i) = in.readFully(len)
        i += 1
      }
      new SymbolTable(symbols)
    }
  }

  /** Train a symbol table on a sample corpus. Deterministic for a given
    * input. `generations` trades training time for compression.
    *
    * The table is a pure function of the corpus, and `FsstSpec` pins it
    * byte for byte:
    *  - only the first 64 KiB of `sample` are read;
    *  - generation 0 is every byte that occurs, by count descending, ties
    *    by byte value ascending, first 255;
    *  - each later generation greedy-parses the corpus with the current
    *    table (`matchAt`; an unmatched byte is escape code `nsym + byte`),
    *    scores every used code as count × length and every adjacent code
    *    pair whose concatenation is ≤ 8 bytes as pair count × (len1 + len2)
    *    — pairs span value boundaries — keeps the MAX score per distinct
    *    byte string (never the sum), and takes the 255 best, ordered by
    *    score descending, then by the bytes compared as unsigned, a proper
    *    prefix first.
    *
    * All of it runs on primitive arrays sized by the corpus, never by the
    * 511-code alphabet squared, so per-value training stays cheap.
    */
  def train(sample: Array[Byte], generations: Int = 5): SymbolTable = {
    if (sample.isEmpty) return new SymbolTable(Array.empty)
    // cap training input for bounded cost
    val corpus = if (sample.length > TrainBytes) java.util.Arrays.copyOf(sample, TrainBytes) else sample
    val n = corpus.length

    // generation 0: frequent single bytes; key = count << 8 | (255 - byte)
    // so one descending pass yields count desc, byte asc
    var table = {
      val counts = new Array[Int](256)
      var i = 0
      while (i < n) { counts(corpus(i) & 0xff) += 1; i += 1 }
      val keys = (0 until 256).filter(counts(_) > 0).map(b => (counts(b).toLong << 8) | (255 - b)).toArray
      java.util.Arrays.sort(keys)
      val top = math.min(keys.length, MaxSymbols)
      new SymbolTable(Array.tabulate(top)(k => Array((255 - (keys(keys.length - 1 - k) & 0xff)).toByte)))
    }

    // codes are < 512 (≤ 255 symbols + 256 escapes), so a pair packs into
    // 18 bits; a corpus of n bytes holds at most n - 1 distinct pairs
    val pairs = new PairCounts(n)
    val codeWord = new Array[Long](MaxSymbols + 256) // left-aligned big-endian bytes
    val codeLen = new Array[Int](MaxSymbols + 256)
    var gen = 0
    while (gen < generations) {
      val nsym = table.symbols.length
      val symCount = new Array[Int](nsym + 256)
      var pos = 0
      var prev = -1
      while (pos < n) {
        val m = matchAt(table, corpus, pos)
        val code = if (m >= 0) m else nsym + (corpus(pos) & 0xff)
        symCount(code) += 1
        if (prev >= 0) pairs.add((prev << 9) | code)
        prev = code
        pos += (if (m >= 0) table.symLen(m) else 1)
      }

      // gains fit an Int: count ≤ 64 Ki positions, length ≤ 8
      val cands = new Candidates(symCount.length + pairs.size)
      var c = 0
      while (c < symCount.length) {
        if (c < nsym) {
          codeWord(c) = java.lang.Long.reverseBytes(table.symLong(c))
          codeLen(c) = table.symLen(c)
        } else {
          codeWord(c) = (c - nsym).toLong << 56
          codeLen(c) = 1
        }
        if (symCount(c) > 0) cands.offer(codeWord(c), codeLen(c), symCount(c) * codeLen(c))
        c += 1
      }
      var p = 0
      while (p < pairs.size) {
        val key = pairs.keyAt(p)
        val c1 = key >>> 9
        val c2 = key & 511
        val len = codeLen(c1) + codeLen(c2)
        if (len <= MaxSymbolLen)
          cands.offer(codeWord(c1) | (codeWord(c2) >>> (8 * codeLen(c1))), len, pairs.countAt(p) * len)
        p += 1
      }
      pairs.clear()
      table = new SymbolTable(cands.best(MaxSymbols))
      gen += 1
    }
    table
  }

  private final val TrainBytes = 1 << 16

  /** Pair-code counts in an open-addressed int map sized to the corpus
    * (load ≤ ½), cleared through its touched slots between generations.
    */
  private final class PairCounts(corpusLen: Int) {
    private val bits = 32 - Integer.numberOfLeadingZeros(math.max(2 * corpusLen - 1, 15))
    private val mask = (1 << bits) - 1
    private val keys = new Array[Int](1 << bits) // key + 1; 0 = empty
    private val counts = new Array[Int](1 << bits)
    private val touched = new Array[Int](corpusLen)
    var size = 0

    def add(key: Int): Unit = {
      val k = key + 1
      var s = (k * 0x9E3779B9) >>> (32 - bits)
      while (keys(s) != k && keys(s) != 0) s = (s + 1) & mask
      if (keys(s) == 0) { keys(s) = k; touched(size) = s; size += 1 }
      counts(s) += 1
    }
    def keyAt(i: Int): Int = keys(touched(i)) - 1
    def countAt(i: Int): Int = counts(touched(i))
    def clear(): Unit = {
      var i = 0
      while (i < size) { keys(touched(i)) = 0; counts(touched(i)) = 0; i += 1 }
      size = 0
    }
  }

  /** Candidate symbols keyed on (left-aligned big-endian bytes, length),
    * keeping the max gain per key; `best(k)` selects the top k through a
    * bounded heap whose root is the worst kept candidate.
    */
  private[core] final class Candidates(maxEntries: Int) {
    private val bits = 32 - Integer.numberOfLeadingZeros(math.max(2 * maxEntries - 1, 15))
    private val mask = (1 << bits) - 1
    private val words = new Array[Long](1 << bits)
    private val lens = new Array[Int](1 << bits) // 0 = empty
    private val gains = new Array[Int](1 << bits)

    def offer(word: Long, len: Int, gain: Int): Unit = if (gain > 0) {
      var s = (((word + len) * 0x9E3779B97F4A7C15L) >>> (64 - bits)).toInt
      while (lens(s) != 0 && (lens(s) != len || words(s) != word)) s = (s + 1) & mask
      if (lens(s) == 0) { words(s) = word; lens(s) = len; gains(s) = gain }
      else if (gains(s) < gain) gains(s) = gain
    }

    /** Slot a ranks after slot b: lower gain, or equal gain and greater
      * bytes (unsigned; zero padding puts a proper prefix first).
      */
    private def worse(a: Int, b: Int): Boolean =
      gains(a) < gains(b) || (gains(a) == gains(b) && {
        val cmp = java.lang.Long.compareUnsigned(words(a), words(b))
        cmp > 0 || (cmp == 0 && lens(a) > lens(b))
      })

    def best(k: Int): Array[Array[Byte]] = {
      val heap = new Array[Int](k)
      var size = 0
      def siftDown(from: Int): Unit = {
        var i = from
        var done = false
        while (!done) {
          val l = 2 * i + 1
          var w = i
          if (l < size && worse(heap(l), heap(w))) w = l
          if (l + 1 < size && worse(heap(l + 1), heap(w))) w = l + 1
          if (w == i) done = true
          else { val t = heap(i); heap(i) = heap(w); heap(w) = t; i = w }
        }
      }
      var s = 0
      while (s < lens.length) {
        if (lens(s) != 0) {
          if (size < k) {
            var i = size
            heap(i) = s
            size += 1
            while (i > 0 && worse(heap(i), heap((i - 1) / 2))) {
              val p = (i - 1) / 2
              val t = heap(i); heap(i) = heap(p); heap(p) = t; i = p
            }
          } else if (worse(heap(0), s)) { heap(0) = s; siftDown(0) }
        }
        s += 1
      }
      // pop worst-first into the tail: result is best-first
      val out = new Array[Array[Byte]](size)
      while (size > 0) {
        val slot = heap(0)
        size -= 1
        heap(0) = heap(size)
        siftDown(0)
        out(size) = Array.tabulate(lens(slot))(i => (words(slot) >>> (56 - 8 * i)).toByte)
      }
      out
    }
  }

  /** Best symbol matching at `pos`, or -1. Longest-class first: the
    * (single) len≥3 hash candidate, then the 2-byte short code, then the
    * 1-byte code. The 8-byte window is one VarHandle load away from the
    * array tail, a short byte-pack loop at it.
    */
  private[core] def matchAt(table: SymbolTable, data: Array[Byte], pos: Int): Int = {
    val avail = math.min(MaxSymbolLen, data.length - pos)
    var w = 0L
    if (data.length - pos >= 8) w = LongView.get(data, pos).asInstanceOf[Long]
    else {
      var j = avail - 1
      while (j >= 0) { w = (w << 8) | (data(pos + j) & 0xffL); j -= 1 }
    }
    if (avail >= 3) {
      val h = hash3(w & 0xffffffL)
      if ((w & table.slotMask(h)) == table.slotPattern(h)) {
        val cl = table.slotCodeLen(h)
        // len ≤ avail guards a symbol with trailing 0x00 bytes matching a
        // zero-padded short window
        if ((cl & 0xff) <= avail) return cl >>> 8
      }
    }
    if (avail >= 2) {
      val sc = table.shortCodes((w & 0xffffL).toInt)
      if (sc >= 0) return sc >>> 1 // fused: covers both 2-byte and 1-byte
      return -1
    }
    table.byteCodes((w & 0xffL).toInt)
  }

  def compress(table: SymbolTable, data: Array[Byte], out: ByteBuf): Unit = {
    // worst case 2 bytes out per byte in (all escapes) — reserve once,
    // write raw, commit at the end
    out.reserve(2 * data.length + 8)
    val dst = out.unsafeArray
    var o = out.length
    var pos = 0
    val fastEnd = data.length - MaxSymbolLen // full 8-byte loads safe through here
    val slotMask = table.slotMask
    val slotPattern = table.slotPattern
    val slotCodeLen = table.slotCodeLen
    val shortCodes = table.shortCodes
    while (pos <= fastEnd) {
      val w = LongView.get(data, pos).asInstanceOf[Long]
      val h = hash3(w & 0xffffffL)
      if ((w & slotMask(h)) == slotPattern(h)) { // empty slots can never match
        val cl = slotCodeLen(h)
        dst(o) = (cl >>> 8).toByte; o += 1; pos += cl & 0xff
      } else {
        val s = shortCodes((w & 0xffffL).toInt) // fused 2-byte/1-byte/escape
        if (s >= 0) { dst(o) = (s >>> 1).toByte; o += 1; pos += 2 - (s & 1) }
        else { dst(o) = EscapeCode.toByte; dst(o + 1) = (w & 0xff).toByte; o += 2; pos += 1 }
      }
    }
    while (pos < data.length) { // tail: windows shorter than 8 bytes
      val m = matchAt(table, data, pos)
      if (m >= 0) { dst(o) = m.toByte; o += 1; pos += table.symLen(m) }
      else {
        dst(o) = EscapeCode.toByte; dst(o + 1) = data(pos); o += 2
        pos += 1
      }
    }
    out.unsafeSetLength(o)
  }

  def decompress(table: SymbolTable, data: Array[Byte], from: Int, until: Int, out: ByteBuf): Unit = {
    // worst case MaxSymbolLen bytes out per code; +8 slack lets every
    // symbol be written as ONE unconditional 8-byte LE store (the packed
    // symLong) with the cursor advanced by the true length — no
    // per-symbol byte loop or bounds checks in the hot path
    out.reserve((until - from) * MaxSymbolLen + 8)
    val dst = out.unsafeArray
    var o = out.length
    val symLong = table.symLong
    val symLen = table.symLen
    var pos = from
    while (pos < until) {
      val code = data(pos) & 0xff
      pos += 1
      if (code == EscapeCode) {
        // a truncated/corrupt segment ending in a lone escape must fail
        // cleanly, not consume a byte from the adjacent value's range
        if (pos >= until) throw new IllegalArgumentException(
          "truncated FSST stream: escape code at segment end")
        dst(o) = data(pos); o += 1
        pos += 1
      } else {
        LongView.set(dst, o, symLong(code))
        o += symLen(code)
      }
    }
    out.unsafeSetLength(o)
  }
}
