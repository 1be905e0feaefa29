package graft.core

import org.scalatest.funsuite.AnyFunSuite

import graft.spark.WebGen

/** FSST training is pinned byte for byte: the primitive-array trainer must
  * emit the same symbol tables as the straightforward boxed formulation
  * kept below as the oracle, on web text, random alphabets, degenerate and
  * capped corpora. Every table must also round-trip its corpus.
  */
class FsstSpec extends AnyFunSuite {
  import Fsst.{MaxSymbolLen, MaxSymbols, SymbolTable}

  /** The reference trainer: boxed pair map, string-keyed candidates, a
    * full sort. Slow, and obviously the algorithm `Fsst.train` documents.
    */
  private def oracleTrain(sample: Array[Byte], generations: Int = 5): SymbolTable = {
    if (sample.isEmpty) return new SymbolTable(Array.empty)
    // cap training input for bounded cost
    val corpus = if (sample.length > (1 << 16)) java.util.Arrays.copyOf(sample, 1 << 16) else sample

    // generation 0: frequent single bytes
    var table = {
      val counts = new Array[Long](256)
      corpus.foreach(b => counts(b & 0xff) += 1)
      val top = (0 until 256).filter(counts(_) > 0).sortBy(b => -counts(b)).take(MaxSymbols)
      new SymbolTable(top.map(b => Array(b.toByte)).toArray)
    }

    var gen = 0
    while (gen < generations) {
      // parse the corpus with the current table; count symbol and
      // adjacent-pair frequencies
      val symCount = new Array[Long](table.symbols.length + 256)
      val pairCount = new java.util.HashMap[Long, Long]() // (sym1 << 32 | sym2) -> freq
      var pos = 0
      var prev = -1
      while (pos < corpus.length) {
        val m = Fsst.matchAt(table, corpus, pos)
        val (code, len) = if (m >= 0) (m, table.symbols(m).length) else (table.symbols.length + (corpus(pos) & 0xff), 1)
        symCount(code) += 1
        if (prev >= 0) {
          val key = (prev.toLong << 32) | code.toLong
          pairCount.merge(key, 1L, (a, b) => a + b)
        }
        prev = code
        pos += len
      }

      // candidates: existing symbols, escaped literals, and merged pairs
      def symbolBytes(code: Int): Array[Byte] =
        if (code < table.symbols.length) table.symbols(code)
        else Array((code - table.symbols.length).toByte)

      val candidates = new java.util.HashMap[String, (Array[Byte], Long)]()
      def addCandidate(bytes: Array[Byte], gain: Long): Unit = {
        if (bytes.length <= MaxSymbolLen && gain > 0) {
          val key = new String(bytes.map(b => (b & 0xff).toChar))
          val cur = candidates.get(key)
          if (cur == null || cur._2 < gain) candidates.put(key, (bytes, gain))
        }
      }
      var c = 0
      while (c < symCount.length) {
        if (symCount(c) > 0) {
          val bytes = symbolBytes(c)
          addCandidate(bytes, symCount(c) * bytes.length)
        }
        c += 1
      }
      pairCount.forEach { (key, freq) =>
        val s1 = symbolBytes((key >>> 32).toInt)
        val s2 = symbolBytes((key & 0xffffffffL).toInt)
        if (s1.length + s2.length <= MaxSymbolLen)
          addCandidate(s1 ++ s2, freq * (s1.length + s2.length))
      }

      val picked = candidates.values().toArray(Array.empty[(Array[Byte], Long)])
        .sortBy { case (bytes, gain) => (-gain, new String(bytes.map(b => (b & 0xff).toChar))) }
        .take(MaxSymbols)
        .map(_._1)
      table = new SymbolTable(picked)
      gen += 1
    }
    table
  }

  private def show(t: SymbolTable): Seq[String] =
    t.symbols.toSeq.map(_.map(b => f"${b & 0xff}%02x").mkString)

  private def roundTrip(t: SymbolTable, data: Array[Byte]): Unit = {
    val enc = new ByteBuf(data.length + 16)
    Fsst.compress(t, data, enc)
    val dec = new ByteBuf(data.length + 16)
    Fsst.decompress(t, enc.unsafeArray, 0, enc.length, dec)
    assert(java.util.Arrays.equals(dec.toArray, data), s"round trip of ${data.length} bytes")
  }

  /** Same table as the oracle (first differing index reported), and the
    * table round-trips the whole sample.
    */
  private def check(name: String, sample: Array[Byte]): Unit = {
    val got = Fsst.train(sample)
    val want = oracleTrain(sample)
    val g = show(got)
    val w = show(want)
    if (g != w) {
      val i = g.zip(w).indexWhere { case (a, b) => a != b }
      fail(s"$name (${sample.length} B): tables differ (sizes ${g.size} vs ${w.size}, first diff at " +
        s"$i: ${g.lift(i)} vs ${w.lift(i)})")
    }
    roundTrip(got, sample)
  }

  /** Values of one WebGen column from `from` on, concatenated up to 64 KiB
    * as the encoder assembles its training corpus.
    */
  private def webCorpus(seed: Long, from: Long, col: (Long, Long) => Array[Byte]): Array[Byte] = {
    val out = new ByteBuf(1 << 14)
    var r = from
    while (out.length < (1 << 16)) { out.writeBytes(col(seed, r)); r += 1 }
    out.toArray
  }

  private val columns: Seq[(String, (Long, Long) => Array[Byte])] = Seq(
    "text" -> ((s, r) => WebGen.page(s, r).text.getBytes("UTF-8")),
    "url" -> ((s, r) => WebGen.page(s, r).url.getBytes("UTF-8")),
    "lang" -> ((s, r) => WebGen.page(s, r).lang.getBytes("UTF-8")),
    "html" -> ((s, r) => WebGen.page(s, r).html))

  test("train matches the reference trainer on WebGen text, url, lang and html") {
    for ((name, col) <- columns; seed <- Seq(1L, 7L, 42L); from <- Seq(0L, 5000L))
      check(s"$name seed=$seed from=$from", webCorpus(seed, from, col))
  }

  test("train matches the reference trainer on short WebGen values (per-value training)") {
    for ((name, col) <- columns; seed <- 1L to 3L; r <- 0L until 4L) {
      val v = col(seed, r)
      check(s"$name value seed=$seed row=$r", v)
      check(s"$name prefix seed=$seed row=$r", v.take(24))
    }
  }

  test("train matches the reference trainer on random alphabets and lengths across the 64 KiB cap") {
    val rnd = new scala.util.Random(20201)
    val alphabets = Seq(1, 2, 3, 5, 16, 40, 95, 200, 255, 256)
    val lengths = Seq(1, 2, 7, 24, 200, 2048, 8192, 65535, 65536, 65537, 70000)
    for (a <- alphabets; n <- lengths) {
      val letters = rnd.shuffle((0 until 256).toVector).take(a).map(_.toByte).toArray
      // half uniform over the alphabet, half words from a small vocabulary
      // of it, so pairs merge into long symbols
      val uniform = Array.fill(n)(letters(rnd.nextInt(a)))
      check(s"uniform a=$a n=$n", uniform)
      val vocab = Array.fill(1 + rnd.nextInt(60))(Array.fill(1 + rnd.nextInt(12))(letters(rnd.nextInt(a))))
      val words = new ByteBuf(n + 16)
      while (words.length < n) words.writeBytes(vocab(math.min(vocab.length - 1, (vocab.length * math.pow(rnd.nextDouble(), 3)).toInt)))
      check(s"words a=$a n=$n", java.util.Arrays.copyOf(words.toArray, n))
    }
  }

  test("train matches the reference trainer on all-zero, tiny and empty input") {
    for (n <- Seq(1, 2, 3, 8, 9, 17, 100, 4096, 70000)) check(s"zeros n=$n", new Array[Byte](n))
    // trailing-zero symbols near the end of the corpus exercise the
    // len <= avail guard in matchAt
    check("zero tail", Array.fill[Byte](300)(7) ++ new Array[Byte](300) ++ Array[Byte](7, 0))
    for (b <- Seq(Array[Byte](0x61), Array[Byte](0x61, 0x62), Array[Byte](0x61, 0x61),
                  Array[Byte](0x61, 0x62, 0x63), Array[Byte](-1, 0, -1), Array[Byte](-128, 127, 0)))
      check(s"tiny ${b.mkString(",")}", b)
    assert(Fsst.train(Array.empty).symbols.isEmpty)
    assert(oracleTrain(Array.empty).symbols.isEmpty)
  }

  test("train orders equal gains by unsigned bytes, a proper prefix first") {
    // 0x7f and 0x80 occur equally often: a signed comparison puts 0x80
    // (-128) first
    assert(show(Fsst.train(Array[Byte](0x7f, -128, 0x7f, -128, 0x10), generations = 0)) == Seq("7f", "80", "10"))
    // one generation on (7f 80 01 ff)*: the pairs 01ff, 7f80 and 8001 tie
    val signed = Array.fill(64)(Array[Byte](0x7f, -128, 0x01, -1)).flatten
    assert(show(Fsst.train(signed, generations = 1)).take(3) == Seq("01ff", "7f80", "8001"))
    // one generation on (61 00 61 63)*: "\0a", "a", "a\0" and "ac" tie; "a"
    // and "a\0" differ only by length, so the prefix must come first
    val prefix = Array.fill(64)(Array[Byte](0x61, 0, 0x61, 0x63)).flatten
    assert(show(Fsst.train(prefix, generations = 1)).take(4) == Seq("0061", "61", "6100", "6163"))
    for (g <- 0 to 5; c <- Seq(signed, prefix))
      assert(show(Fsst.train(c, g)) == show(oracleTrain(c, g)), s"generations=$g")
  }

  test("candidate ranking keeps the max gain per byte string, never the sum") {
    // the greedy parse offers each distinct byte string once on every corpus
    // above, so max and sum only differ here, on the candidate map itself
    def word(s: String): Long = s.getBytes("ISO-8859-1").zipWithIndex
      .foldLeft(0L) { case (w, (b, i)) => w | ((b & 0xffL) << (56 - 8 * i)) }
    val c = new Fsst.Candidates(8)
    for ((s, gain) <- Seq("ab" -> 6, "zz" -> 8, "ab" -> 4, "q" -> 5, "q" -> 0, "\u0080" -> 5))
      c.offer(word(s), s.length, gain)
    assert(c.best(MaxSymbols).toSeq.map(new String(_, "ISO-8859-1")) == Seq("zz", "ab", "q", "\u0080"))
    assert(c.best(2).toSeq.map(new String(_, "ISO-8859-1")) == Seq("zz", "ab"))
  }

  test("a symbol table with a 0-length symbol fails to load instead of dropping bytes") {
    // table [2 symbols: "a", ""] followed by codes 0, 1: without the length
    // check this decoded to "a", silently losing whatever code 1 stood for
    val env = Array[Byte](2, 1, 'a', 0, 0, 1)
    intercept[IllegalArgumentException](SymbolTable.deserialize(new BytesIn(env)))
    intercept[IllegalArgumentException](graft.plans.CodecKernels.fsstDecompress(env))
  }

  test("a symbol table with a symbol longer than 8 bytes fails to load") {
    val env = Array[Byte](1, 9) ++ "abcdefghi".getBytes("UTF-8") ++ Array[Byte](0)
    intercept[IllegalArgumentException](SymbolTable.deserialize(new BytesIn(env)))
    intercept[IllegalArgumentException](new SymbolTable(Array(Array.emptyByteArray)))
    intercept[IllegalArgumentException](new SymbolTable(Array(new Array[Byte](9))))
  }
}
