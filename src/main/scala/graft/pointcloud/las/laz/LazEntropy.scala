package graft.pointcloud.las.laz

/** Adaptive arithmetic coding for the LAZ (LASzip) point codec.
  *
  * The coder is the published FastAC design (Amir Said's "Introduction to
  * Arithmetic Coding - Theory and Practice", HPL-2004-76; the same coder
  * family the public LASzip format builds on): a 32-bit range coder with
  * byte renormalization, adaptive bit models, and adaptive multi-symbol
  * models with a decoder lookup table. u32 state is held in Long and
  * masked, so the unsigned arithmetic is explicit.
  *
  * Verification note (scaladoc'd on [[graft.pointcloud.las.laz]]'s users
  * too): the container layout (header bit, VLR, chunk table) follows the
  * public LASzip spec, and the coder/models follow the published
  * algorithm; but the container ships no `.laz` fixtures and no external
  * LASzip binary, so byte-stream compatibility is verified by
  * self-round-trip only — encode(decode(x)) == x under every model, plus
  * golden container fields.
  */
private[las] object Entropy {
  final val Mask = 0xFFFFFFFFL
  final val MaxLength = 0xFFFFFFFFL
  final val MinLength = 0x01000000L
  final val BmLengthShift = 13
  final val BmMaxCount = 1L << BmLengthShift
  final val DmLengthShift = 15
  final val DmMaxCount = 1L << DmLengthShift
}

/** Adaptive binary model (FastAC Adaptive_Bit_Model). */
private[las] final class BitModel {
  var bit0Prob = 0L
  var bit0Count = 0L
  var bitCount = 0L
  var updateCycle = 0
  var bitsUntilUpdate = 0
  reset()

  def reset(): Unit = {
    bit0Count = 1
    bitCount = 2
    bit0Prob = 1L << (Entropy.BmLengthShift - 1)
    updateCycle = 4
    bitsUntilUpdate = 4
  }

  def update(): Unit = {
    bitCount += updateCycle
    if (bitCount > Entropy.BmMaxCount) {
      bitCount = (bitCount + 1) >> 1
      bit0Count = (bit0Count + 1) >> 1
      if (bit0Count == bitCount) bitCount += 1
    }
    // scale-multiply form of the published FastAC update — a truncated
    // (bit0Count << shift) / bitCount differs by one ulp for some counts
    // and would silently diverge from real LASzip model state
    val scale = 0x80000000L / bitCount
    bit0Prob = (bit0Count * scale) >> (31 - Entropy.BmLengthShift)
    updateCycle = math.min((5 * updateCycle) >> 2, 64)
    bitsUntilUpdate = updateCycle
  }
}

/** Adaptive n-symbol model (FastAC Adaptive_Data_Model). The decoder
  * lookup table is built for models above 16 symbols; the count and
  * distribution updates are identical on both sides, so encoder and
  * decoder model state stays in lockstep symbol for symbol.
  *
  * The fresh state depends on the symbol count alone, so it is computed
  * once per count (the published reset: unit counts, one update) into a
  * shared template that is never mutated; construction and [[reset]]
  * copy it. Codecs reset every model at every chunk boundary, and a COPC
  * chunk holds a few hundred points, so recomputing the distribution and
  * decoder table there would cost as much as decoding the chunk. */
private[las] final class SymbolModel private (val symbols: Int, template: SymbolModel) {
  def this(symbols: Int) = this(symbols, SymbolModel.template(symbols))

  require(symbols >= 2, s"symbol model needs >= 2 symbols, got $symbols")
  val counts = new Array[Int](symbols)
  val distribution = new Array[Int](symbols)
  val lastSymbol: Int = symbols - 1
  private val tableBits: Int =
    if (symbols > 16) {
      var b = 3
      while (symbols > (1 << (b + 2))) b += 1
      b
    } else 0
  val tableShift: Int = if (symbols > 16) Entropy.DmLengthShift - tableBits else 0
  val decoderTable: Array[Int] =
    if (symbols > 16) new Array[Int]((1 << tableBits) + 2) else null
  var totalCount = 0L
  var updateCycle = 0
  var symbolsUntilUpdate = 0
  if (template == null) {
    // this instance IS the template: the published reset, run once
    java.util.Arrays.fill(counts, 1)
    updateCycle = symbols
    update()
    updateCycle = (symbols + 6) >> 1
    symbolsUntilUpdate = updateCycle
  } else reset()

  def reset(): Unit = {
    System.arraycopy(template.counts, 0, counts, 0, symbols)
    System.arraycopy(template.distribution, 0, distribution, 0, symbols)
    if (decoderTable != null)
      System.arraycopy(template.decoderTable, 0, decoderTable, 0, decoderTable.length)
    totalCount = template.totalCount
    updateCycle = template.updateCycle
    symbolsUntilUpdate = template.symbolsUntilUpdate
  }

  def update(): Unit = {
    totalCount += updateCycle
    if (totalCount > Entropy.DmMaxCount) {
      totalCount = 0
      var i = 0
      while (i < symbols) {
        counts(i) = (counts(i) + 1) >> 1
        totalCount += counts(i)
        i += 1
      }
    }
    val scale = 0x80000000L / totalCount
    var sum = 0L
    var k = 0
    if (decoderTable == null) {
      while (k < symbols) {
        distribution(k) = ((scale * sum) >> (31 - Entropy.DmLengthShift)).toInt
        sum += counts(k)
        k += 1
      }
    } else {
      var s = 0
      while (k < symbols) {
        distribution(k) = ((scale * sum) >> (31 - Entropy.DmLengthShift)).toInt
        sum += counts(k)
        val w = distribution(k) >> tableShift
        while (s < w) { s += 1; decoderTable(s) = k - 1 }
        k += 1
      }
      decoderTable(0) = 0
      val tableSize = decoderTable.length - 2
      while (s <= tableSize) { s += 1; decoderTable(s) = symbols - 1 }
    }
    updateCycle = math.min((5 * updateCycle) >> 2, (symbols + 6) << 3)
    symbolsUntilUpdate = updateCycle
  }
}

private[las] object SymbolModel {
  private val templates =
    new java.util.concurrent.ConcurrentHashMap[Integer, SymbolModel]()

  /** The shared fresh state for `symbols` symbols; only ever read. */
  private def template(symbols: Int): SymbolModel =
    templates.computeIfAbsent(symbols, (s: Integer) => new SymbolModel(s, null))
}

/** Range encoder over a growable in-memory buffer (a LAZ chunk is encoded
  * whole, then its byte count recorded in the chunk table). */
private[las] final class ArithmeticEncoder {
  import Entropy._
  private var buf = new Array[Byte](1 << 12)
  private var n = 0
  private var base = 0L
  private var length = MaxLength

  def reset(): Unit = { n = 0; base = 0L; length = MaxLength }
  def size: Int = n
  def result(): Array[Byte] = java.util.Arrays.copyOf(buf, n)

  private def outByte(b: Int): Unit = {
    if (n == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length << 1)
    buf(n) = b.toByte
    n += 1
  }

  private def propagateCarry(): Unit = {
    var p = n - 1
    while (p >= 0 && buf(p) == 0xFF.toByte) { buf(p) = 0; p -= 1 }
    // the coder never carries before any byte is out with base starting 0
    buf(p) = (buf(p) + 1).toByte
  }

  private def renorm(): Unit = {
    while (length < MinLength) {
      outByte((base >>> 24).toInt)
      base = (base << 8) & Mask
      length = (length << 8) & Mask
    }
  }

  def encodeBit(m: BitModel, bit: Int): Unit = {
    val initBase = base
    val x = m.bit0Prob * (length >>> BmLengthShift)
    if (bit == 0) {
      length = x
      m.bit0Count += 1
    } else {
      base = (base + x) & Mask
      length -= x
    }
    if (initBase > base) propagateCarry()
    if (length < MinLength) renorm()
    m.bitsUntilUpdate -= 1
    if (m.bitsUntilUpdate == 0) m.update()
  }

  def encodeSymbol(m: SymbolModel, sym: Int): Unit = {
    val initBase = base
    if (sym == m.lastSymbol) {
      val x = m.distribution(sym) * (length >>> DmLengthShift)
      base = (base + x) & Mask
      length -= x
    } else {
      length >>>= DmLengthShift
      val x = m.distribution(sym) * length
      base = (base + x) & Mask
      length = m.distribution(sym + 1) * length - x
    }
    if (initBase > base) propagateCarry()
    if (length < MinLength) renorm()
    m.counts(sym) += 1
    m.symbolsUntilUpdate -= 1
    if (m.symbolsUntilUpdate == 0) m.update()
  }

  /** Raw (uniform) bits, 1..32. */
  def writeBits(bits: Int, value: Long): Unit = {
    if (bits > 19) {
      writeShort(value & 0xFFFF)
      writeBits(bits - 16, value >>> 16)
    } else {
      val initBase = base
      length >>>= bits
      base = (base + ((value & ((1L << bits) - 1)) * length)) & Mask
      if (initBase > base) propagateCarry()
      if (length < MinLength) renorm()
    }
  }

  private def writeShort(value: Long): Unit = {
    val initBase = base
    length >>>= 16
    base = (base + (value * length)) & Mask
    if (initBase > base) propagateCarry()
    if (length < MinLength) renorm()
  }

  def writeInt(value: Long): Unit = {
    writeShort(value & 0xFFFF)
    writeShort((value >>> 16) & 0xFFFF)
  }

  def done(): Unit = {
    val initBase = base
    if (length > 2 * MinLength) {
      base = (base + MinLength) & Mask
      length = MinLength >> 1
    } else {
      base = (base + (MinLength >> 1)) & Mask
      length = MinLength >> 9
    }
    if (initBase > base) propagateCarry()
    renorm()
  }
}

/** Range decoder over a byte array slice; reads past the end yield zero
  * bytes (the chunk table bounds every chunk, so tail overreads stay
  * inside this slice's own padding semantics and never touch the next
  * chunk). */
private[las] final class ArithmeticDecoder(bytes: Array[Byte], startPos: Int, endPos: Int) {
  import Entropy._
  private var pos = startPos
  private var value = 0L
  private var length = MaxLength
  init()

  private def inByte(): Long =
    if (pos < endPos) { val b = bytes(pos) & 0xFFL; pos += 1; b }
    else 0L

  private def init(): Unit = {
    value = (inByte() << 24) | (inByte() << 16) | (inByte() << 8) | inByte()
    length = MaxLength
  }

  private def renorm(): Unit = {
    while (length < MinLength) {
      value = ((value << 8) | inByte()) & Mask
      length = (length << 8) & Mask
    }
  }

  def decodeBit(m: BitModel): Int = {
    val x = m.bit0Prob * (length >>> BmLengthShift)
    val sym = if (value < x) 0 else 1
    if (sym == 0) {
      length = x
      m.bit0Count += 1
    } else {
      value -= x
      length -= x
    }
    if (length < MinLength) renorm()
    m.bitsUntilUpdate -= 1
    if (m.bitsUntilUpdate == 0) m.update()
    sym
  }

  /** Kept small enough for the JIT to inline at every call site; the
    * interval search lives in the two helpers below. */
  def decodeSymbol(m: SymbolModel): Int = {
    val sym = if (m.decoderTable != null) decodeByTable(m) else decodeBySearch(m)
    m.counts(sym) += 1
    m.symbolsUntilUpdate -= 1
    if (m.symbolsUntilUpdate == 0) m.update()
    sym
  }

  /** Models above 16 symbols: the decoder table brackets the symbol,
    * a bisection over the distribution settles it. */
  private def decodeByTable(m: SymbolModel): Int = {
    val y0 = length
    length >>>= DmLengthShift
    val dv = value / length
    // clamp protects the table walk from a corrupt (or zero-padded
    // overread) stream where value momentarily exceeds the interval
    val t = math.min((dv >> m.tableShift).toInt, m.decoderTable.length - 2)
    var sym = m.decoderTable(t)
    var n = m.decoderTable(t + 1) + 1
    while (n > sym + 1) {
      val k = (sym + n) >>> 1
      if (m.distribution(k) > dv) n = k else sym = k
    }
    val x = m.distribution(sym) * length
    val y = if (sym != m.lastSymbol) m.distribution(sym + 1) * length else y0
    narrow(x, y)
    sym
  }

  /** Models of at most 16 symbols: bisection over the scaled interval. */
  private def decodeBySearch(m: SymbolModel): Int = {
    var sym = 0
    var x = 0L
    var y = length
    length >>>= DmLengthShift
    var n = m.symbols
    var k = n >>> 1
    while (k != sym) {
      val z = m.distribution(k) * length
      if (z > value) { n = k; y = z } else { sym = k; x = z }
      k = (sym + n) >>> 1
    }
    narrow(x, y)
    sym
  }

  /** Shrink the coder interval to the decoded symbol's [x, y). */
  private def narrow(x: Long, y: Long): Unit = {
    value -= x
    length = y - x
    if (length < MinLength) renorm()
  }

  def readBits(bits: Int): Long = {
    if (bits > 19) {
      val low = readShort()
      val high = readBits(bits - 16)
      (high << 16) | low
    } else {
      length >>>= bits
      var sym = value / length
      value -= length * sym
      if (length < MinLength) renorm()
      if (sym >= (1L << bits)) sym = (1L << bits) - 1 // corrupt-stream clamp
      sym
    }
  }

  private def readShort(): Long = {
    length >>>= 16
    var sym = value / length
    value -= length * sym
    if (length < MinLength) renorm()
    if (sym > 0xFFFFL) sym = 0xFFFFL // corrupt-stream clamp
    sym
  }

  def readInt(): Long = {
    val low = readShort()
    val high = readShort()
    (high << 16) | low
  }
}

/** Prediction-residual coder (the LASzip IntegerCompressor): a per-context
  * symbol model selects the bit-width class k of the corrector, the
  * corrector's position inside its k-interval is coded with a per-k model
  * (low bits raw past `bitsHigh`), and the caller's domain wraps modulo
  * 2^bits. One instance serves either encoding or decoding (the model
  * update path is identical, which is what keeps the two sides in
  * lockstep). */
private[las] final class IntegerCompressor(bits: Int, contexts: Int, bitsHigh: Int = 8) {
  require(bits >= 1 && bits <= 32, s"bits must be 1..32, got $bits")
  private val corrBits = if (bits < 32) bits else 32
  private val corrRange = if (bits < 32) 1L << bits else 0L
  private val corrMin: Int = if (bits < 32) -(1 << (bits - 1)) else Int.MinValue
  private val corrMax: Int = if (bits < 32) (corrMin + corrRange - 1).toInt else Int.MaxValue

  private val mBits = Array.fill(contexts)(new SymbolModel(corrBits + 1))
  private val mCorrector0 = new BitModel
  private val mCorrector: Array[SymbolModel] = {
    // k ranges up to corrBits itself (corrector == corrMin gives
    // c1 = 2^(corrBits-1) -> k = corrBits), so index corrBits must
    // exist for bits < 32; at 32 bits that class carries no payload
    val arr = new Array[SymbolModel](if (corrBits < 32) corrBits + 1 else 32)
    var k = 1
    while (k < arr.length) {
      arr(k) = new SymbolModel(if (k <= bitsHigh) 1 << k else 1 << bitsHigh)
      k += 1
    }
    arr
  }

  /** Bit-width class of the last corrector — the Point10 codec feeds it
    * forward as the y/z context (public LASzip scheme). */
  private var lastK = 0
  def getK: Int = lastK

  def reset(): Unit = {
    mBits.foreach(_.reset())
    mCorrector0.reset()
    var k = 1
    while (k < mCorrector.length) { mCorrector(k).reset(); k += 1 }
    lastK = 0
  }

  def compress(enc: ArithmeticEncoder, pred: Int, real: Int, context: Int): Unit = {
    var corr = real - pred
    if (corrRange != 0) {
      if (corr < corrMin) corr = (corr + corrRange).toInt
      else if (corr > corrMax) corr = (corr - corrRange).toInt
    }
    writeCorrector(enc, corr, mBits(context))
  }

  def decompress(dec: ArithmeticDecoder, pred: Int, context: Int): Int = {
    var real = pred + readCorrector(dec, mBits(context))
    if (corrRange != 0) {
      if (real < 0) real = (real + corrRange).toInt
      else if (real >= corrRange) real = (real - corrRange).toInt
    }
    real
  }

  private def writeCorrector(enc: ArithmeticEncoder, c0: Int, model: SymbolModel): Unit = {
    // k = bit length of (c <= 0 ? -c : c-1): the tightest class whose
    // interval [-(2^k - 1), -2^(k-1)] u [2^(k-1)+1, 2^k] contains c
    var c = c0
    var c1 = if (c <= 0) -c.toLong else c.toLong - 1
    var k = 0
    while (c1 != 0) { c1 >>= 1; k += 1 }
    lastK = k
    enc.encodeSymbol(model, k)
    if (k != 0) {
      if (k < 32) {
        // translate into [0, 2^k - 1]
        if (c >= 0) c -= 1 else c += (1 << k) - 1
        if (k <= bitsHigh) enc.encodeSymbol(mCorrector(k), c)
        else {
          val k1 = k - bitsHigh
          enc.encodeSymbol(mCorrector(k), c >>> k1)
          enc.writeBits(k1, c & ((1 << k1) - 1))
        }
      }
      // k == 32: corrector is corrMin, nothing more to code
    } else {
      enc.encodeBit(mCorrector0, c)
    }
  }

  private def readCorrector(dec: ArithmeticDecoder, model: SymbolModel): Int = {
    val k = dec.decodeSymbol(model)
    lastK = k
    var c = 0
    if (k != 0) {
      if (k < 32) {
        if (k <= bitsHigh) c = dec.decodeSymbol(mCorrector(k))
        else {
          val k1 = k - bitsHigh
          val high = dec.decodeSymbol(mCorrector(k))
          c = (high << k1) | dec.readBits(k1).toInt
        }
        if (c >= (1 << (k - 1))) c += 1
        else c -= (1 << k) - 1
      } else c = corrMin
    } else c = dec.decodeBit(mCorrector0)
    c
  }
}

/** Streaming median-of-five of the recent x/y deltas (the LASzip
  * paper's x/y predictor, Isenburg 2013: "streaming median of the last
  * five differences"), matching the published laszip_common_v2.hpp
  * `StreamingMedian5` control flow line for line: the insert on the
  * side `high` prefers does the full middle-displacing shift and
  * leaves `high` unchanged; the opposite-side insert touches only the
  * two outer slots and FLIPS the preference. From zero-init the
  * preferred-side shifts walk fresh data into the middle (e.g. three
  * same-sign deltas make `values(2)` the first delta), so the
  * predictor engages on real scan data.
  *
  * Round-14 history, kept because each step was a bitstream change:
  * the original transcription flipped `high` inside the big-shift
  * branches instead — provably inert (same-sign deltas from zero-init
  * never reach a big shift, so the median stayed 0 for every input;
  * caught when golden pins refused to move under a context-table
  * change). The first fix over-corrected to flip-on-EVERY-add: a live
  * median and self-consistent round trips, but a different branch
  * sequence than real LASzip from the first delta where the
  * disciplines disagree — exactly the silent-interop-divergence class
  * the v2 transcription pass exists to kill. The flip placement now in
  * `add` is the published one; golden pins regenerated (layout marker
  * v5). No external .laz fixture ships in this container, so the pins
  * remain the strongest available cross-check. */
private[las] final class StreamingMedian5 {
  private val values = new Array[Int](5)
  private var high = true

  def reset(): Unit = {
    java.util.Arrays.fill(values, 0)
    high = true
  }

  def get: Int = values(2)

  /** Published LASzip v2 insert discipline (laszip_common_v2.hpp
    * `StreamingMedian5::add`): the BELOW-median insert while `high`
    * (and its mirror) does the full middle-displacing shift and leaves
    * `high` unchanged; only the opposite-side insert — the one that
    * touches the two outer slots — flips the preference. An earlier
    * revision flipped on EVERY add: self-consistent (round trips and
    * golden pins can't tell) but it diverges from real LASzip at the
    * first sequence where the two disciplines pick different branches,
    * which mis-predicts every subsequent x/y against a foreign file.
    * The flip placement below is a line-for-line transcription of the
    * published control flow. */
  def add(v: Int): Unit = {
    if (high) {
      if (v < values(2)) {
        values(4) = values(3); values(3) = values(2)
        if (v < values(0)) { values(2) = values(1); values(1) = values(0); values(0) = v }
        else if (v < values(1)) { values(2) = values(1); values(1) = v }
        else values(2) = v
      } else {
        if (v < values(3)) { values(4) = values(3); values(3) = v }
        else values(4) = v
        high = false
      }
    } else {
      if (values(2) < v) {
        values(0) = values(1); values(1) = values(2)
        if (values(4) < v) { values(2) = values(3); values(3) = values(4); values(4) = v }
        else if (values(3) < v) { values(2) = values(3); values(3) = v }
        else values(2) = v
      } else {
        if (values(1) < v) { values(0) = values(1); values(1) = v }
        else values(0) = v
        high = true
      }
    }
  }
}
