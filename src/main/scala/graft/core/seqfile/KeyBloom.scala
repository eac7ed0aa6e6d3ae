package graft.core.seqfile

import java.util.Base64

/** Per-block key Bloom filter — the point-lookup complement to zone maps.
  *
  * Zone-map [min, max] pruning only bites when data is sorted (or at least
  * clustered) by the probed column: on an UNSORTED lake every block's range
  * spans the domain and `key = 42` prunes nothing. A Bloom filter per
  * record block answers "is this exact key possibly here?" regardless of
  * ordering, so equality and IN probes skip blocks (and, transitively,
  * whole files) on data nobody sorted. Opt-in at write time
  * (`bloomKeys=true`, `bloomFpp=0.01`): at the default 1% false-positive
  * rate the filter costs ~9.6 bits per distinct key — ~1.2 bytes/record
  * riding in the sidecar next to the ~100-byte min/max entry.
  *
  * Like every sidecar structure here it is advisory and conservative: a
  * Bloom "maybe" reads the block, the reader or Spark evaluates the
  * filters on its rows, and sidecar staleness is caught by the file-length
  * check before any of this runs.
  *
  * Implementation: standard Bloom with Kirsch–Mitzenmacher double hashing
  * (g_i = h1 + i·h2) over one 64-bit key hash; the key's canonical form is
  * its ZoneKey (same canonicalization the min/max stats use), hashed with
  * FNV-1a 64 + a murmur-style finalizer. Deterministic everywhere.
  */
final class KeyBloom(val bits: Array[Long], val numHashes: Int) {
  private val nBits: Long = bits.length.toLong * 64

  def mightContain(h: Long): Boolean = {
    val h2 = KeyBloom.fmix64(h) | 1L // odd => full cycle over any m
    var i = 0
    while (i < numHashes) {
      val pos = java.lang.Long.remainderUnsigned(h + i.toLong * h2, nBits)
      if ((bits((pos >>> 6).toInt) & (1L << (pos & 63))) == 0L) return false
      i += 1
    }
    true
  }
}

object KeyBloom {

  private[seqfile] def fmix64(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    x
  }

  /** 64-bit hash of a key's canonical ZoneKey form. */
  def hashKey(k: ZoneKey): Long = k match {
    case ZoneKey.L(v) => fmix64(v ^ 0x9e3779b97f4a7c15L)
    case ZoneKey.D(v) => fmix64(java.lang.Double.doubleToLongBits(v) ^ 0x2545f4914f6cdd1dL)
    case ZoneKey.B(bytes) =>
      var h = 0xcbf29ce484222325L // FNV-1a 64
      var i = 0
      while (i < bytes.length) { h ^= bytes(i) & 0xffL; h *= 0x100000001b3L; i += 1 }
      fmix64(h)
  }

  /** Build a filter sized for `hashes.length` insertions at `fpp`:
    * m = ceil(−n·ln p / ln²2) bits (word-rounded), k = max(1, round(m/n·ln2)). */
  def build(hashes: Array[Long], fpp: Double): KeyBloom = {
    require(fpp > 0 && fpp < 1, s"fpp $fpp")
    val n = math.max(1, hashes.length)
    val m = math.max(64L,
      math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    val words = ((m + 63) / 64).toInt
    val k = math.max(1, math.round(m.toDouble / n * math.log(2)).toInt)
    val bits = new Array[Long](words)
    val nBits = words.toLong * 64
    var j = 0
    while (j < hashes.length) {
      val h = hashes(j)
      val h2 = fmix64(h) | 1L
      var i = 0
      while (i < k) {
        val pos = java.lang.Long.remainderUnsigned(h + i.toLong * h2, nBits)
        bits((pos >>> 6).toInt) |= 1L << (pos & 63)
        i += 1
      }
      j += 1
    }
    new KeyBloom(bits, k)
  }

  /** Sidecar text encoding: `k<numHashes>:<base64 of little-endian words>`. */
  def encode(b: KeyBloom): String = {
    val buf = java.nio.ByteBuffer.allocate(b.bits.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.bits.foreach(buf.putLong)
    s"k${b.numHashes}:${Base64.getEncoder.encodeToString(buf.array())}"
  }

  def decode(s: String): KeyBloom = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    decode(b, 0, b.length)
  }

  /** `decode` of the encoding held in `b(from until until)`, as a sidecar
    * parser finds it, without first copying it into a string: the base64
    * payload decodes straight into the filter's words. */
  def decode(b: Array[Byte], from: Int, until: Int): KeyBloom = {
    require(until > from && b(from) == 'k', s"bad bloom encoding")
    var sep = from + 1
    while (sep < until && b(sep) != ':') sep += 1
    require(sep > from + 1 && sep < until, s"bad bloom encoding")
    val k = new String(b, from + 1, sep - from - 1,
      java.nio.charset.StandardCharsets.ISO_8859_1).toInt
    var end = until
    while (end > sep + 1 && end > until - 2 && b(end - 1) == '=') end -= 1
    val chars = end - sep - 1
    require(chars % 4 != 1, "bad bloom payload")
    val nBytes = chars * 6 / 8
    require(nBytes % 8 == 0 && nBytes > 0, "bad bloom payload")
    val bits = new Array[Long](nBytes / 8)
    var acc, accBits, byteIdx = 0
    var i = sep + 1
    while (i < end) {
      val v = Base64Digits(b(i) & 0xff)
      require(v >= 0, "bad bloom payload")
      acc = ((acc << 6) | v) & 0xffff
      accBits += 6
      if (accBits >= 8) {
        accBits -= 8
        // words are little-endian: byte j is bits 8*(j%8) of word j/8
        bits(byteIdx >>> 3) |= ((acc >>> accBits) & 0xffL) << ((byteIdx & 7) * 8)
        byteIdx += 1
      }
      i += 1
    }
    new KeyBloom(bits, k)
  }

  /** Base64 digit of each byte value, -1 for a byte that is none. */
  private val Base64Digits: Array[Int] = {
    val t = Array.fill(256)(-1)
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/"
      .zipWithIndex.foreach { case (c, i) => t(c) = i }
    t
  }
}
