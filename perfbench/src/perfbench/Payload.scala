package perfbench

/** Seeded record payloads.
  *
  * Layout: `[id: 8][created: 8][checksum: 8][body]`, big-endian longs. The
  * body is pseudo-random bytes derived from `(seed, id)` alone, so any
  * process can regenerate the exact payload of an ingested record from its
  * offset. Produced records also carry the generator's creation stamp
  * (`System.nanoTime`), which makes their bytes unique per run: the
  * generator keeps what it sent to compare against what comes back.
  */
object Payload {
  val HeaderBytes = 24

  /** Bulk-ingested records are small so that the ingest phase stays short. */
  val IngestMin = 32
  val IngestMax = 256

  /** Produced records span the sizes a log client sends. */
  val ProduceMin = 32
  val ProduceMax = 2048

  /** Ids of produced records live above every ingest offset. */
  def produceId(client: Int, seq: Long): Long = (1L << 62) | (client.toLong << 40) | seq

  def ingest(seed: Long, offset: Long): Array[Byte] =
    make(seed, offset, 0L, IngestMin, IngestMax)

  def produce(seed: Long, id: Long, createdNanos: Long): Array[Byte] =
    make(seed, id, createdNanos, ProduceMin, ProduceMax)

  def make(seed: Long, id: Long, createdNanos: Long, lo: Int, hi: Int): Array[Byte] = {
    val h = mix(seed ^ mix(id))
    val n = math.max(HeaderBytes, logUniform(h, lo, hi))
    val b = new Array[Byte](n)
    var s = h
    var i = HeaderBytes
    while (i < n) {
      s = mix(s)
      var k = 0
      while (k < 8 && i < n) { b(i) = (s >>> (8 * k)).toByte; k += 1; i += 1 }
    }
    putLong(b, 0, id)
    putLong(b, 8, createdNanos)
    putLong(b, 16, checksum(b, HeaderBytes, n))
    b
  }

  def id(b: Array[Byte]): Long = getLong(b, 0)
  def created(b: Array[Byte]): Long = getLong(b, 8)

  /** SplitMix64 finaliser. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Size in `[lo, hi]`, uniform in log space. */
  def logUniform(r: Long, lo: Int, hi: Int): Int = {
    val u = (r >>> 11) * (1.0 / (1L << 53))
    math.min(hi, math.round(lo * math.pow(hi.toDouble / lo, u)).toInt)
  }

  /** FNV-1a, 64 bit. */
  def checksum(b: Array[Byte], from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) { h = (h ^ (b(i) & 0xff)) * 0x100000001b3L; i += 1 }
    h
  }

  private def putLong(b: Array[Byte], at: Int, v: Long): Unit = {
    var k = 0
    while (k < 8) { b(at + k) = (v >>> (56 - 8 * k)).toByte; k += 1 }
  }

  private def getLong(b: Array[Byte], at: Int): Long = {
    var v = 0L
    var k = 0
    while (k < 8) { v = (v << 8) | (b(at + k) & 0xffL); k += 1 }
    v
  }
}
