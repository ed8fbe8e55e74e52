package perfbench

/** Output checks. Each returns one message per violation; empty = pass. */
object Checks {

  /** Acknowledged offsets form one gap-free range with no duplicates. */
  def contiguous(offsets: Seq[Long]): Seq[String] = {
    val s = offsets.sorted
    s.iterator
      .zip(s.iterator.drop(1))
      .collect {
        case (a, b) if b == a     => s"offset $a acknowledged twice"
        case (a, b) if b != a + 1 => s"gap in acknowledged offsets: ${a + 1} to ${b - 1} missing"
      }
      .toSeq
  }

  /** `delivered` is exactly `from, from + 1, ..., through`: every record
    * once, in offset order.
    */
  def exactlyOnceInOrder(delivered: Seq[Long], from: Long, through: Long): Seq[String] = {
    val want = through - from + 1
    val problems = Seq.newBuilder[String]
    var expect = from
    delivered.iterator.takeWhile(_ => expect <= through).foreach { o =>
      if (o != expect) problems += s"tail delivered offset $o where $expect was due"
      expect = o + 1
    }
    if (delivered.size < want) problems += s"tail delivered ${delivered.size} of $want records"
    if (delivered.size > want) problems += s"tail delivered ${delivered.size - want} extra records"
    problems.result()
  }

  /** A catch-up from `from` returned at least `k` records with contiguous,
    * ascending offsets starting at `from`.
    */
  def catchup(offsets: Seq[Long], from: Long, k: Int): Seq[String] = {
    val order = offsets.iterator.zipWithIndex.collectFirst {
      case (o, i) if o != from + i => s"catch-up from $from returned offset $o at position $i"
    }
    val short =
      if (offsets.size < k) Some(s"catch-up from $from returned ${offsets.size} of $k records") else None
    order.toSeq ++ short
  }

  /** The record read back at `offset` carries exactly the expected bytes. */
  def samePayload(offset: Long, got: Array[Byte], want: Array[Byte]): Option[String] =
    if (got != null && java.util.Arrays.equals(got, want)) None
    else {
      val n = if (got == null) -1 else got.length
      Some(s"offset $offset returned a wrong payload ($n bytes, expected ${want.length})")
    }
}
