package perfbench

/** One traffic mix against the log service. Both mixes run the same kinds
  * of client so that every end-to-end metric is measured on each; they
  * differ in which side is under pressure.
  *
  * Load is sized for a small shared box: the generator runs
  * `closedProducers + openLoopProducers + readers` client threads (at most
  * `nproc`) and holds at most `nproc` connections, counting one gRPC
  * channel shared by several threads as one.
  */
final case class Workload(
    name: String,
    /** Closed-loop producers, each on its own channel. */
    closedProducers: Int,
    /** Mean of the seeded exponential pause a closed-loop producer takes
      * between an ack and its next send.
      */
    thinkMillis: Double,
    /** Produces per second of the single open-loop producer; 0 = none. */
    openLoopRate: Double,
    /** Closed-loop readers running [[Workload.ReaderRound]]. */
    readers: Int,
    /** Mean of the seeded exponential pause a reader takes between
      * operations. It leaves CPU headroom, so that latencies measure the
      * service rather than the queue for a saturated shared machine.
      */
    readerThinkMillis: Double
) {
  def channels: Int = math.max(1, closedProducers)
}

object Workload {
  val all: Seq[Workload] = Seq(
    // Write path under contention: three producers overlap on the log's
    // monitor, and every produce writes its own part file, publish marker
    // and manifest swap. The think time keeps the offered load below what
    // the tail drains: the tail reads one part file per record and lists
    // the whole active segment for each, so without a pause the backlog
    // grows for as long as the run lasts, and at half this pause the
    // tail's drain alone took about a core of the box. One reader keeps
    // the read metrics measured; its shorter pause gives it about 20
    // samples of each K catch-up in a 15 s run.
    Workload("produce_tail", closedProducers = 3, thinkMillis = 120, openLoopRate = 0, readers = 1,
      readerThinkMillis = 50),
    // Read path: three readers over the bulk-ingested log, beside one
    // uncontended producer on a fixed schedule (low, so that the tail
    // drain it feeds stays a small share of the box).
    Workload("consume_catchup", closedProducers = 0, thinkMillis = 0, openLoopRate = 10, readers = 3,
      readerThinkMillis = 100)
  )

  def named(n: String): Workload =
    all.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})")
    )

  /** Bulk ingest before the run: batches alternate between
    * `SparkLog.appendDF` and the `graft` DSv2 sink. Part files number
    * [[IngestParts]], ten times the point reader's 64-footer cache.
    */
  val IngestRecords: Long = 1L << 19
  val IngestBatches: Int = 4
  val IngestParts: Int = 640
  val PartsPerBatch: Int = IngestParts / IngestBatches
  def recordsPerPart: Long = IngestRecords / IngestParts

  /** Hot point reads stay within this many part files, well inside the
    * footer cache; cold ones are uniform over every ingested part.
    */
  val HotParts: Int = 16

  /** Catch-up depths. A catch-up replays K records of bulk-ingested
    * history from a seeded position, then stops (gRPC cancels the call,
    * HTTP closes the connection). Windows at the live end would consist
    * of one-record part files from unary produces, and `/tail` plans one
    * Spark job per part file, so their cost would grow with run length.
    */
  val K: Int = 100
  val KLarge: Int = 10000

  sealed trait Op
  case object PointHot extends Op
  case object PointCold extends Op
  case object CatchupGrpc extends Op
  case object CatchupHttp extends Op
  case object CatchupHttpLarge extends Op

  /** One reader round: 20 point reads, half hot and half cold, and after
    * each fifth of them a K catch-up over gRPC and one over HTTP, with one
    * `KLarge` catch-up in the middle. The order is fixed, with the heavy
    * catch-ups spread out, so that runs with different seeds see the same
    * pattern of interference; the seed picks offsets and catch-up
    * positions. Reader `r` starts `r / readers` of the way into the round.
    */
  val ReaderRound: Seq[Op] = {
    val points = Seq.tabulate(20)(i => if (i % 2 == 0) PointHot else PointCold)
    points.grouped(5).zipWithIndex.flatMap { case (five, i) =>
      five ++ Seq(CatchupGrpc, CatchupHttp) ++ (if (i == 1) Seq(CatchupHttpLarge) else Nil)
    }.toSeq
  }
}
