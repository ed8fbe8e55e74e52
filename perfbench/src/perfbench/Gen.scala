package perfbench

import java.util.SplittableRandom
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

/** Load generator: a separate JVM that drives the log service over gRPC
  * and HTTP, times every request from raw `System.nanoTime` stamps, checks
  * every output, and writes its samples for the coordinator.
  *
  * Samples are tab-separated `kind id start end extra` lines. All stamps
  * are `System.nanoTime`, the machine's monotonic clock, so they line up
  * with the server process's spans.
  */
object Gen {

  final case class Sample(kind: String, id: Long, start: Long, end: Long, extra: Long)

  def main(args: Array[String]): Unit = {
    val a = args.map { kv =>
      val i = kv.indexOf('=')
      kv.take(i) -> kv.drop(i + 1)
    }.toMap
    val g = new Gen(
      Workload.named(a("workload")),
      seed = a("seed").toLong,
      warmupNanos = (a("warmup").toDouble * 1e9).toLong,
      seconds = a("seconds").toDouble,
      host = a("host"),
      grpcPort = a("grpc").toInt,
      httpPort = a("http").toInt,
      startOffset = a("start").toLong,
      ingestEnd = a("ingestEnd").toLong,
      hotEnd = a("hotEnd").toLong,
      acksFile = java.nio.file.Paths.get(a("acks"))
    )
    val out = g.run()
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(a("out")))
    try g.samples.asScala.foreach { s =>
        w.write(s"${s.kind}\t${s.id}\t${s.start}\t${s.end}\t${s.extra}\n")
      }
    finally w.close()
    println(out)
    System.out.flush()
    sys.exit(0)
  }
}

final class Gen(
    w: Workload,
    seed: Long,
    warmupNanos: Long,
    seconds: Double,
    host: String,
    grpcPort: Int,
    httpPort: Int,
    startOffset: Long,
    ingestEnd: Long,
    hotEnd: Long,
    acksFile: java.nio.file.Path
) {
  import Gen.Sample
  import Workload._

  val samples = new ConcurrentLinkedQueue[Sample]()
  private val problems = new ConcurrentLinkedQueue[String]()
  private val attempted = new AtomicLong()

  private val sent = new ConcurrentHashMap[java.lang.Long, Array[Byte]]()
  private val acked = new ConcurrentHashMap[java.lang.Long, java.lang.Long]()
  private val createdAt = new ConcurrentHashMap[java.lang.Long, java.lang.Long]()
  private val maxAcked = new AtomicLong(startOffset - 1)

  private val channels = Vector.fill(w.channels)(new Wire.Channel(host, grpcPort))
  private val http = new Wire.Http(host, httpPort)

  private val t0 = System.nanoTime()
  private val measureFrom = t0 + warmupNanos
  private val deadline = measureFrom + (seconds * 1e9).toLong

  private def problem(msg: String): Unit = { val _ = problems.add(msg) }

  private def op[T](f: => T): Option[T] = {
    attempted.incrementAndGet()
    try Some(f)
    catch {
      case scala.util.control.NonFatal(e) =>
        problem(s"request failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  private def sample(kind: String, id: Long, start: Long, end: Long, extra: Long = 0L): Unit =
    if (start >= measureFrom) { val _ = samples.add(Sample(kind, id, start, end, extra)) }

  // ------------------------------------------------------------------ tail

  private val delivered = new java.util.ArrayList[java.lang.Long]()
  @volatile private var tailCancelled = false

  private def onTail(r: Wire.Rec): Unit = {
    val now = System.nanoTime()
    delivered.synchronized { val _ = delivered.add(r.offset) }
    val id = Payload.id(r.value)
    val want = sent.get(id)
    if (want == null) problem(s"tail delivered offset ${r.offset} carrying unknown id $id")
    else Checks.samePayload(r.offset, r.value, want).foreach(m => problem(s"tail: $m"))
    sample("tail_lag", id, Payload.created(r.value), now, r.offset)
  }

  // ------------------------------------------------------------- producers

  private def produceOnce(ch: Wire.Channel, id: Long, created: Long): Option[Long] = {
    val payload = Payload.produce(seed, id, created)
    sent.put(id, payload)
    createdAt.put(id, created)
    op(ch.produce(payload)).map { off =>
      acked.put(id, off)
      maxAcked.accumulateAndGet(off, (a, b) => math.max(a, b))
      off
    }
  }

  private def closedProducer(i: Int): Unit = {
    val ch = channels(i % channels.size)
    val rnd = new SplittableRandom(seed * 7919L + i)
    var seq = 0L
    while (System.nanoTime() < deadline) {
      val id = Payload.produceId(i, seq)
      val start = System.nanoTime()
      produceOnce(ch, id, start).foreach(_ => sample("produce", id, start, System.nanoTime()))
      seq += 1
      LockSupport.parkNanos((-math.log(1 - rnd.nextDouble()) * w.thinkMillis * 1e6).toLong)
    }
  }

  /** Sends on a fixed schedule; latency counts from when each request was
    * due, so a stall also charges the requests queued behind it.
    */
  private def openLoopProducer(i: Int, rate: Double): Unit = {
    val ch = channels(i % channels.size)
    val gap = (1e9 / rate).toLong
    var seq = 0L
    var due = t0
    while (due < deadline) {
      val wait = due - System.nanoTime()
      if (wait > 0) LockSupport.parkNanos(wait)
      val id = Payload.produceId(i, seq)
      val sentAt = System.nanoTime()
      produceOnce(ch, id, due).foreach(_ => sample("produce", id, due, System.nanoTime(), sentAt - due))
      seq += 1
      due += gap
    }
  }

  // --------------------------------------------------------------- readers

  private def checkRecords(what: String, recs: Seq[Wire.Rec], from: Long, k: Int): Unit = {
    Checks.catchup(recs.map(_.offset), from, k).foreach(m => problem(s"$what: $m"))
    recs.foreach { r =>
      Checks.samePayload(r.offset, r.value, Payload.ingest(seed, r.offset)).foreach(m => problem(s"$what: $m"))
    }
  }

  private def reader(r: Int): Unit = {
    val ch = channels((w.closedProducers + r) % channels.size)
    val rnd = new SplittableRandom(seed * 1000003L + r)
    val ops = Iterator.continually(ReaderRound).flatten.drop(r * ReaderRound.size / w.readers)
    ops.takeWhile(_ => System.nanoTime() < deadline).foreach { o =>
      // No pause before the measured window: back-to-back operations get
      // the read paths compiled by the JIT before timing starts.
      val think = (-math.log(1 - rnd.nextDouble()) * w.readerThinkMillis * 1e6).toLong
      if (System.nanoTime() >= measureFrom) LockSupport.parkNanos(think)
      o match {
        case PointHot | PointCold =>
          val off = if (o == PointHot) rnd.nextLong(hotEnd) else rnd.nextLong(ingestEnd)
          val start = System.nanoTime()
          op(ch.consume(off)).foreach { rec =>
            sample(if (o == PointHot) "consume_hot" else "consume_cold", off, start, System.nanoTime())
            if (rec.offset != off) problem(s"consume($off) returned offset ${rec.offset}")
            Checks.samePayload(off, rec.value, Payload.ingest(seed, off)).foreach(problem)
          }
        case CatchupGrpc =>
          val from = rnd.nextLong(ingestEnd - K + 1)
          val start = System.nanoTime()
          op(ch.catchup(from, K)).foreach { recs =>
            sample("catchup_grpc", from, start, System.nanoTime())
            checkRecords("grpc catch-up", recs, from, K)
          }
        case o @ (CatchupHttp | CatchupHttpLarge) =>
          val k = if (o == CatchupHttp) K else KLarge
          val from = rnd.nextLong(ingestEnd - k + 1)
          val start = System.nanoTime()
          op(http.catchup(from, k)).foreach { recs =>
            sample(if (o == CatchupHttp) "catchup_http" else "catchup_http_10k", from, start, System.nanoTime())
            checkRecords("http catch-up", recs, from, k)
          }
      }
    }
  }

  // ------------------------------------------------------------------- run

  /** Drive the mix and check every reply; returns the summary JSON line.
    * The acknowledged `(id, offset, created)` triples go to `acksFile` for
    * the coordinator's read-back check.
    */
  def run(): String = {
    val tail = channels(0).tail(startOffset, onTail, t => if (!tailCancelled) problem(s"tail stream failed: ${t.getMessage}"))
    val producers =
      (0 until w.closedProducers).map(i => thread(s"producer-$i")(closedProducer(i))) ++
        (if (w.openLoopRate > 0) Seq(thread("producer-open")(openLoopProducer(w.closedProducers, w.openLoopRate)))
         else Nil)
    val readers = (0 until w.readers).map(r => thread(s"reader-$r")(reader(r)))
    (producers ++ readers).foreach(_.join())
    val through = maxAcked.get()
    System.err.println(f"perfbench: generator load stopped at ${(System.nanoTime() - t0) / 1e9}%.2f s; tail at ${delivered.synchronized(delivered.size)} of ${through - startOffset + 1}")

    // The tail must reach every acknowledged record.
    val settle = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    def seen = delivered.synchronized(delivered.size)
    while (seen < through - startOffset + 1 && System.nanoTime() < settle) Thread.sleep(5)
    tailCancelled = true
    tail.cancel("run over", null)
    val tailOffsets = delivered.synchronized(delivered.asScala.map(_.longValue).toVector)
    Checks.exactlyOnceInOrder(tailOffsets, startOffset, through).foreach(problem)

    channels.foreach(_.close())

    val ps = problems.asScala.toVector
    val shown = ps.take(20).map(m => "\"" + m.replace("\\", "\\\\").replace("\"", "'") + "\"").mkString(",")
    val producedBytes = sent.values.asScala.iterator.map(_.length.toLong).sum
    val aw = java.nio.file.Files.newBufferedWriter(acksFile)
    try acked.asScala.foreach { case (id, off) => aw.write(s"$id\t$off\t${createdAt.get(id)}\n") }
    finally aw.close()
    s"""{"attempted":${attempted.get},"failed":${ps.size},"problems":[$shown],""" +
      s""""acked":${acked.size},"delivered":${tailOffsets.size},"produced_bytes":$producedBytes,""" +
      s""""threads":${producers.size + readers.size},"connections":${channels.size + w.readers}}"""
  }

  private def thread(name: String)(body: => Unit): Thread = {
    val t = new Thread(() =>
      try body
      catch { case e: Throwable => problem(s"$name died: $e") }
    , name)
    t.start()
    t
  }
}
