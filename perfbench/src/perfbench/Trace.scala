package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.log.{LogRecord, SparkLog}
import graft.server.{ConsumeRequest, ConsumeResponse, LogService, ProduceRequest, ProduceResponse}

/** Spans recorded around calls into the program's layers, kept in memory
  * until the run ends.
  *
  * A traced run alternates half-second slices with tracing on and off, so
  * one run yields both the per-layer numbers and the tracing overhead (the
  * end-to-end medians of requests started in on-slices minus those started
  * in off-slices) under the same box conditions.
  */
object Trace {
  final case class Span(name: String, id: Long, start: Long, end: Long, extra: Long)

  val SliceNanos: Long = 500L * 1000 * 1000

  /** Start of the sliced window; spans are recorded only while `recording`. */
  @volatile var origin: Long = Long.MaxValue
  @volatile var recording = false

  /** Whether a request started at `t` fell in an on-slice. */
  def on(t: Long): Boolean = t >= origin && ((t - origin) / SliceNanos) % 2 == 1

  val spans = new ConcurrentLinkedQueue[Span]()

  /** Appends through `SparkLog.append` and records they carried. */
  val commits = new AtomicLong()
  val committedRecords = new AtomicLong()

  /** Calls into `LogService.consumeStream` (the HTTP catch-up). */
  val catchups = new AtomicLong()

  /** One `consumeStream` call: after each pull, the time and the busy
    * time inside the service so far. The HTTP layer stops pulling once its
    * client has gone, so the client's interval decides which pulls count.
    */
  final class Pulls(val offset: Long, val start: Long) {
    val at = new scala.collection.mutable.ArrayBuilder.ofLong
    val busy = new scala.collection.mutable.ArrayBuilder.ofLong

    /** Busy nanoseconds up to the last pull that ended by `end`. */
    def busyUntil(end: Long): Long = {
      val ts = at.result()
      val bs = busy.result()
      var i = ts.length - 1
      while (i >= 0 && ts(i) > end) i -= 1
      if (i < 0) 0L else bs(i)
    }
  }
  val pulls = new ConcurrentLinkedQueue[Pulls]()

  def record(name: String, id: Long, start: Long, end: Long, extra: Long = 0L): Unit =
    if (recording && on(start)) { val _ = spans.add(Span(name, id, start, end, extra)) }

  val CatchupGroup = "perfbench-http-catchup"
  val IngestGroup = "perfbench-ingest"
}

/** `SparkLog` with spans around append and read. The wrapper takes the
  * log's own (reentrant) monitor before delegating, so the span's start to
  * monitor entry is the wait for the monitor and the whole span includes it.
  */
class TracedSparkLog(spark: SparkSession, dir: String) extends SparkLog(spark, dir) {
  override def append(values: Seq[Array[Byte]]): Long = {
    val start = System.nanoTime()
    this.synchronized {
      val entered = System.nanoTime()
      val first = super.append(values)
      val id = values.headOption.filter(v => v != null && v.length >= Payload.HeaderBytes).map(Payload.id).getOrElse(-1L)
      Trace.record("log.append", id, start, System.nanoTime(), entered - start)
      Trace.commits.incrementAndGet()
      Trace.committedRecords.addAndGet(values.size.toLong)
      first
    }
  }

  override def read(offset: Long): LogRecord = {
    val start = System.nanoTime()
    val r = super.read(offset)
    Trace.record("log.read", offset, start, System.nanoTime())
    r
  }
}

/** `LogService` with spans around produce, consume and the catch-up scan. */
class TracedLogService(log: SparkLog) extends LogService(log) {
  override def produce(subject: String, req: ProduceRequest): ProduceResponse = {
    val start = System.nanoTime()
    val r = super.produce(subject, req)
    Trace.record("service.produce", Payload.id(req.value), start, System.nanoTime())
    r
  }

  override def consume(subject: String, req: ConsumeRequest): ConsumeResponse = {
    val start = System.nanoTime()
    val r = super.consume(subject, req)
    Trace.record("service.consume", req.offset, start, System.nanoTime())
    r
  }

  /** Records the service's busy time (the call, and every pull on its
    * iterator, which runs the Spark jobs) apart from the HTTP layer's
    * encoding and flushing between pulls.
    */
  override def consumeStream(subject: String, offset: Long): Iterator[LogRecord] = {
    val start = System.nanoTime()
    Trace.catchups.incrementAndGet()
    val sc = log.spark.sparkContext
    sc.setJobGroup(Trace.CatchupGroup, "http catch-up")
    val inner = super.consumeStream(subject, offset)
    val p = new Trace.Pulls(offset, start)
    if (Trace.recording && Trace.on(start)) Trace.pulls.add(p)
    var busy = System.nanoTime() - start
    def pulled[T](f: => T): T = {
      val t = System.nanoTime()
      val r = f
      val now = System.nanoTime()
      busy += now - t
      p.at += now
      p.busy += busy
      r
    }
    new Iterator[LogRecord] {
      def hasNext: Boolean = {
        val h = pulled(inner.hasNext)
        if (!h) sc.clearJobGroup()
        h
      }
      def next(): LogRecord = pulled(inner.next())
    }
  }
}

/** Spark work per job group: jobs, tasks, task CPU, shuffle and spill. */
final class SparkCounters extends SparkListener {
  final class Totals {
    val jobs = new AtomicLong()
    val tasks = new AtomicLong()
    val cpuNanos = new AtomicLong()
    val shuffleBytes = new AtomicLong()
    val spillBytes = new AtomicLong()
  }
  val all = new Totals
  private val groups = new java.util.concurrent.ConcurrentHashMap[String, Totals]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Integer, String]()

  def group(g: String): Totals = groups.computeIfAbsent(g, _ => new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    all.jobs.incrementAndGet()
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      group(g).jobs.incrementAndGet()
      e.stageIds.foreach(s => stageGroup.put(s, g))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val ts = Seq(all) ++ Option(stageGroup.get(e.stageId)).map(group)
    val m = Option(e.taskMetrics)
    ts.foreach { t =>
      t.tasks.incrementAndGet()
      m.foreach { m =>
        t.cpuNanos.addAndGet(m.executorCpuTime)
        t.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead)
        t.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }
}
