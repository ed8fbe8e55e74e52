package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, SparkSession}

import graft.log.SparkLog
import graft.server.{HttpLogServer, LogService}
import graft.server.grpc.GrpcLogServer

/** Benchmark coordinator: hosts the log service under test, runs the
  * generator JVM against it, checks the outcome, and prints one JSON result
  * line last on stdout.
  *
  * {{{
  * perfbench.Main --workload <produce_tail|consume_catchup> --seed N --seconds S --trace 0|1 [--plant wrong_payload|gap]
  * }}}
  *
  * `--trace 0` reports the end-to-end metrics; `--trace 1` wraps the
  * service and the log in traced subclasses and reports per-layer metrics.
  * `--plant wrong_payload` corrupts the expected payload of one acknowledged
  * produce and `--plant gap` drops one acknowledgement, to show that the
  * checks catch them.
  */
object Main {

  /** Set-up repetitions per run; `setup_s` is their median. */
  val SetupReps = 15

  /** End-to-end metrics printed on the run line instead of the result:
    * over ten seeds on a shared 4-core machine their spread (interquartile
    * range over median) went above the largest regression bound a result
    * metric may carry (0.25) whenever other tenants' load rose during the
    * set; `perfbench/README.md` lists the measured spreads.
    */
  val Unbounded = Set(
    "produce_p50_ms", "produce_p90_ms", "tail_lag_p50_ms", "tail_lag_p90_ms",
    "consume_p90_ms", "catchup_http_10k_p50_ms"
  )

  /** Unmeasured traffic before the measured window, for JIT and caches. */
  val WarmupSeconds = 10.0

  final case class Serving(log: SparkLog, grpc: GrpcLogServer, http: HttpLogServer) {
    def stop(): Unit = { grpc.stop(); http.stop() }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val w = Workload.named(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val plant = opts.getOrElse("plant", "")
    val code =
      try run(w, seed, seconds, trace, plant)
      catch {
        case e: Throwable =>
          System.err.println(s"perfbench: run aborted: $e")
          e.printStackTrace()
          2
      }
    System.out.flush()
    Runtime.getRuntime.halt(code)
  }

  private def nanosToMs(n: Double): Double = n / 1e6

  private val born = System.nanoTime()

  /** Phase progress on stderr, seconds since the coordinator started. */
  private def phase(what: String): Unit =
    System.err.println(f"perfbench: ${(System.nanoTime() - born) / 1e9}%7.2f s  $what")

  def run(w: Workload, seed: Long, seconds: Double, trace: Boolean, plant: String): Int = {
    val nproc = Runtime.getRuntime.availableProcessors()
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val spark = SparkSession
      .builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", tmp.resolve("spark").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val counters = if (trace) Some(new SparkCounters) else None
    counters.foreach(spark.sparkContext.addSparkListener)
    spark.range(1000).selectExpr("sum(id)").collect()
    phase("spark session up")

    // ---------------------------------------------------------- ingest
    val dir = tmp.resolve("log").toString
    val perBatch = Workload.IngestRecords / Workload.IngestBatches
    var appendDfNanos = 0L
    var sinkNanos = 0L
    /** Writes records `[from, until)` as one batch of `parts` part files,
      * through `appendDF` for even `b` and the sink for odd; returns the
      * nanoseconds the write took.
      */
    def ingestBatch(into: String, b: Int, from: Long, until: Long, parts: Int): Long = {
      val s = seed
      val df = spark
        .range(from, until, 1, parts)
        .map((i: java.lang.Long) => Payload.ingest(s, i))(Encoders.BINARY)
        .toDF("value")
      val t = System.nanoTime()
      // The sink claims the writer epoch, fencing any earlier handle, so
      // each appendDF batch opens its own.
      if (b % 2 == 0) { val _ = SparkLog(spark, into).appendDF(df) }
      else df.write.format("graft").mode("append").save(into)
      System.nanoTime() - t
    }
    // Unmeasured warm-up of both write paths on a throwaway log, so that
    // `ingest_rps` times compiled code rather than the JIT.
    val warmDir = tmp.resolve("warmup-log").toString
    (0 until 2).foreach(b => ingestBatch(warmDir, b, b * perBatch / 8, (b + 1) * perBatch / 8, Workload.PartsPerBatch / 8))
    deleteTree(Paths.get(warmDir))
    phase("ingest warm-up done")
    if (trace) spark.sparkContext.setJobGroup(Trace.IngestGroup, "ingest")
    (0 until Workload.IngestBatches).foreach { b =>
      val n = ingestBatch(dir, b, b * perBatch, (b + 1) * perBatch, Workload.PartsPerBatch)
      if (b % 2 == 0) appendDfNanos += n else sinkNanos += n
      phase(f"ingest batch $b: ${n / 1e9}%.2f s")
    }
    if (trace) spark.sparkContext.clearJobGroup()
    phase("ingest done")
    val ingestRps = Workload.IngestRecords / ((appendDfNanos + sinkNanos) / 1e9)
    val ingestEnd = Workload.IngestRecords
    val hotEnd = Workload.HotParts * Workload.recordsPerPart

    // ----------------------------------------------------------- set-up
    // Open the serving handle, start both front ends and answer one
    // request; repeated, the median is `setup_s`.
    var serving: Serving = null
    val setups = (1 to SetupReps).map { _ =>
      if (serving != null) serving.stop()
      val t = System.nanoTime()
      val log = if (trace) new TracedSparkLog(spark, dir) else SparkLog(spark, dir)
      val opened = System.nanoTime()
      val svc = if (trace) new TracedLogService(log) else new LogService(log)
      val grpc = new GrpcLogServer(svc, anonymousSubject = "root", bindHost = Some("127.0.0.1")).start()
      val http = new HttpLogServer(svc, bindHost = Some("127.0.0.1")).start()
      val probe = new Wire.Channel("127.0.0.1", grpc.boundPort)
      try probe.consume(0L) finally probe.close()
      serving = Serving(log, grpc, http)
      ((System.nanoTime() - t) / 1e9, (opened - t) / 1e9)
    }
    val startOffset = serving.log.highestOffset + 1
    phase("set-up done")

    // -------------------------------------------------------------- run
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcBeans.map(_.getCollectionTime).sum
    val spark0 = counters.map(c => (c.all.jobs.get, c.all.tasks.get, c.all.cpuNanos.get, c.all.shuffleBytes.get, c.all.spillBytes.get))
    val box = new Box.Window
    val samplesFile = tmp.resolve("samples.tsv")
    val acksFile = tmp.resolve("acks.tsv")
    if (trace) { Trace.origin = System.nanoTime(); Trace.recording = true }
    val genSummary = runGenerator(w, seed, seconds, serving, startOffset, ingestEnd, hotEnd, samplesFile, acksFile)
    Trace.recording = false
    phase("generator done")
    val cotenant = box.cotenantCores()
    val ownCores = box.ownCores()
    Thread.sleep(300) // let the listener bus deliver the run's last events
    val spark1 = counters.map(c => (c.all.jobs.get, c.all.tasks.get, c.all.cpuNanos.get, c.all.shuffleBytes.get, c.all.spillBytes.get))
    val gcMs = (gcBeans.map(_.getCollectionTime).sum - gc0).toDouble
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    serving.stop()
    val problems = readBack(serving.log, seed, startOffset, acksFile, plant)
    phase("read-back done")

    val gen = new com.fasterxml.jackson.databind.ObjectMapper().readTree(genSummary)
    val samples = Files.readAllLines(samplesFile).asScala.iterator.map { l =>
      val f = l.split('\t')
      Gen.Sample(f(0), f(1).toLong, f(2).toLong, f(3).toLong, f(4).toLong)
    }.toVector
    val byKind = samples.groupBy(_.kind).withDefaultValue(Vector.empty)
    def lat(kinds: String*): Vector[Double] =
      kinds.flatMap(byKind).map(s => nanosToMs((s.end - s.start).toDouble)).toVector

    val attempted = gen.get("attempted").asLong() + gen.get("acked").asLong()
    val failed = gen.get("failed").asLong() + problems.size
    (gen.get("problems").elements().asScala.map(_.asText()) ++ problems.take(20))
      .foreach(p => System.err.println(s"perfbench: FAILED CHECK: $p"))

    // Percentiles, each printed with its sample count on the run line.
    val counts = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def pct(name: String, xs: Vector[Double], q: Double): (String, Double, String) = {
      val note = if (Stats.supported(xs.size, q)) s"n=${xs.size}" else s"n=${xs.size} (fewer than ${Stats.MinBeyond} beyond)"
      counts(name) = note
      (name, Stats.percentile(xs, q), "ms")
    }

    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val produce = lat("produce")
        Seq(
          ("setup_s", Stats.median(setups.map(_._1)), "s"),
          ("ingest_rps", ingestRps, "1/s"),
          pct("produce_p50_ms", produce, 0.5),
          pct("produce_p90_ms", produce, 0.9),
          ("produce_rps", perSecond(byKind("produce")), "1/s"),
          pct("tail_lag_p50_ms", lat("tail_lag"), 0.5),
          pct("tail_lag_p90_ms", lat("tail_lag"), 0.9),
          pct("consume_p50_ms", lat("consume_hot", "consume_cold"), 0.5),
          pct("consume_p90_ms", lat("consume_hot", "consume_cold"), 0.9),
          pct("catchup_grpc_p50_ms", lat("catchup_grpc"), 0.5),
          pct("catchup_http_p50_ms", lat("catchup_http"), 0.5),
          pct("catchup_http_10k_p50_ms", lat("catchup_http_10k"), 0.5)
        )
      } else
        layerMetrics(w, samples, byKind, setups.map(_._2), counters, spark0, spark1, appendDfNanos, sinkNanos, seed,
          startOffset, ingestEnd, dir, gen.get("produced_bytes").asLong(), gcMs, heapPeakMb, cotenant, pct)

    val provenance = Seq(
      "workload" -> s""""${w.name}"""",
      "seed" -> seed.toString,
      "seconds" -> seconds.toString,
      "trace" -> trace.toString,
      "commit" -> s""""${sys.props.getOrElse("perfbench.commit", "unknown")}"""",
      "source_sha256" -> s""""${sys.props.getOrElse("perfbench.source", "unknown")}"""",
      "nproc" -> nproc.toString,
      "mem_total_mb" -> Box.memTotalMb.toString,
      "java" -> s""""${sys.props("java.version")}"""",
      "spark" -> s""""${spark.version}"""",
      "cotenant_cores" -> f"$cotenant%.3f",
      "own_cores" -> f"$ownCores%.3f",
      "loadavg" -> s""""${Box.loadavg}"""",
      "generator_threads" -> gen.get("threads").asText(),
      "generator_connections" -> gen.get("connections").asText(),
      "acked" -> gen.get("acked").asText(),
      "tail_delivered" -> gen.get("delivered").asText()
    )
    val (unbounded, reported) = metrics.partition(m => !trace && Unbounded(m._1))
    def json(ms: Seq[(String, Double, String)]) =
      ms.map { case (k, v, u) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    val countsJson = counts.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    println(provenance.map { case (k, v) => s""""$k":$v""" }
      .mkString("{\"run\":{", ",", s"""},"samples":$countsJson,"unbounded":{${json(unbounded)}}}"""))
    spark.stop()
    phase("spark stopped")
    deleteTree(Paths.get(dir))
    phase("log deleted")

    // An end-to-end metric without samples means requests never completed.
    val empty = if (trace) Nil else metrics.collect { case (k, v, _) if v.isNaN => k }
    empty.foreach(k => System.err.println(s"perfbench: FAILED CHECK: no samples for $k"))
    val failedAll = failed + empty.size
    println(s"""{"correct":${failedAll == 0},"attempted":$attempted,"failed":$failedAll,"metrics":{${json(reported)}}}""")
    if (failedAll == 0) 0 else 1
  }

  /** After the run: acknowledged offsets form one contiguous range from
    * the run's first offset, and each reads back exactly the payload its
    * producer sent (regenerated from the seed, id and creation stamp).
    * `plant` corrupts one expectation, to show that the checks catch it.
    */
  private def readBack(log: SparkLog, seed: Long, startOffset: Long, acksFile: Path, plant: String): Seq[String] = {
    val all = Files.readAllLines(acksFile).asScala.map { l =>
      val f = l.split('\t')
      (f(0).toLong, f(1).toLong, f(2).toLong)
    }.sortBy(_._2).toVector
    val acks = if (plant == "gap" && all.size > 2) all.patch(all.size / 2, Nil, 1) else all
    val through = all.lastOption.map(_._2).getOrElse(startOffset - 1)
    val stored = log.range(startOffset, through + 1).select("offset", "value").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    val order = Checks.contiguous(acks.map(_._2)) ++
      acks.headOption.filter(_._2 != startOffset).map(a => s"first acknowledged offset ${a._2}, expected $startOffset")
    val payloads = acks.zipWithIndex.flatMap { case ((id, off, created), i) =>
      val want = Payload.produce(seed, id, created)
      if (plant == "wrong_payload" && i == 0) want(want.length - 1) = (want(want.length - 1) ^ 1).toByte
      stored.get(off) match {
        case None      => Some(s"acknowledged offset $off is missing on read-back")
        case Some(got) => Checks.samePayload(off, got, want).map("read-back: " + _)
      }
    }
    order ++ payloads
  }

  /** Spans and the generator's samples of a traced run, one per line
    * (`name id start end extra`), to `.bench_build/traces/`.
    */
  private def writeTrace(w: Workload, seed: Long, spans: Seq[Trace.Span], samples: Seq[Gen.Sample]): Unit = {
    val dir = Paths.get(".bench_build", "traces")
    Files.createDirectories(dir)
    val out = Files.newBufferedWriter(dir.resolve(s"${w.name}-seed$seed.tsv"))
    try {
      spans.foreach(s => out.write(s"${s.name}\t${s.id}\t${s.start}\t${s.end}\t${s.extra}\n"))
      samples.foreach(s => out.write(s"client.${s.kind}\t${s.id}\t${s.start}\t${s.end}\t${s.extra}\n"))
    } finally out.close()
  }

  /** Acknowledged requests per second over the span from the first send
    * to the last ack in the measured window.
    */
  private def perSecond(xs: Seq[Gen.Sample]): Double =
    if (xs.size < 2) 0.0 else xs.size / ((xs.map(_.end).max - xs.map(_.start).min) / 1e9)

  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString

  private def runGenerator(
      w: Workload,
      seed: Long,
      seconds: Double,
      s: Serving,
      startOffset: Long,
      ingestEnd: Long,
      hotEnd: Long,
      out: Path,
      acks: Path
  ): String = {
    val java = Paths.get(sys.props("java.home"), "bin", "java").toString
    val opens = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.filter(_.startsWith("--add-opens="))
    val cmd = Seq(java, "-Xms512m", "-Xmx512m", s"-Djava.io.tmpdir=${sys.props("java.io.tmpdir")}") ++ opens ++ Seq(
      "-cp", sys.props("java.class.path"), "perfbench.Gen",
      s"workload=${w.name}", s"seed=$seed", s"warmup=$WarmupSeconds", s"seconds=$seconds",
      "host=127.0.0.1", s"grpc=${s.grpc.boundPort}", s"http=${s.http.boundPort}",
      s"start=$startOffset", s"ingestEnd=$ingestEnd", s"hotEnd=$hotEnd", s"out=$out", s"acks=$acks"
    )
    val p = new ProcessBuilder(cmd: _*).redirectError(ProcessBuilder.Redirect.INHERIT).start()
    val stdout = scala.concurrent.Future(new String(p.getInputStream.readAllBytes(), "UTF-8"))(
      scala.concurrent.ExecutionContext.global
    )
    if (!p.waitFor((WarmupSeconds + seconds + 90).toLong, TimeUnit.SECONDS)) {
      p.destroyForcibly().waitFor()
      throw new IllegalStateException("generator did not finish in time")
    }
    val text = scala.concurrent.Await.result(stdout, scala.concurrent.duration.Duration(30, "s"))
    if (p.exitValue() != 0) throw new IllegalStateException(s"generator exited with ${p.exitValue()}")
    text.linesIterator.filter(_.startsWith("{")).toSeq.last
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally all.close()
    }

  // -------------------------------------------------------------- layers

  private def layerMetrics(
      w: Workload,
      samples: Vector[Gen.Sample],
      byKind: Map[String, Vector[Gen.Sample]],
      opens: Seq[Double],
      counters: Option[SparkCounters],
      spark0: Option[(Long, Long, Long, Long, Long)],
      spark1: Option[(Long, Long, Long, Long, Long)],
      appendDfNanos: Long,
      sinkNanos: Long,
      seed: Long,
      startOffset: Long,
      ingestEnd: Long,
      dir: String,
      producedBytes: Long,
      gcMs: Double,
      heapPeakMb: Double,
      cotenant: Double,
      pct: (String, Vector[Double], Double) => (String, Double, String)
  ): Seq[(String, Double, String)] = {
    val spans = Trace.spans.asScala.toVector
    writeTrace(w, seed, spans, samples)
    val spansBy = spans.groupBy(s => (s.name, s.id)).withDefaultValue(Vector.empty)
    val spanKind = spans.groupBy(_.name).withDefaultValue(Vector.empty)
    def dur(name: String): Vector[Double] = spanKind(name).map(s => nanosToMs((s.end - s.start).toDouble))
    def onSamples(kind: String*): Vector[Gen.Sample] = kind.flatMap(byKind).filter(s => Trace.on(s.start)).toVector

    /** Client interval minus the child spans of the same request inside it. */
    def selfMs(kinds: Seq[String], child: String): Vector[Double] =
      onSamples(kinds: _*).flatMap { s =>
        val kids = spansBy((child, s.id)).filter(c => c.start >= s.start && c.end <= s.end)
        if (kids.isEmpty) None else Some(nanosToMs(Stats.selfTime(s.start, s.end, kids.map(c => (c.start, c.end))).toDouble))
      }

    // HTTP catch-up: the service's busy time is interleaved with the HTTP
    // layer's encoding, so self time is the client interval minus the
    // service time spent inside it.
    val pullsBy = Trace.pulls.asScala.toVector.groupBy(_.offset).withDefaultValue(Vector.empty)
    def serviceBusy(kind: String): Vector[(Gen.Sample, Long)] =
      onSamples(kind).flatMap { s =>
        pullsBy(s.id).find(p => p.start >= s.start && p.start <= s.end).map(p => (s, p.busyUntil(s.end)))
      }
    val streamBusy = serviceBusy("catchup_http") ++ serviceBusy("catchup_http_10k")
    val httpSelf = serviceBusy("catchup_http_10k").map { case (s, b) => nanosToMs((s.end - s.start - b).toDouble) }

    /** A point read's `log.read` span, found through its client request. */
    def readsUnder(kind: String): Vector[Double] =
      onSamples(kind).flatMap { s =>
        spansBy(("log.read", s.id)).find(c => c.start >= s.start && c.end <= s.end)
          .map(c => nanosToMs((c.end - c.start).toDouble))
      }

    // Tracing overhead: on-slice minus off-slice medians of end-to-end latencies.
    def overhead(kinds: String*): Double = {
      val xs = kinds.flatMap(byKind).toVector
      val (on, off) = xs.partition(s => Trace.on(s.start))
      def med(v: Vector[Gen.Sample]) = Stats.median(v.map(s => nanosToMs((s.end - s.start).toDouble)))
      med(on) - med(off)
    }

    // On-disk shape of the log after the run.
    val segDirs = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty).filter(_.getName.startsWith("segment="))
    val files = segDirs.map(d => d -> Option(d.listFiles()).getOrElse(Array.empty).filter(_.isFile)).toMap
    val producedParts = files.collect {
      case (d, fs) if d.getName.stripPrefix("segment=").toLong >= startOffset => fs.count(_.getName.endsWith(".parquet"))
    }.sum
    val diskBytes = {
      val all = Files.walk(Paths.get(dir))
      try all.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally all.close()
    }
    val ingestBytes = (0L until ingestEnd).iterator.map(o => Payload.ingest(seed, o).length.toLong).sum
    val acked = (Trace.committedRecords.get).max(1L)

    val sparkRun = for (s0 <- spark0; s1 <- spark1)
      yield (s1._1 - s0._1, s1._2 - s0._2, s1._3 - s0._3, s1._4 - s0._4, s1._5 - s0._5)
    val (jobs, tasks, cpu, shuffle, spill) = sparkRun.getOrElse((0L, 0L, 0L, 0L, 0L))
    val catchupCalls = Trace.catchups.get
    val catchupGroup = counters.map(_.group(Trace.CatchupGroup))
    val ingestGroup = counters.map(_.group(Trace.IngestGroup))
    val late = byKind("produce").filter(_ => w.openLoopRate > 0).map(s => nanosToMs(s.extra.toDouble))
    val perBatch = Workload.IngestRecords / Workload.IngestBatches
    val halves = Workload.IngestBatches / 2

    Seq(
      ("grpc.produce_self_p50_ms", Stats.median(selfMs(Seq("produce"), "service.produce")), "ms"),
      ("grpc.consume_self_p50_ms", Stats.median(selfMs(Seq("consume_hot", "consume_cold"), "service.consume")), "ms"),
      pct("service.produce_p50_ms", dur("service.produce"), 0.5),
      pct("service.produce_p90_ms", dur("service.produce"), 0.9),
      pct("service.consume_p50_ms", dur("service.consume"), 0.5),
      pct("service.consume_p90_ms", dur("service.consume"), 0.9),
      ("service.consume_stream_p50_ms", Stats.median(streamBusy.map(b => nanosToMs(b._2.toDouble))), "ms"),
      ("http.catchup_self_p50_ms", Stats.median(httpSelf), "ms"),
      pct("log.append_p50_ms", dur("log.append"), 0.5),
      pct("log.append_p90_ms", dur("log.append"), 0.9),
      ("log.append_wait_p50_ms", Stats.median(spanKind("log.append").map(s => nanosToMs(s.extra.toDouble))), "ms"),
      ("log.append_wait_p90_ms", Stats.percentile(spanKind("log.append").map(s => nanosToMs(s.extra.toDouble)), 0.9), "ms"),
      ("log.records_per_commit", Trace.committedRecords.get.toDouble / Trace.commits.get.max(1L), "count"),
      ("log.parts_per_1k_records", producedParts * 1000.0 / acked, "count"),
      ("log.max_segment_files", files.values.map(_.length).maxOption.getOrElse(0).toDouble, "count"),
      ("log.disk_bytes_per_user_byte", diskBytes.toDouble / (ingestBytes + producedBytes), "ratio"),
      pct("log.read_p50_ms", dur("log.read"), 0.5),
      pct("log.read_p90_ms", dur("log.read"), 0.9),
      ("log.read_hot_p50_ms", Stats.median(readsUnder("consume_hot")), "ms"),
      ("log.read_cold_p50_ms", Stats.median(readsUnder("consume_cold")), "ms"),
      ("log.append_df_rps", halves * perBatch / (appendDfNanos / 1e9), "1/s"),
      ("log.sink_rps", halves * perBatch / (sinkNanos / 1e9), "1/s"),
      ("log.open_s", Stats.median(opens), "s"),
      ("spark.jobs", jobs.toDouble, "count"),
      ("spark.tasks", tasks.toDouble, "count"),
      ("spark.task_cpu_s", cpu / 1e9, "s"),
      ("spark.shuffle_mb", shuffle / 1048576.0, "MB"),
      ("spark.spill_mb", spill / 1048576.0, "MB"),
      ("spark.jobs_per_http_catchup", catchupGroup.map(_.jobs.get.toDouble / catchupCalls.max(1)).getOrElse(0.0), "count"),
      ("spark.tasks_per_http_catchup", catchupGroup.map(_.tasks.get.toDouble / catchupCalls.max(1)).getOrElse(0.0), "count"),
      ("spark.jobs_per_ingest_batch", ingestGroup.map(_.jobs.get.toDouble / Workload.IngestBatches).getOrElse(0.0), "count"),
      ("jvm.gc_pause_ms", gcMs, "ms"),
      ("jvm.heap_peak_mb", heapPeakMb, "MB"),
      ("gen.late_p90_ms", if (late.isEmpty) 0.0 else Stats.percentile(late, 0.9), "ms"),
      ("gen.cotenant_cores", cotenant, "cores"),
      ("trace.overhead_produce_p50_ms", overhead("produce"), "ms"),
      ("trace.overhead_consume_p50_ms", overhead("consume_hot", "consume_cold"), "ms"),
      ("trace.overhead_tail_lag_p50_ms", overhead("tail_lag"), "ms"),
      ("trace.overhead_catchup_grpc_p50_ms", overhead("catchup_grpc"), "ms"),
      ("trace.overhead_catchup_http_p50_ms", overhead("catchup_http"), "ms")
    )
  }
}
