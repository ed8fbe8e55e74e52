package perfbench

/** Tests of the benchmark's own arithmetic and checkers, each with a
  * planted fault that must be caught. Exits non-zero on the first failure.
  *
  * {{{ python3 perfbench/run.py --selftest }}}
  */
object SelfTest {
  private var passed = 0

  private def check(name: String)(cond: Boolean): Unit =
    if (cond) passed += 1
    else { System.err.println(s"selftest FAILED: $name"); sys.exit(1) }

  def main(args: Array[String]): Unit = {
    // Percentiles: nearest rank over raw samples.
    val xs = (1 to 1000).map(_.toDouble)
    check("p50 of 1..1000")(Stats.percentile(xs, 0.5) == 500.0)
    check("p99 of 1..1000")(Stats.percentile(xs, 0.99) == 990.0)
    check("p99 leaves 10 beyond at n=1000")(Stats.beyond(1000, 0.99) == 10 && Stats.supported(1000, 0.99))
    check("p99 unsupported at n=999")(!Stats.supported(999, 0.99))
    check("p90 supported at n=100")(Stats.supported(100, 0.9) && !Stats.supported(99, 0.9))
    check("percentile ignores input order")(Stats.percentile(xs.reverse, 0.9) == 900.0)
    check("single sample")(Stats.percentile(Seq(7.0), 0.99) == 7.0)
    check("no samples")(Stats.percentile(Nil, 0.5).isNaN)

    // Self time: parent minus the union of clipped children.
    check("no children")(Stats.selfTime(0, 100, Nil) == 100)
    check("one child")(Stats.selfTime(0, 100, Seq((10L, 30L))) == 80)
    check("overlapping children count once")(Stats.selfTime(0, 100, Seq((10L, 30L), (20L, 50L))) == 60)
    check("disjoint children")(Stats.selfTime(0, 100, Seq((10L, 20L), (40L, 60L))) == 70)
    check("children clipped to parent")(Stats.selfTime(0, 100, Seq((-50L, 10L), (90L, 200L))) == 80)
    check("nested children")(Stats.selfTime(0, 100, Seq((10L, 90L), (20L, 30L))) == 20)

    // Contiguity of acknowledged offsets.
    check("contiguous passes")(Checks.contiguous(Seq(5L, 3L, 4L, 6L)).isEmpty)
    check("planted gap caught")(Checks.contiguous(Seq(3L, 4L, 6L)).exists(_.contains("5 to 5 missing")))
    check("planted duplicate caught")(Checks.contiguous(Seq(3L, 4L, 4L, 5L)).exists(_.contains("twice")))

    // Tail: every record once, in order.
    check("tail in order passes")(Checks.exactlyOnceInOrder(Seq(10L, 11L, 12L), 10, 12).isEmpty)
    check("tail gap caught")(Checks.exactlyOnceInOrder(Seq(10L, 12L), 10, 12).nonEmpty)
    check("tail duplicate caught")(Checks.exactlyOnceInOrder(Seq(10L, 11L, 11L, 12L), 10, 12).nonEmpty)
    check("tail reorder caught")(Checks.exactlyOnceInOrder(Seq(10L, 12L, 11L), 10, 12).nonEmpty)
    check("tail short caught")(Checks.exactlyOnceInOrder(Seq(10L, 11L), 10, 12).nonEmpty)

    // Catch-up: contiguous from `from`, at least k.
    check("catch-up passes")(Checks.catchup(Seq(7L, 8L, 9L, 10L), 7, 3).isEmpty)
    check("catch-up gap caught")(Checks.catchup(Seq(7L, 9L, 10L), 7, 3).nonEmpty)
    check("catch-up wrong start caught")(Checks.catchup(Seq(8L, 9L, 10L), 7, 3).nonEmpty)
    check("catch-up short caught")(Checks.catchup(Seq(7L, 8L), 7, 3).nonEmpty)

    // Payloads: regenerated from the seed, exact bytes compared.
    val p = Payload.ingest(42L, 1234L)
    check("ingest payload is deterministic")(java.util.Arrays.equals(p, Payload.ingest(42L, 1234L)))
    check("seed changes payload")(!java.util.Arrays.equals(p, Payload.ingest(43L, 1234L)))
    check("payload carries its id")(Payload.id(p) == 1234L)
    check("payload sizes in range")((0L until 2000L).forall { o =>
      val n = Payload.ingest(7L, o).length
      n >= Payload.IngestMin && n <= Payload.IngestMax
    })
    check("same payload passes")(Checks.samePayload(1234L, p.clone(), p).isEmpty)
    val wrong = p.clone()
    wrong(wrong.length - 1) = (wrong(wrong.length - 1) ^ 1).toByte
    check("planted wrong payload caught")(Checks.samePayload(1234L, wrong, p).nonEmpty)
    check("missing payload caught")(Checks.samePayload(1234L, null, p).nonEmpty)
    val q = Payload.produce(42L, Payload.produceId(2, 9), 123456789L)
    check("produce payload header")(Payload.id(q) == Payload.produceId(2, 9) && Payload.created(q) == 123456789L)
    check("produce ids sit above ingest offsets")(Payload.produceId(0, 0) > (1L << 40))

    println(s"selftest: $passed checks passed")
  }
}
