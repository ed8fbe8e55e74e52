package perfbench

import java.nio.file.{Files, Paths}

import scala.util.Try

/** Where a run came from, and how busy the machine was around it.
  *
  * Co-tenant load is box busy time from `/proc/stat` minus the CPU time of
  * this process and all its descendants (the generator JVM), live or
  * already waited for, over the window. Load average would count the benchmark's own threads. The value
  * is recorded with the run; it never causes a run to be dropped.
  */
object Box {

  private lazy val clkTck: Double =
    Try {
      val p = new ProcessBuilder("getconf", "CLK_TCK").start()
      val v = new String(p.getInputStream.readAllBytes(), "UTF-8").trim.toDouble
      p.waitFor()
      v
    }.filter(_ > 0).getOrElse(100.0)

  /** Box busy seconds: every `cpu` column except idle and iowait. */
  def busySeconds(): Double = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    f.zipWithIndex.collect { case (v, i) if i != 3 && i != 4 => v }.sum / clkTck
  }

  /** CPU seconds of this process and every descendant: live ones by their
    * own times, exited ones that this process waited for (the generator
    * once its run is over) by this process's `cutime` and `cstime`.
    */
  def ownSeconds(): Double = {
    val procs = Option(new java.io.File("/proc").listFiles()).getOrElse(Array.empty).flatMap { d =>
      Try {
        val stat = new String(Files.readAllBytes(d.toPath.resolve("stat")), "UTF-8")
        val rest = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
        (d.getName.toLong, rest(1).toLong, rest(11).toLong + rest(12).toLong, rest(13).toLong + rest(14).toLong)
      }.toOption
    }
    val children = procs.groupBy(_._2).map { case (p, xs) => p -> xs.map(_._1) }
    val cpu = procs.map(p => p._1 -> p._3).toMap
    val self = ProcessHandle.current().pid()
    var sum = procs.find(_._1 == self).map(_._4).getOrElse(0L)
    val stack = scala.collection.mutable.Stack(self)
    while (stack.nonEmpty) {
      val pid = stack.pop()
      sum += cpu.getOrElse(pid, 0L)
      children.getOrElse(pid, Array.empty[Long]).foreach(stack.push)
    }
    sum / clkTck
  }

  final class Window {
    private val b0 = busySeconds()
    private val o0 = ownSeconds()
    private val t0 = System.nanoTime()

    /** Average cores used by this process tree since the window opened. */
    def ownCores(): Double = (ownSeconds() - o0) / ((System.nanoTime() - t0) / 1e9)

    /** Average cores used by other processes since the window opened. */
    def cotenantCores(): Double = {
      val wall = (System.nanoTime() - t0) / 1e9
      math.max(0.0, (busySeconds() - b0 - (ownSeconds() - o0)) / wall)
    }
  }

  def memTotalMb: Long =
    Try(
      Files.readAllLines(Paths.get("/proc/meminfo")).get(0).split("\\s+")(1).toLong / 1024
    ).getOrElse(-1L)

  def loadavg: String = Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8").trim).getOrElse("")
}
