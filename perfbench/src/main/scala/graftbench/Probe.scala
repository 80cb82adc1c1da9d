package graftbench

import java.util.concurrent.CountDownLatch

/** Environment probe recorded with every result, taken after set-up with
  * the Spark session idle: 1-minute load average, how many other JVMs run on the
  * machine, and two fixed CPU loops — one on a single thread and one on
  * `cpus` threads at once (the wall time of the slowest). On an idle
  * machine the two read alike; CPU quotas or busy neighbours inflate the
  * parallel one. */
object Probe {
  private def spin(): Long = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 30000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }

  private def timedMs(threads: Int): Double = {
    val start = new CountDownLatch(1)
    val done = new CountDownLatch(threads)
    val sink = new java.util.concurrent.atomic.AtomicLong()
    (0 until threads).foreach { _ =>
      val t = new Thread(() => { start.await(); sink.addAndGet(spin()); done.countDown() })
      t.setDaemon(true)
      t.start()
    }
    val t0 = System.nanoTime()
    start.countDown()
    done.await()
    (System.nanoTime() - t0) / 1e6
  }

  private def best(threads: Int): Double = {
    timedMs(threads) // warm-up
    math.min(timedMs(threads), timedMs(threads))
  }

  def env(cpus: Int): Map[String, Any] = {
    val load1 = try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split(" ")(0).toDouble catch { case _: Throwable => -1.0 }
    val self = ProcessHandle.current()
    val mine = Iterator.iterate(Option(self))(_.flatMap(h =>
      if (h.parent().isPresent) Some(h.parent().get) else None))
      .takeWhile(_.isDefined).map(_.get.pid()).toSet
    val otherJvms = ProcessHandle.allProcesses().filter { h =>
      !mine.contains(h.pid()) &&
        h.info().command().map[Boolean](_.endsWith("/java")).orElse(false)
    }.count()
    Map("load1" -> load1, "other_jvms" -> otherJvms,
      "cpu_probe_1t_ms" -> best(1), "cpu_probe_nt_ms" -> best(cpus),
      "probe_threads" -> cpus)
  }

  /** Peak resident set of this JVM in MiB (VmHWM). */
  def rssPeakMb(): Double = try {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024.0
  } catch { case _: Throwable => -1.0 }
}
