package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession

import graft.Sessions

/** The benchmark JVM: sets up (session + fixture), runs one
  * workload and writes the raw run record as JSON. Metrics are derived
  * from the record by perfbench/run.py.
  *
  * usage: graftbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <out.json>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, out) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt

    // set-up, once and cold: from JVM start until the session is ready
    // and the fixture tables the workload reads are generated
    val t0 = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    val spark = Sessions.local(cpus = cpus.toString, appName = s"perfbench-$workload")
    val t1 = Clock.nowUs()
    val fixture = s"$work/fixture"
    Fixture.generate(spark, fixture,
      if (workload == "lake_ingest") LakeWorkload.FixtureTables else graft.Tables.names.toSet)
    val t2 = Clock.nowUs()
    val setup = Map("setup_s" -> (t2 - t0) / 1e6, "setup_session_s" -> (t1 - t0) / 1e6,
      "setup_fixture_s" -> (t2 - t1) / 1e6)
    // taken with the session idle, before any workload thread starts
    val env = Probe.env(cpus)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    val body: Map[String, Any] = workload match {
      case w if BatchWorkload.workloads.contains(w) =>
        // a fixed pass count per --seconds, so every run of a workload
        // has the same number of latency samples
        val passes = math.max(2, math.round(seconds / 3.0).toInt)
        BatchWorkload.run(spark, w, fixture, seed, passes, traced)
      case "lake_ingest" =>
        // six warm-up commits, then the reference rate for latency: 20
        // docs/s, a commit every 2 s, so a trigger (~1.0-1.3 s on 4
        // cores) ends before the next commit lands and latency does not
        // queue. A traced run adds the ladder: 1,280, 2,560 and 5,120
        // docs/s, 6 s each, a commit every 750 ms. On 4 cores the stream
        // stops keeping up near 5,000 docs/s, where one trigger takes ~3 s.
        val ref = 20.0
        val warmup = LakeWorkload.Phase("warmup", ref, 12.0)
        val phases = Seq(warmup, LakeWorkload.Phase("reference", ref, seconds))
        val ladder = warmup +: Seq(64, 128, 256).map(k =>
          LakeWorkload.Phase(s"x$k", ref * k, 6.0, commitEveryMs = 750.0))
        LakeWorkload.run(spark, s"$work/lake", fixture, seed, phases, ladder, traced)
      case other => sys.error(s"unknown workload $other")
    }
    val record = Map("workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "traced" -> traced, "cpus" -> cpus, "env" -> env,
      "rss_peak_mb" -> Probe.rssPeakMb()) ++ setup ++ body ++
      (if (traced) Trace.record() else Map.empty[String, Any])
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(out), record)
    spark.stop()
  }
}
