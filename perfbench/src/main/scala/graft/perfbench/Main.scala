package graft.perfbench

import graft.core.GraftSession
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** The benchmark's JVM side. `run.py` launches it once per run:
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --data <sf dir> --out <run dir>
  * Main --dump-oracle <file>
  * }}}
  *
  * It writes raw samples to `<run dir>/result.json` (and, traced, the
  * spans to `<run dir>/trace.json`); `run.py` turns them into metrics and
  * checks the outputs. The load comes from this process's main thread
  * alone: one closed-loop client, or the open-loop frame generator. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
                        traced: Boolean, data: String, out: Path)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    kv.get("dump-oracle") match {
      case Some(file) => dumpOracle(Paths.get(file))
      case None =>
        val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
          kv("trace") == "1", kv("data"), Paths.get(kv("out")))
        require(Workloads.names.contains(a.workload), s"unknown workload ${a.workload}")
        run(a)
    }
  }

  private def run(a: Args): Unit = {
    Files.createDirectories(a.out)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val trace = if (a.traced) Some(new Trace) else None
    val result = mutable.ArrayBuffer[(String, Any)](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "traced" -> a.traced, "jvm_start_ms" -> jvmStartMs,
      "cores" -> Runtime.getRuntime.availableProcessors, "steal_limit" -> StealLimit)
    val spark = trace match {
      case Some(t) => t.span("core.session")(session(a.out))
      case None    => session(a.out)
    }
    trace.foreach(Trace.install(spark, _))
    try {
      result ++= (if (a.workload == "ingest") Ingest.run(spark, a, trace)
                  else Closed.run(spark, a, Workloads.names(a.workload), trace))
    } finally {
      // a stream still active here was leaked by the workload itself
      val leaked = spark.streams.active.map { q => q.stop(); Option(q.name).getOrElse(q.id.toString) }
      result += "leaked_streams" -> leaked.toSeq
      org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      trace.foreach(_.write(a.out.resolve("trace.json")))
      spark.stop()
      result += "peak_rss_kb" -> peakRssKb()
      Files.writeString(a.out.resolve("result.json"), Json.obj(result.toSeq: _*))
    }
  }

  /** The engine's own session factory at local[cores]; the harness adds
    * only where Spark keeps its scratch files and how many progress
    * reports a stream retains (the untraced ingest run reads batch ends
    * from them). */
  private def session(out: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", Files.createDirectories(out.resolve("spark-local")).toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** (steal, non-idle) jiffies of the whole machine from `/proc/stat`:
    * time the hypervisor ran other guests on this guest's CPUs, and the
    * time the guest's CPUs had work (idle and iowait excluded; steal,
    * which the hypervisor counts only on a runnable CPU, included). */
  def cpuJiffies(): (Long, Long) = {
    val f = Paths.get("/proc/stat")
    if (!Files.exists(f)) (0L, 0L)
    else {
      val cols = Files.readAllLines(f).get(0).trim.split("\\s+").drop(1).map(_.toLong).take(8)
      // user nice system idle iowait irq softirq steal
      (cols(7), cols.sum - cols(3) - cols(4))
    }
  }

  /** A timing sample that lost more than this share of its runnable time
    * to other guests measures the neighbours, not the program: it is
    * slowed by about that share, and a tenth is under half of the
    * tightest bound. Such samples are left out of the timing metrics
    * while at least half of a run's samples remain, and a run keeps
    * measuring, up to half again its seconds (which bounds the run time),
    * while fewer than half are calm.
    * The share is of runnable time, not of the whole machine's, so that
    * a query that keeps four cores busy and one that keeps one busy are
    * judged alike under the same contention. */
  val StealLimit = 0.10

  /** Share of the guest's runnable CPU time stolen since `from`. */
  def stealSince(from: (Long, Long)): Double = {
    val (s, busy) = cpuJiffies()
    if (busy == from._2) 0.0 else (s - from._1).toDouble / (busy - from._2)
  }

  /** Heap still in use after a full collection: what the workload keeps
    * live, as opposed to the peak resident set, which moves with when the
    * collector happens to run. */
  def liveHeapBytes(): Long = {
    System.gc()
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** Peak resident set of this JVM (Linux `VmHWM`), in kB. */
  private def peakRssKb(): Long = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) -1L
    else Files.readAllLines(status).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
  }

  /** Oracle SQL of every query the workloads time, for the script that
    * computes the expected outputs. */
  private def dumpOracle(file: Path): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    val entries = Workloads.names.values.flatten.toSeq.distinct.sorted
      .map(n => n -> oracle.get(n))
    Files.writeString(file, Json.value(entries.toMap) + "\n")
  }
}
