package graft.perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Closed-loop workloads: one client runs the workload's query list,
  * each query's next pass only after the previous query finished.
  *
  *   1. warm-up: every query twice (JIT, codegen, class loading and the
  *      engine's per-session staging), part of set-up time. The first
  *      executions are the output check: outside the timed region, each
  *      result is written as parquet for `run.py` to compare with the
  *      expected row count and content hash;
  *   2. timed: whole passes, each in a seed-shuffled order, until the
  *      run's seconds are spent. Metrics are medians over passes, so a
  *      pass that still pays JIT compilation, or a slow spell of the
  *      host, moves them little.
  *
  * Each execution is built through the query registry
  * (`SparkEntry.queries(name)(spark, dir)`), forced through a `noop`
  * write, and torn down the way `graft.Bench` does. A failed query is
  * recorded by name with its error; it is never dropped. */
object Closed {
  private val packOf: Map[String, String] = SparkEntry.packs.flatMap { p =>
    p.queries.map(_.name -> p.getClass.getSimpleName.stripSuffix("$"))
  }.toMap

  def run(spark: SparkSession, a: Main.Args, names: Seq[String],
          trace: Option[Trace]): Seq[(String, Any)] = {
    val samples = mutable.ArrayBuffer.empty[String]
    val checkDir = a.out.resolve("check")
    val warm0 = Trace.nowMs()
    names.foreach { n =>
      samples += execute(spark, a.data, n, "warmup", -1, Some(checkDir.resolve(n).toString), trace)._1
    }
    val rng = new scala.util.Random(a.seed)
    // One more untimed pass, run like the timed ones: the pass after the
    // check still pays about a fifth of its time to JIT compilation, and
    // the medians would otherwise depend on how many passes fit the run.
    rng.shuffle(names).foreach { n =>
      quiesce()
      samples += execute(spark, a.data, n, "warmup", -1, None, trace)._1
    }
    val warm1 = Trace.nowMs()
    trace.foreach(_.add("core.warmup", "t0" -> warm0, "t1" -> warm1))

    var calm, stolen = 0
    def measuring: Boolean = {
      val elapsed = Trace.nowMs() - warm1
      elapsed < a.seconds * 1000 || (calm < stolen && elapsed < 1.5 * a.seconds * 1000)
    }
    var pass = 0
    while (measuring) {
      rng.shuffle(names).foreach { n =>
        quiesce()
        val (sample, steal) = execute(spark, a.data, n, "timed", pass, None, trace)
        samples += sample
        if (steal <= Main.StealLimit) calm += 1 else stolen += 1
      }
      pass += 1
    }
    val timed1 = Trace.nowMs()
    Seq("timed_t0_ms" -> warm1, "timed_t1_ms" -> timed1,
      "heap_live_bytes" -> Main.liveHeapBytes(), "passes" -> pass, "queries" -> names,
      "samples" -> Json.Raw(samples.mkString("[", ",", "]")))
  }

  /** Collection debt from one query's shuffle buffers, and the cleaner's
    * asynchronous removals, would otherwise land inside the next query's
    * timed region (the same quiescing as Bench, with a shorter settle). */
  private def quiesce(): Unit = { System.gc(); Thread.sleep(100) }

  /** Build, act and tear down one query; returns its sample as JSON and
    * the share of CPU time stolen meanwhile. */
  private def execute(spark: SparkSession, dir: String, name: String, phase: String,
                      pass: Int, write: Option[String], trace: Option[Trace]): (String, Double) = {
    val cpu0 = Main.cpuJiffies()
    val t0 = Trace.nowMs()
    var t1, t2 = t0
    var error: Option[String] = None
    try {
      val df = SparkEntry.queries(name)(spark, dir)
      t1 = Trace.nowMs()
      // the frame is analysed as it is built; its action re-plans an
      // already analysed plan, so the listener alone would see no analysis
      trace.foreach(_.add("planning", "t" -> t1, "ok" -> true,
        "analysis_ms" -> df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L),
        "optimization_ms" -> 0, "planning_ms" -> 0))
      write match {
        case None       => df.write.format("noop").mode("overwrite").save()
        case Some(path) => df.write.mode("overwrite").parquet(path)
      }
      t2 = Trace.nowMs()
    } catch {
      case e: Throwable =>
        error = Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(500))
        System.err.println(s"[perfbench] $name ($phase) failed: ${error.get}")
    }
    val leaked = teardown(spark)
    val t3 = Trace.nowMs()
    val steal = Main.stealSince(cpu0)
    (Json.obj("name" -> name, "pack" -> packOf.getOrElse(name, "?"), "phase" -> phase,
      "pass" -> pass, "t0" -> t0, "t_built" -> t1, "t_acted" -> t2, "t1" -> t3,
      "error" -> error, "leaked_streams" -> leaked, "steal" -> steal), steal)
  }

  /** Bench's per-query teardown, then a sweep of streams the query left
    * running: each is stopped and reported, and counts as a failure. */
  private def teardown(spark: SparkSession): Seq[String] = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    graft.streaming.Streams.drainRegisteredMemorySinks().foreach(spark.catalog.dropTempView)
    spark.streams.active.toSeq.map { q =>
      q.stop()
      Option(q.name).getOrElse(q.id.toString)
    }
  }
}
