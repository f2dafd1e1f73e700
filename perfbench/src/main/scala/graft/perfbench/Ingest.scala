package graft.perfbench

import graft.streaming.{FirePipeline, JdbcBatchSink, Streams, VehiclePipeline}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable

/** Open-loop ingest: the reference's fire pipeline fed on a clock of its
  * own.
  *
  * One generator thread (this one) appends Kafka-contract frame files
  * (`VehiclePipeline.frameJson`, one JSON message per line) to a file
  * topic on a fixed schedule that never waits for the system. A single
  * continuously running `FirePipeline.detectFires` → idempotent
  * `JdbcBatchSink.writeBatch` (embedded Derby) query consumes them. A
  * frame's latency runs from when it was due at the generator to the end
  * of the micro-batch that wrote its sink row; batch ends come from the
  * query's own progress reports and the batch of each frame from the
  * sink's `batch_id` column, so the untraced run needs no listener.
  *
  * Phases after warm-up: bursts (the drain time of a burst is this
  * workload's pass) alternating with base-rate segments that add up to
  * half the run, then a rate ladder that stops at the first rung whose
  * backlog takes longer than the latency limit to drain, which puts the
  * knee inside it.
  *
  * The traffic comes from the reference's published figures (the
  * repository's BASELINE.md): the base rate is its vehicle ingest rate,
  * a burst is the backlog that rate builds up over one of its consumers'
  * 10 s trigger intervals, and the latency limit is the low end of its
  * fire pipeline's 2–3 s per-batch latency. */
object Ingest {
  val BaseRate = 10.0 // frames/s: 2 cameras × 5 fps
  val ReferenceTriggerS = 10.0 // the reference consumers' processingTime
  val BurstFrames: Int = (BaseRate * ReferenceTriggerS).toInt
  /** A rung is sustained while its event tail and its last frame meet this. */
  val LatencyLimitS = 2.0
  /** Bursts measured per run (pass_s is their median): a sampling choice. */
  val Rounds = 6
  val Ladder: Seq[Double] = Seq(20, 40, 80, 160, 320, 640, 1280, 2560, 5120)
  val RungS = 1.5
  private val Derby = "org.apache.derby.jdbc.EmbeddedDriver"
  private val SinkCols = Seq("camera_id", "frame_number", "detection_ts_epoch",
    "fire_detected", "fire_pct_e4", "conf_e4", "image_emitted", "overlay_sum_r")

  def run(spark: SparkSession, a: Main.Args, trace: Option[Trace]): Seq[(String, Any)] = {
    val topic = Files.createDirectories(a.out.resolve("topic"))
    val staging = Files.createDirectories(a.out.resolve("topic-staging"))
    val url = s"jdbc:derby:${a.out.resolve("derby").toAbsolutePath};create=true"
    val sink = JdbcBatchSink(url, "fire_detections",
      Map("driver" -> Derby, "createTableColumnTypes" -> "camera_id VARCHAR(32)"),
      a.out.resolve("checkpoint").toString, idempotent = true)
    // the seed sets the frame ids, and through them the images
    val gen = new Generator(topic, staging,
      firstId = new scala.util.Random(a.seed).nextInt(1 << 20).toLong * 64)

    val warm0 = Trace.nowMs()
    val query = Streams.withStreamShufflePartitions(spark) {
      sink.start(FirePipeline.detectFires(
        spark.readStream.schema("value STRING").text(topic.toString)))
    }
    trace.foreach(_.add("query.build", "t0" -> warm0, "t1" -> Trace.nowMs()))
    // Progress reports over-count input rows (the sink's emptiness probe
    // reads some rows twice), so the harness counts sink rows instead,
    // without taking locks that could stall the stream's inserts.
    val counter = java.sql.DriverManager.getConnection(url)
    counter.setTransactionIsolation(java.sql.Connection.TRANSACTION_READ_UNCOMMITTED)
    /** (rows, highest batch id) in the sink. */
    def sinkState(): (Long, Long) =
      try {
        val st = counter.createStatement()
        try {
          val rs = st.executeQuery("SELECT COUNT(*), MAX(\"batch_id\") FROM fire_detections")
          rs.next()
          (rs.getLong(1), rs.getLong(2))
        } finally st.close()
      } catch { case _: java.sql.SQLException => (0L, -1L) } // no batch has created the table yet
    /** Every generated frame is in the sink and the batch that wrote the
      * last of them has reported its progress (its end time). */
    def drained(): Boolean = {
      val (rows, lastBatch) = sinkState()
      rows >= gen.count &&
        query.recentProgress.reverseIterator.exists(_.batchId == lastBatch)
    }
    /** Wait until drained; returns the seconds that took, or -1 on timeout. */
    def drain(timeoutS: Double): Double = {
      val t0 = Trace.nowMs()
      while (!drained() && Trace.nowMs() - t0 < timeoutS * 1000) {
        if (query.exception.isDefined) throw query.exception.get
        Thread.sleep(10)
      }
      if (drained()) (Trace.nowMs() - t0) / 1000 else -1.0
    }
    val result = mutable.ArrayBuffer[(String, Any)](
      "base_rate" -> BaseRate, "burst_frames" -> BurstFrames, "latency_limit_s" -> LatencyLimitS)
    try {
      // the phases' first micro-batches still pay JIT compilation
      gen.burst(BurstFrames, "warmup"); drain(60)
      gen.atRate(BaseRate, 2.0, "warmup"); drain(60)
      gen.burst(BurstFrames, "warmup"); drain(60)
      val warm1 = Trace.nowMs()
      trace.foreach(_.add("core.warmup", "t0" -> warm0, "t1" -> warm1))
      result += "timed_t0_ms" -> warm1

      // Each segment records the CPU time the hypervisor stole meanwhile.
      // Bursts and base-rate segments alternate, so that a slow spell of
      // the host falls on a minority of either's samples.
      val segments = mutable.ArrayBuffer.empty[String]
      var calm, stolen = 0
      def segment(phase: String)(body: => Double): Double = {
        val cpu0 = Main.cpuJiffies()
        val drained = body
        val steal = Main.stealSince(cpu0)
        segments += Json.obj("phase" -> phase, "steal" -> steal)
        if (phase.startsWith("base")) { if (steal <= Main.StealLimit) calm += 1 else stolen += 1 }
        drained
      }
      // up to half again the rounds while fewer than half of the base
      // segments ran calm
      var round = 0
      while (round < Rounds || (calm < stolen && round < Rounds * 3 / 2)) {
        segment(s"burst$round") { gen.burst(BurstFrames, s"burst$round"); drain(30) }
        segment(s"base$round") {
          gen.atRate(BaseRate, a.seconds / 2 / Rounds, s"base$round"); drain(30)
        }
        round += 1
      }
      val steps = mutable.ArrayBuffer.empty[Double]
      var knee = false
      for (r <- Ladder if !knee) {
        val tail = segment(s"step$r") { gen.atRate(r, RungS, s"step$r"); drain(30) }
        steps += r
        knee = tail < 0 || tail > LatencyLimitS
      }
      result += "segments" -> Json.Raw(segments.mkString("[", ",", "]"))
      result += "timed_t1_ms" -> Trace.nowMs()
      result += "heap_live_bytes" -> Main.liveHeapBytes()
      result += "ladder" -> steps.toSeq
    } finally {
      query.stop()
      counter.close()
    }
    result += "progress" -> Json.Raw(query.recentProgress.map(_.json).mkString("[", ",", "]"))
    result += "frames" -> Json.Raw(gen.framesJson)
    result += "query_error" -> query.exception.map(_.getMessage.take(500))
    result ++= check(spark, url, topic, gen)
    result.toSeq
  }

  /** Output check, outside every timed region: the sink holds exactly one
    * row per generated frame, and its rows equal the batch twin
    * `detectFires` over the same topic files. */
  private def check(spark: SparkSession, url: String, topic: Path,
                    gen: Generator): Seq[(String, Any)] = {
    val table = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "fire_detections").option("driver", Derby).load()
    val got = table.select((SinkCols :+ "batch_id").map(col): _*).collect()
    val twin = FirePipeline.detectFires(spark.read.schema("value STRING").text(topic.toString))
      .select(SinkCols.map(col): _*).collect()
    def bag(rows: Seq[Row]) = rows.groupBy(identity).view.mapValues(_.size).toMap
    val gotBag = bag(got.toSeq.map(r => Row.fromSeq(r.toSeq.init)))
    val twinBag = bag(twin.toSeq)
    val mismatched = (gotBag.keySet ++ twinBag.keySet).toSeq
      .map(r => math.abs(gotBag.getOrElse(r, 0) - twinBag.getOrElse(r, 0))).sum
    val generated = gen.ids
    val perFrame = got.groupBy(_.getLong(1)).view.mapValues(_.length).toMap
    val missing = generated.count(id => !perFrame.contains(id))
    val duplicated = perFrame.values.map(_ - 1).sum
    val unknown = perFrame.keySet.count(id => !generated.contains(id))
    Seq("check" -> Map("sink_rows" -> got.length, "generated" -> generated.size,
        "missing" -> missing, "duplicated" -> duplicated, "unknown" -> unknown,
        "twin_mismatched_rows" -> mismatched),
      "sink_batches" -> Json.Raw(got.map(r => s"[${r.getLong(1)},${r.getLong(8)}]")
        .mkString("[", ",", "]")))
  }

  /** The open-loop frame generator. Frames are encoded before each phase
    * starts, so at send time the generator only writes bytes; every frame
    * due by now goes into one file, published with an atomic rename. */
  final class Generator(topic: Path, staging: Path, firstId: Long) {
    private val frames = mutable.ArrayBuffer.empty[String]
    private val idSet = mutable.HashSet.empty[Long]
    private var nextId = firstId
    private var files = 0

    def count: Long = idSet.size.toLong
    def ids: collection.Set[Long] = idSet

    private def encode(n: Int): IndexedSeq[(Long, String)] = {
      val batch = (0 until n).map(i => (nextId + i, VehiclePipeline.frameJson(nextId + i)))
      nextId += n
      batch
    }

    private def publish(batch: Seq[(Long, String)], dueMs: Seq[Double], phase: String): Unit = {
      val name = f"frames-$files%08d.json"
      files += 1
      val tmp = staging.resolve(name)
      Files.write(tmp, batch.map(_._2).mkString("", "\n", "\n").getBytes(UTF_8))
      Files.move(tmp, topic.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      val written = Trace.nowMs()
      batch.zip(dueMs).foreach { case ((id, _), due) =>
        idSet += id
        frames += s"""[$id,"$phase",$due,$written]"""
      }
    }

    /** `n` frames, all due now, in one file. */
    def burst(n: Int, phase: String): Unit = {
      val batch = encode(n)
      val due = Trace.nowMs()
      publish(batch, Seq.fill(n)(due), phase)
    }

    /** `rate` frames per second for `seconds`, on a schedule fixed at the
      * start: a frame is due at t0 + k / rate however late earlier
      * writes ran. */
    def atRate(rate: Double, seconds: Double, phase: String): Unit = {
      val n = math.max(1, math.round(rate * seconds).toInt)
      val batch = encode(n)
      val t0 = Trace.nowMs() + 5
      val due = (0 until n).map(k => t0 + k * 1000.0 / rate)
      var k = 0
      while (k < n) {
        val wait = due(k) - Trace.nowMs()
        if (wait > 0) LockSupport.parkNanos((wait * 1e6).toLong)
        else {
          val now = Trace.nowMs()
          var j = k
          while (j < n && due(j) <= now) j += 1
          publish(batch.slice(k, j), due.slice(k, j), phase)
          k = j
        }
      }
    }

    /** `[id, phase, due ms, written ms]` per frame. */
    def framesJson: String = frames.mkString("[", ",", "]")
  }
}
