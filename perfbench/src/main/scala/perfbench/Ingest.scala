package perfbench

import java.io.{BufferedWriter, FileWriter}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.operators.Compaction
import graft.schema.Schemas
import graft.streaming.SensorPipeline

/** The `ingest` workload: seeded wire frames from one generator thread go
  * through the engine's write path: `SensorPipeline.parseWireOrDeadLetter`,
  * then two sinks, landing with compaction (`dedupStream` →
  * `Compaction.streamingCompactorBatch`) and `hourlyWindowedAgg`, plus a
  * dead-letter sink. (The hourly sink reads the parsed stream: Spark
  * refuses a second watermark over `dedupStream`'s.) Frames are added to
  * a memory stream in chunks, so each batch's progress names the chunks
  * it covered. A fixed-rate phase measures latency; then a backlog is
  * drained.
  *
  * Traffic: the reference's sensor publishes once a second, so `rate`
  * frames per second stand for `rate` such sensors. A frame's event time
  * is the second it is due, so event time runs with the wall clock and
  * the 10-minute watermark and the hourly windows see real-time spacing.
  * A run covers under two minutes of event time: dedup state only grows
  * and no hourly window closes. */
object Ingest {
  /** Publish rate of one sensor in the reference (frames per second). */
  val SensorHz = 1.0
  val ChunkMs = 50
  val WarmMs = 7000
  /** The reference's Firehose buffering interval, scaled down. A landing
    * batch takes about 1 s on 4 cores (mostly fixed cost: file writes and
    * the state commit), so a 2 s trigger keeps batches from queueing
    * behind each other. */
  val TriggerMs = 2000
  /** A batch lands 4 files; the reference compacts every 100, which a
    * short run never reaches, so landing compacts every third batch. */
  val CompactFiles = 12
  val DrainParts = 6
  /** Event time of the run's start: 2024-01-01 00:00:00 UTC, in seconds. */
  val EpochS = 1704067200L

  final class Gen(seed: Long, devices: Int) {
    private val rng = new SplittableRandom(seed)
    private val zipf: Array[Double] = {
      val w = (1 to devices).map(i => 1.0 / math.pow(i, 1.1))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    private val counts = new Array[Long](devices)
    private val recent = mutable.ArrayBuffer[(String, Long, Long, Double, Double)]()
    val log = mutable.ArrayBuffer[String]()

    private def device(): Int = {
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(zipf, u)
      math.min(if (i >= 0) i else -i - 1, devices - 1)
    }
    private def fmt(ts: Long): String = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochSecond(ts))
    private def frame(c: String, ts: Long, hum: Double, temp: Double, n: Long): String =
      f"""{"client_id": "$c", "timestamp": "${fmt(ts)}", "humidity": $hum%.2f, """ +
        f""""temperature": $temp%.2f, "pressure": 1012.25, "pitch": 0.5, """ +
        f""""roll": 1.25, "yaw": 270.0, "count": $n}"""

    /** Next frame, due at event second `now`; logs
      * `seq,chunk,kind,client,count,ts,humidity,temp`. Kinds: n on time,
      * o out of order (1-5 min behind), l late (2-4 h behind), r
      * redelivery of a recent frame, m malformed (not JSON, no client id,
      * or no timestamp). */
    def next(seq: Long, chunk: Int, now: Long): String = {
      val u = rng.nextDouble()
      def fresh(kind: String, ts: Long): String = {
        val d = device()
        counts(d) += 1
        val c = f"dev-$d%04d"
        val hum = BigDecimal(40 + 20 * rng.nextDouble()).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
        val temp = BigDecimal(20 + 15 * rng.nextDouble()).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
        if (kind != "l") {
          recent += ((c, counts(d), ts, hum, temp))
          if (recent.size > 150) recent.remove(0)
        }
        log += s"$seq,$chunk,$kind,$c,${counts(d)},$ts,$hum,$temp"
        frame(c, ts, hum, temp, counts(d))
      }
      if (u < 0.02) {
        log += s"$seq,$chunk,m,,,,,"
        rng.nextInt(3) match {
          case 0 => "}{ not json " + rng.nextInt(1000)
          case 1 => s"""{"timestamp": "${fmt(now)}", "count": 1}"""
          case _ => s"""{"client_id": "dev-0001", "humidity": 50.0, "count": 2}"""
        }
      } else if (u < 0.05 && recent.nonEmpty) {
        val (c, n, ts, hum, temp) = recent(rng.nextInt(recent.size))
        log += s"$seq,$chunk,r,$c,$n,$ts,$hum,$temp"
        frame(c, ts, hum, temp, n)
      } else if (u < 0.08) fresh("o", now - 60 - rng.nextInt(241))
      else if (u < 0.10) fresh("l", now - 7200 - rng.nextInt(7201))
      else fresh("n", now)
    }
  }

  def run(conf: Conf, out: Out): Unit = {
    val rate = conf.dbl("rate", 1000.0)
    val backlog = conf.int("backlog", 60000)
    val drop = conf.str("drop_record", "-1").toLong
    val root = s"${conf.out}/ingest"
    val tracer = new Tracer(conf.trace)
    var rep = 0
    val (spark, setup) = Host.setUp(conf) { s =>
      // Set-up includes starting the three streaming queries once, on one
      // frame, so the run pays their planning and state-store creation
      // here rather than in its first measured batch. (No trigger delay:
      // set-up should not wait for a clock tick.)
      rep += 1
      val p = Pipeline.start(s, s"$root/setup$rep", 0, tracer = None)
      p.add(Seq("{}"))
      p.queries.foreach(_.processAllAvailable())
      p.queries.foreach(_.stop())
    }
    out("setup_s") = setup
    tracer.attach(spark)
    out("host_start") = Host.calibrate(spark)
    tracer.reset()
    val p = Pipeline.start(spark, s"$root/run", TriggerMs, Some(tracer))
    val gen = new Gen(conf.seed, math.max(1, math.round(rate / SensorHz).toInt))
    val perChunk = math.max(1, math.round(rate * ChunkMs / 1000.0).toInt)
    val chunks = mutable.ArrayBuffer[Map[String, Any]]()
    var seq = 0L
    /** `n` frames of chunk `k`; frame i is due `dueMs(i)` after the start. */
    def makeChunk(k: Int, n: Int)(dueMs: Int => Double): Seq[String] = (0 until n).flatMap { i =>
      val f = gen.next(seq, k, EpochS + (dueMs(i) / 1000).toLong)
      seq += 1
      if (seq - 1 == drop) None else Some(f)
    }
    // Fixed-rate phase: chunk k is due at start + k * ChunkMs. The first
    // WarmMs let the queries reach their steady batch time; those frames
    // are checked but left out of the latency figures.
    val warmChunks = WarmMs / ChunkMs
    val nChunks = warmChunks + math.max(1, (conf.seconds * 1000 / ChunkMs).toInt)
    val start = Clock.now
    for (k <- 0 until nChunks) {
      val due = start + k.toLong * ChunkMs * 1000000L
      val frames = makeChunk(k, perChunk)(_ => k.toDouble * ChunkMs)
      Clock.sleepUntil(due)
      p.add(frames)
      chunks += Map("chunk" -> k, "due_ms" -> Clock.ms(due), "added_ms" -> Clock.ms(Clock.now),
        "n" -> perChunk, "phase" -> (if (k < warmChunks) "warm" else "latency"))
    }
    p.queries.foreach(awaitCommitted(_, nChunks - 1))
    // Drain phase: the backlog in DrainParts parts, each added once landing
    // has committed the one before, so each is one landing batch; every
    // third of them compacts. The backlog holds what the sensors published
    // after the fixed-rate phase, due at `rate` frames per second on.
    val part = math.max(1, backlog / DrainParts)
    val parts = (0 until DrainParts).map(i => makeChunk(nChunks + i, part) { j =>
      nChunks.toDouble * ChunkMs + (i.toLong * part + j) * 1000.0 / rate
    })
    parts.zipWithIndex.foreach { case (frames, i) =>
      val t = Clock.now
      p.add(frames)
      chunks += Map("chunk" -> (nChunks + i), "due_ms" -> Clock.ms(t),
        "added_ms" -> Clock.ms(Clock.now), "n" -> part, "phase" -> "drain")
      awaitCommitted(p.queries.head, nChunks + i)
    }
    p.queries.foreach(_.processAllAvailable())
    p.queries.foreach(_.stop())
    org.apache.spark.PerfbenchAccess.drainListeners(spark)
    out("chunks") = chunks.toSeq
    out("progress") = p.progress.asScala.toSeq
    out("sink_calls") = p.sinkCalls.asScala.toSeq
    out("hourly") = p.hourly.values.asScala.toSeq
    out("dead_letters") = p.deadLetters.get
    out("landing_dir") = p.logs
    out("compacted_dir") = p.compacted
    val w = new BufferedWriter(new FileWriter(s"${conf.out}/frames.csv"))
    try gen.log.foreach { l => w.write(l); w.newLine() } finally w.close()
    if (conf.trace) {
      out("spark") = tracer.totals
      out("spans") = tracer.spans
    }
    out("loadavg_end") = Host.loadavg
    spark.streams.removeListener(p.listener)
    Host.stop(spark)
  }

  /** Waits until `q` has committed a batch covering chunk `k` (a memory
    * stream's offset is the number of the `addData` call). */
  private def awaitCommitted(q: StreamingQuery, k: Int): Unit = {
    def done = Option(q.lastProgress).flatMap(_.sources.headOption)
      .exists(s => s.endOffset != null && s.endOffset.toLong >= k)
    while (!done) {
      q.exception.foreach(e => throw e)
      Thread.sleep(5)
    }
  }

  /** The three running queries. Each consumer reads its own memory stream
    * of the same wire frames (a memory stream serves one reader), the way
    * the reference's consumers each read the shared stream. */
  final class Pipeline(mems: Seq[MemoryStream[String]], val logs: String,
      val compacted: String) {
    def add(frames: Seq[String]): Unit = mems.foreach(_.addData(frames: _*))
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    val sinkCalls = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    val hourly = new java.util.concurrent.ConcurrentHashMap[String, Map[String, Any]]()
    val deadLetters = new java.util.concurrent.atomic.AtomicLong(0L)
    var queries: Seq[StreamingQuery] = Nil
    var listener: StreamingQueryListener = _
  }

  object Pipeline {
    def start(spark: SparkSession, dir: String, triggerMs: Int,
        tracer: Option[Tracer]): Pipeline = {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val mems = Seq.fill(3)(MemoryStream[String])
      val p = new Pipeline(mems, s"$dir/landing", s"$dir/compacted")
      def split(i: Int) = SensorPipeline.parseWireOrDeadLetter(mems(i).toDF())
      val deduped = SensorPipeline.dedupStream(split(0)._1)
      val counter = new Compaction.CounterState
      val fs = new java.io.File(p.logs)
      def jsonFiles: Int = Option(fs.list()).map(_.count(_.endsWith(".json"))).getOrElse(0)
      def compactedDirs: Int =
        Option(new java.io.File(p.compacted).list()).map(_.length).getOrElse(0)
      val land = (batch: DataFrame, id: Long) => {
        val f0 = jsonFiles
        val c0 = compactedDirs
        val t0 = Clock.now
        def call(): Unit = Compaction.streamingCompactorBatch(counter, p.logs,
          p.compacted, Schemas.sensor, CompactFiles)(batch, id)
        tracer match {
          case Some(t) => t("sink.landing", s"landing:$id")(call())
          case None => call()
        }
        val t1 = Clock.now
        p.sinkCalls.add(Map("batch" -> id, "start_ms" -> Clock.ms(t0),
          "end_ms" -> Clock.ms(t1), "files_before" -> f0, "files_after" -> jsonFiles,
          "compacted" -> (compactedDirs > c0)))
        ()
      }
      val hourlySink = (batch: DataFrame, id: Long) => batch.collect().foreach { r =>
        val key = s"${r.getString(0)}|${r.getString(1)}"
        p.hourly.put(key, Map("hour" -> r.getString(0), "client_id" -> r.getString(1),
          "avg_temperature" -> r.getDouble(2), "avg_humidity" -> r.getDouble(3),
          "max_temperature" -> r.getDouble(4), "max_humidity" -> r.getDouble(5),
          "n" -> r.getLong(6)))
      }
      val deadSink = (batch: DataFrame, id: Long) => { p.deadLetters.addAndGet(batch.count()); () }
      p.listener = new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
          val q = e.progress
          if (q.name == null || !q.name.startsWith(dir.hashCode.toHexString)) return
          val src = q.sources.headOption
          p.progress.add(Map(
            "query" -> q.name.split(':').last, "batch" -> q.batchId,
            "start_ms" -> Clock.ms(Clock.fromWallMs(java.time.Instant.parse(q.timestamp).toEpochMilli)),
            "duration_ms" -> q.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
            "rows" -> q.numInputRows,
            "start_offset" -> src.map(_.startOffset).orNull,
            "end_offset" -> src.map(_.endOffset).orNull,
            "watermark" -> Option(q.eventTime.get("watermark")).orNull,
            "state" -> q.stateOperators.toSeq.map(s => Map(
              "rows" -> s.numRowsTotal, "bytes" -> s.memoryUsedBytes,
              "commit_ms" -> s.commitTimeMs,
              "dropped_by_watermark" -> s.numRowsDroppedByWatermark))))
        }
      }
      spark.streams.addListener(p.listener)
      def sink(df: DataFrame, name: String, mode: String,
          fn: (DataFrame, Long) => Unit): StreamingQuery =
        df.writeStream.queryName(s"${dir.hashCode.toHexString}:$name").outputMode(mode)
          .option("checkpointLocation", s"$dir/checkpoints/$name")
          .trigger(Trigger.ProcessingTime(triggerMs.toLong))
          .foreachBatch(fn).start()
      p.queries = Seq(
        sink(deduped, "landing", "append", land),
        sink(SensorPipeline.hourlyWindowedAgg(split(1)._1), "hourly", "update", hourlySink),
        sink(split(2)._2, "dead_letter", "append", deadSink))
      p
    }
  }
}
