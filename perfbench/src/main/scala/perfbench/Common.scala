package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Command-line settings: `key=value` pairs written by `run.py`. */
final class Conf(kv: Map[String, String]) {
  def str(k: String): String = kv.getOrElse(k, sys.error(s"missing setting $k"))
  def str(k: String, d: String): String = kv.getOrElse(k, d)
  def int(k: String, d: Int): Int = kv.get(k).map(_.toInt).getOrElse(d)
  def dbl(k: String, d: Double): Double = kv.get(k).map(_.toDouble).getOrElse(d)
  def long(k: String): Long = str(k).toLong
  def workload: String = str("workload")
  def data: String = str("data")
  def out: String = str("out")
  def seconds: Double = dbl("seconds", 10.0)
  def trace: Boolean = str("trace", "0") == "1"
  def seed: Long = long("seed")
}

object Conf {
  def parse(args: Array[String]): Conf = new Conf(args.map { a =>
    val i = a.indexOf('=')
    a.substring(0, i) -> a.substring(i + 1)
  }.toMap)
}

/** Minimal JSON rendering for the harness's result file. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => render(a.toSeq)
    case x => quote(x.toString)
  }
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Monotonic clock with a wall-clock anchor, so Spark's wall-clock
  * progress timestamps can be placed on the same time line. */
object Clock {
  val originNanos: Long = System.nanoTime()
  val originWallMs: Long = System.currentTimeMillis()
  def now: Long = System.nanoTime() - originNanos
  def ms(nanos: Long): Double = nanos / 1e6
  def fromWallMs(wallMs: Long): Long = (wallMs - originWallMs) * 1000000L
  def sleepUntil(t: Long): Unit = {
    var left = t - now
    while (left > 0) {
      java.util.concurrent.locks.LockSupport.parkNanos(left)
      left = t - now
    }
  }
}

/** Session start, generic warm-up and the host calibration bracket. */
object Host {
  /** Cores of the `local[N]` driver: at most 4, at most the host's. */
  val Cpus: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  def session(conf: Conf): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${conf.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${conf.out}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Data-free jobs over the main execution paths (scan, shuffle
    * aggregate, join, window, JSON, noop write). They warm the JIT
    * without touching the engine's code or filling any of its caches. */
  def warmUp(spark: SparkSession): Unit = {
    spark.range(0L, 2000000L, 1L, Cpus).selectExpr("id % 1000 AS k", "id AS v")
      .groupBy("k").agg(Map("v" -> "sum")).collect()
    val a = spark.range(0L, 200000L).selectExpr("id % 5000 AS k", "id AS a")
    val b = spark.range(0L, 5000L).selectExpr("id AS k", "id * 2 AS b")
    a.join(b, "k").selectExpr("sum(a + b)").collect()
    spark.range(0L, 100000L).selectExpr("id % 100 AS g", "id")
      .selectExpr("g", "row_number() OVER (PARTITION BY g ORDER BY id) AS r")
      .selectExpr("max(r)").collect()
    spark.range(0L, 20000L)
      .selectExpr("to_json(named_struct('a', id, 't', 'x')) AS j")
      .selectExpr("get_json_object(j, '$.a') AS a").write.format("noop")
      .mode("overwrite").save()
  }

  /** The CPU calibration job of `graft.Bench` (`calib_s`). */
  def calib(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 200000000L, 1L, Cpus)
      .selectExpr("xxhash64(id) AS h").selectExpr("bit_xor(h)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** The shuffle calibration job of `graft.Bench` (`calib_shuffle_s`). */
  def calibShuffle(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 10000000L, 1L, Cpus)
      .selectExpr("pmod(xxhash64(id), 1000000) AS k", "id AS v")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("v").as("s"))
      .selectExpr("bit_xor(s)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  def loadavg: Seq[Double] =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")),
        StandardCharsets.UTF_8).split("\\s+").take(3).toSeq.map(_.toDouble)
    catch { case _: Throwable => Seq.empty }

  /** The host reading taken before a workload: CPU and shuffle
    * calibration plus load. */
  def calibrate(spark: SparkSession): Map[String, Any] = Map(
    "calib_s" -> calib(spark),
    "calib_shuffle_s" -> calibShuffle(spark),
    "loadavg" -> loadavg)

  def gcMillis: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  /** Runs three set-ups (session start, warm-up, then `init`) and keeps
    * the last session; returns it with every set-up's seconds. */
  def setUp(conf: Conf)(init: SparkSession => Unit): (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    val times = (1 to 3).map { _ =>
      if (spark != null) stop(spark)
      val t0 = System.nanoTime()
      spark = session(conf)
      warmUp(spark)
      init(spark)
      (System.nanoTime() - t0) / 1e9
    }
    (spark, times)
  }
}

/** In-memory spans around the benchmark's calls into the engine, with the
  * Spark work each span caused. A span's id is set as a local property
  * while it is open, so jobs started inside it (in this thread or threads
  * it starts) are charged to it by [[Tracer.Listener]]. Disabled, every
  * method only runs the body. */
final class Tracer(val enabled: Boolean) {
  import Tracer._
  private val ids = new AtomicLong(0L)
  private val closed = new ConcurrentLinkedQueue[Span]()
  private val work = new java.util.concurrent.ConcurrentHashMap[Long, Work]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val planMs = new java.util.concurrent.atomic.DoubleAdder()
  private val queries = new AtomicLong(0L)
  @volatile var spark: SparkSession = _

  /** Runs `body` inside a span; returns its value. */
  def apply[T](name: String, req: String = "")(body: => T): T = {
    if (!enabled) return body
    val sc = spark.sparkContext
    val parent = Option(sc.getLocalProperty(Key)).map(_.toLong).getOrElse(0L)
    val id = ids.incrementAndGet()
    val start = Clock.now
    sc.setLocalProperty(Key, id.toString)
    try body
    finally {
      closed.add(Span(id, parent, name, req, start, Clock.now))
      sc.setLocalProperty(Key, if (parent == 0L) null else parent.toString)
    }
  }

  private def w(span: Long): Work = work.computeIfAbsent(span, _ => new Work)

  /** Listener charging jobs, stages and task metrics to the open span. */
  object Listener extends SparkListener {
    private def spanOf(p: java.util.Properties): Long =
      Option(p).flatMap(x => Option(x.getProperty(Key))).map(_.toLong).getOrElse(0L)
    override def onJobStart(e: SparkListenerJobStart): Unit =
      w(spanOf(e.properties)).jobs.incrementAndGet()
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val s = spanOf(e.properties)
      stageSpan.put(e.stageInfo.stageId, s)
      w(s).stages.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val x = w(stageSpan.getOrDefault(e.stageId, 0L))
      x.tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        x.runMs.addAndGet(m.executorRunTime)
        x.cpuNs.addAndGet(m.executorCpuTime)
        x.gcMs.addAndGet(m.jvmGCTime)
        x.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten +
          m.shuffleReadMetrics.totalBytesRead)
        x.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  /** Planning time (analysis, optimization, physical planning) of every
    * query execution the session finishes. */
  object Plans extends QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = {
      queries.incrementAndGet()
      planMs.add(qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
  }

  def attach(s: SparkSession): Unit = {
    spark = s
    if (enabled) {
      s.sparkContext.addSparkListener(Listener)
      s.listenerManager.register(Plans)
    }
  }

  /** Waits until Spark has delivered every listener event posted so far. */
  def settle(): Unit = if (enabled) org.apache.spark.PerfbenchAccess.drainListeners(spark)

  /** Totals since the last [[reset]], keyed by span id (0 = outside spans). */
  def totals: Map[String, Any] = {
    settle()
    Map("plan_ms" -> planMs.sum, "query_executions" -> queries.get,
      "by_span" -> work.asScala.map { case (k, v) => k.toString -> v.toMap })
  }

  def reset(): Unit = {
    settle()
    work.clear(); planMs.reset(); queries.set(0L); closed.clear()
  }

  def spans: Seq[Map[String, Any]] = closed.asScala.toSeq.sortBy(_.start).map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "req" -> s.req,
      "start_ms" -> Clock.ms(s.start), "end_ms" -> Clock.ms(s.end))
  }
}

object Tracer {
  val Key = "perfbench.span"
  final case class Span(id: Long, parent: Long, name: String, req: String,
      start: Long, end: Long)
  final class Work {
    val jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleBytes, spillBytes = new AtomicLong(0L)
    def toMap: Map[String, Any] = Map("jobs" -> jobs.get, "stages" -> stages.get,
      "tasks" -> tasks.get, "task_run_ms" -> runMs.get, "task_cpu_ms" -> cpuNs.get / 1e6,
      "gc_ms" -> gcMs.get, "shuffle_bytes" -> shuffleBytes.get,
      "spill_bytes" -> spillBytes.get)
  }
}

/** The harness's result file: one JSON object written at the end. */
final class Out(dir: String) {
  private val fields = mutable.LinkedHashMap[String, Any]()
  def update(k: String, v: Any): Unit = synchronized { fields(k) = v }
  def write(): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, "result.json"),
      Json.render(synchronized(fields.toMap)).getBytes(StandardCharsets.UTF_8))
  }
}
