package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** The `curation` workload: one client runs the named queries of
  * `graft.SparkEntry` once, cold, in the given order, each as its builder
  * call plus an action that collects every row and column of the result,
  * then `ScratchCheckpoints.drain()`. After the pass every result is
  * written as parquet, untimed, for `run.py` to compare with the DuckDB
  * oracle. */
object Curation {
  def run(conf: Conf, out: Out): Unit = {
    val names = conf.str("queries").split(',').toSeq
    val entries = SparkEntry.queries
    val unknown = names.filterNot(entries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val tracer = new Tracer(conf.trace)
    val (spark, setup) = Host.setUp(conf)(_ => ())
    out("setup_s") = setup
    tracer.attach(spark)
    out("host_start") = Host.calibrate(spark)
    val memo0 = graft.operators.Similarity.memoStats
    val gc0 = Host.gcMillis
    tracer.reset()
    val results = mutable.LinkedHashMap[String, (StructType, Array[Row])]()
    val t0 = Clock.now
    val ops = names.map { name =>
      val fn = entries(name)
      val started = Clock.now
      var buildNs, actionNs = 0L
      val error = tracer("query", name) {
        try {
          val b0 = Clock.now
          val df = tracer("build", name)(fn(spark, conf.data))
          buildNs = Clock.now - b0
          val a0 = Clock.now
          val rows = tracer("action", name)(df.collect())
          actionNs = Clock.now - a0
          results(name) = (df.schema, rows)
          ""
        } catch {
          case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}"
        }
      }
      val latency = Clock.now - started
      val d0 = Clock.now
      tracer("drain", name)(graft.util.ScratchCheckpoints.drain())
      Map("name" -> name, "latency_ms" -> Clock.ms(latency),
        "build_ms" -> Clock.ms(buildNs), "action_ms" -> Clock.ms(actionNs),
        "drain_ms" -> Clock.ms(Clock.now - d0), "error" -> error)
    }
    out("wall_s") = (Clock.now - t0) / 1e9
    out("gc_s") = (Host.gcMillis - gc0) / 1e3
    out("ops") = ops
    out("memo") = memoDelta(memo0, graft.operators.Similarity.memoStats)
    if (conf.trace) {
      out("spark") = tracer.totals
      out("spans") = tracer.spans
    }
    out("loadavg_end") = Host.loadavg
    // Written the way graft.Verify writes its results, so run.py reads
    // them as tools/check_oracle.py does.
    results.foreach { case (name, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.parquet(s"${conf.out}/results/$name")
    }
    writeOracle(conf.out, names)
    Host.stop(spark)
  }

  def memoDelta(before: Map[String, (Long, Long)],
      after: Map[String, (Long, Long)]): Map[String, Map[String, Long]] =
    after.map { case (slot, (h, m)) =>
      val (h0, m0) = before.getOrElse(slot, (0L, 0L))
      slot -> Map("hits" -> (h - h0), "misses" -> (m - m0))
    }

  /** The oracle SQL of each query that has one, for `run.py`'s check. */
  private def writeOracle(dir: String, names: Seq[String]): Unit = {
    val sql = SparkEntry.oracleSql
    val json = Json.render(names.flatMap(n => sql.get(n).map(n -> _)).toMap)
    Files.write(Paths.get(dir, "oracle_sql.json"), json.getBytes(StandardCharsets.UTF_8))
  }
}
