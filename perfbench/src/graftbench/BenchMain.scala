package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The JVM half of the benchmark: sets graft up, runs one workload
  * against its public entry points and writes every raw measurement
  * to `<run>/result.json`. Metrics are computed from that file by
  * `perfbench/run.py`, which also generates the inputs and checks the
  * batch outputs against DuckDB.
  *
  * Usage: graftbench.BenchMain --workload W --data DIR --run DIR
  *          --seconds S --trace 0|1 --cpus N
  */
object BenchMain {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val runDir = opts("run")
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val cpus = opts.getOrElse("cpus", "4").toInt
    val clock = new Clock
    val spans = new Spans(clock)

    val (spark, setupS) = setUp(cpus, spans)
    // consumed localCheckpoints are unpersisted on purpose after every
    // operation; Spark logs one WARN per RDD for that
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)

    val body = workload match {
      case "live_bus" => new LiveBus(spark, runDir, seconds, traced, spans).run()
      case w => new BatchMix(spark, w, opts("data"), runDir, seconds, traced, spans).run()
    }
    val result = body ++ Map(
      "workload" -> workload, "cpus" -> cpus, "traced" -> traced, "epoch_ms0" -> clock.epochMs0,
      "setup_s" -> setupS, "spans" -> spans.all.map(_.json))
    Files.writeString(Paths.get(runDir, "result.json"), mapper.writeValueAsString(result))
    spark.stop()
  }

  /** Build the session and run one job through it, `times` times,
    * stopping all but the last. The first measurement starts at JVM
    * start, so it includes class loading; the others are warm rebuilds.
    * Warming the workload's own code paths is the priming phase's job.
    */
  private def setUp(cpus: Int, spans: Spans, times: Int = 5): (SparkSession, Seq[Double]) = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val took = mutable.ArrayBuffer.empty[Double]
    var session: SparkSession = null
    for (k <- 0 until times) {
      val sinceJvmStartMs = if (k == 0) System.currentTimeMillis() - jvmStartMs else 0L
      val t0 = System.nanoTime()
      val start = spans.clock.fromNano(t0) - sinceJvmStartMs
      session = GraftSession.local(cpus)
      session.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
      val t1 = System.nanoTime()
      spans.add(spans.newId(), "session", -1, start, spans.clock.fromNano(t1))
      took += (t1 - t0) / 1e9 + sinceJvmStartMs / 1e3
      if (k < times - 1) session.stop()
    }
    (session, took.toList)
  }

  /** Heap in use after full collections, in MiB. Spark frees broadcast
    * and cached blocks only after the collection that finds their
    * handles unreachable, so collections repeat (at most five) until
    * two readings agree within 1 MiB.
    */
  def heapLiveMb(): Double = {
    def collect(): Double = {
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = collect()
    var cur = collect()
    var rounds = 2
    while (prev - cur > 1.0 && rounds < 5) {
      prev = cur
      cur = collect()
      rounds += 1
    }
    math.min(prev, cur)
  }
}
