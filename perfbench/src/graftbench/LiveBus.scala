package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, floor}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.EventOps
import graft.sources.Sinks
import graft.streaming.{EventStreamJobs, LiveEvent}

/** Open loop over a directory tailed by `EventStreamJobs.archiveStream`.
  * A generator process (perfbench/busgen.py) drops JSONL files into
  * `<run>/bus`; the two sides step through the phases with marker
  * files in `<run>/ctl`:
  *
  *   prime_ready   (generator) the priming files are in place
  *   go_backlog    (JVM)       all four queries have read them
  *   backlog_ready (generator) the drain backlog is visible at once
  *   go_rate       (JVM)       the backlog is drained
  *   gen_done      (generator) the fixed-rate phase has ended
  *
  * Four standing queries read the directory and write plain parquet
  * file sinks: `sessionize`, `trimStream`, `deadLetterStream` and
  * `windowedCounts`. When every offered row has been read, the
  * queries stop and each sink is compared with its batch twin over
  * the same files (the rules `StreamBatchParitySpec` pins).
  */
final class LiveBus(spark: SparkSession, runDir: String, seconds: Double, traced: Boolean,
    spans: Spans) {
  import LiveBus._

  private val sc = spark.sparkContext
  private val bus = Paths.get(runDir, "bus").toString
  private val ctl = Paths.get(runDir, "ctl")
  private def out(handler: String) = Paths.get(runDir, "out", handler).toString

  private def awaitCtl(name: String, timeoutS: Double): Map[String, Any] = {
    val p = ctl.resolve(name)
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (!Files.exists(p)) {
      if (System.nanoTime() > deadline) throw new IllegalStateException(s"timed out waiting for $p")
      Thread.sleep(5)
    }
    BenchMain.mapper.readValue(Files.readString(p), classOf[Map[String, Any]])
  }

  /** Phase marks in the JVM log: where a slow or stuck run spent its time. */
  private def mark(phase: String): Unit =
    System.err.println(f"[perfbench] ${spans.clock.nowMs / 1000}%.2f s: $phase")

  private def signal(name: String): Unit = {
    val tmp = ctl.resolve(s".$name")
    Files.writeString(tmp, "{}")
    Files.move(tmp, ctl.resolve(name))
  }

  private def startQueries(): Seq[(String, StreamingQuery)] = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    // ten files a second: with the default cap of 16 files per trigger the
    // source alone would throttle the queries once a trigger takes 1.6 s
    val raw = EventStreamJobs.archiveStream(spark, bus, maxFilesPerTrigger = 64)
    val events = raw.select($"event_id", $"ts", $"user_id", $"event_type", $"value").as[LiveEvent]
    val frames: Seq[(String, DataFrame)] = Seq(
      "sessionize" -> EventStreamJobs.sessionize(events).toDF(),
      "trim" -> EventStreamJobs.trimStream(events).toDF(),
      "dead_letter" -> EventStreamJobs.deadLetterStream(events).toDF(),
      "windowed" -> EventStreamJobs.windowedCounts(raw))
    frames.map { case (name, df) =>
      name -> df.writeStream.format("parquet").queryName(name).outputMode("append")
        .option("path", out(name))
        .option("checkpointLocation", Paths.get(runDir, "ckpt", name).toString)
        .start()
    }
  }

  /** Wait until every query has read `rows` input rows; false if one
    * stopped or the time ran out first.
    */
  private def awaitRows(queries: Seq[(String, StreamingQuery)], progress: ProgressListener,
      rows: Long, timeoutS: Double): Boolean = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    def done = queries.forall { case (name, _) => progress.rowsRead(name) >= rows }
    def broken = queries.exists { case (_, q) => !q.isActive }
    while (!done && !broken && System.nanoTime() < deadline) Thread.sleep(5)
    done
  }

  /** Wait (up to 5 s) until no query has reported progress for 300 ms,
    * so the no-data batch that follows a watermark advance is over and
    * each phase starts on idle queries. (Trigger status flickers while
    * idle queries poll the directory, so it cannot tell.)
    */
  private def awaitIdle(progress: ProgressListener): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (System.nanoTime() - progress.lastReportNs < 300000000L && System.nanoTime() < deadline)
      Thread.sleep(5)
  }

  def run(): Map[String, Any] = {
    val progress = new ProgressListener
    spark.streams.addListener(progress)
    // in a traced run, the scheduler listener records jobs only inside
    // alternating one-second windows of the fixed-rate phase; ticks
    // offered outside them give the untraced latency
    @volatile var recording = !traced
    val jobs = new JobListener(spans.clock, _ => recording)
    if (traced) sc.addSparkListener(jobs)

    val b0 = System.nanoTime()
    val queries = startQueries()
    val buildMs = (System.nanoTime() - b0) / 1e6
    val primeRows = num(awaitCtl("prime_ready", 60)("rows"))
    val primed = awaitRows(queries, progress, primeRows, 120)
    mark("primed")
    val primeS = (System.nanoTime() - b0) / 1e9

    awaitIdle(progress)
    signal("go_backlog")
    val backlogRows = num(awaitCtl("backlog_ready", 60)("rows"))
    val drained = primed && awaitRows(queries, progress, primeRows + backlogRows, 120)
    mark("drained")
    awaitIdle(progress)
    signal("go_rate")

    val windows = mutable.ArrayBuffer.empty[Seq[Double]]
    var windowStart = spans.clock.nowMs
    val genDone = ctl.resolve("gen_done")
    val rateDeadline = System.nanoTime() + ((seconds + 60) * 1e9).toLong
    while (!Files.exists(genDone) && System.nanoTime() < rateDeadline) {
      Thread.sleep(5)
      if (traced && spans.clock.nowMs - windowStart >= 1000) {
        if (recording) windows += Seq(windowStart, spans.clock.nowMs)
        recording = !recording
        windowStart = spans.clock.nowMs
      }
    }
    if (traced && recording) windows += Seq(windowStart, spans.clock.nowMs)
    val totalRows = num(awaitCtl("gen_done", 5)("rows"))
    mark("rate phase over")
    val processedAll = drained && awaitRows(queries, progress, totalRows, 30)
    recording = false
    mark("all rows read")

    // the last progress report must describe the last committed batch
    awaitIdle(progress)
    val watermarks = queries.map { case (name, q) =>
      name -> Option(q.lastProgress).flatMap(p => Option(p.eventTime.get("watermark")))
    }.toMap
    val failures = queries.flatMap { case (name, q) => q.exception.map(e => name -> e.getMessage) }.toMap
    queries.foreach(_._2.stop())
    org.apache.spark.GraftBenchBridge.drainListenerBus(sc)
    val heap = BenchMain.heapLiveMb()
    mark("stopped")

    val parity = spans.around(true, "verify", -1) { _ =>
      parityChecks(watermarks("windowed").map(java.time.Instant.parse(_).getEpochSecond))
    } ++ failures.map { case (h, e) => h -> Some(s"query failed: $e") }
    mark("checked")
    Map(
      "build_ms" -> buildMs, "prime_s" -> primeS, "processed_all" -> processedAll,
      "heap_live_mb" -> heap, "parity" -> parity.map { case (h, e) => h -> e.orNull },
      "progress" -> progress.json.map(BenchMain.mapper.readTree),
      "trace_windows" -> windows.toList,
      "persisted_rdds" -> sc.getPersistentRDDs.size,
      "jobs" -> (if (traced) jobs.records.map(_.json) else Nil))
  }

  /** Each sink against its batch twin over every offered file, the four
    * checks side by side: None when they agree, else what differs.
    */
  private def parityChecks(watermarkS: Option[Long]): Map[String, Option[String]] = {
    val events = Sinks.eventsFromJsonl(spark, bus).drop("ts_us").cache()
    def read(h: String) = spark.read.parquet(out(h))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    def check(name: String)(body: => Option[String]) = name -> pool.submit { () =>
      try body catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    }

    val checks = Seq(
      check("sessionize") {
        // append mode, no timeout: every user's last session stays open
        val live = read("sessionize").select("user_id", "start_us", "end_us", "n_events")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
        val all = EventOps.sessionGap(events)
          .select("user_id", "session_idx", "start_us", "end_us", "n_events").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        val lastIdx = all.groupBy(_._1).map { case (u, s) => u -> s.map(_._2).max }
        val closed = all.filter(t => t._2 != lastIdx(t._1)).map(t => (t._1, t._3, t._4, t._5)).toSet
        differs(live, closed)
      },
      check("trim") {
        val evicted = read("trim").select("user_id", "event_id", "ts_us").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        val live = evicted.groupBy(_._1).map { case (u, rs) =>
          (u, rs.length.toLong, rs.map(_._3).min, rs.map(_._3).max)
        }.toSet
        val batch = EventOps.trimOverflow(events, 50)
          .select("user_id", "n_archived", "min_us", "max_us").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
        differs(live, batch)
      },
      check("dead_letter") {
        val rows = read("dead_letter")
          .select("user_id", "event_type", "value_key", "delivery_count").collect()
          .map(r => ((r.getLong(0), r.getString(1), r.getLong(2)), r.getLong(3)))
        val batch = EventOps.deadLetter(events, 3)
          .join(events.select(col("event_id"), floor(col("value")).cast("long").as("value_key")),
            "event_id")
          .select("user_id", "event_type", "value_key").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
        if (rows.map(_._1).distinct.length != rows.length) Some("an identity dead-lettered twice")
        else if (rows.exists(_._2 != 3L)) Some("dead-lettered off the third delivery")
        else differs(rows.map(_._1).toSet, batch)
      },
      check("windowed") {
        // append mode emits a window once the watermark passes its end
        val live = read("windowed")
          .selectExpr("unix_seconds(window.start)", "event_type", "n_events", "total_value")
          .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
        val emittedTo = (live.map(_._1 + 3600L) ++ watermarkS).maxOption.getOrElse(Long.MinValue)
        val batch = EventOps.windowTumbling(events)
          .select("hour_start_s", "event_type", "n_events", "total_value").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
          .filter(_._1 + 3600L <= emittedTo).toSet
        differs(live, batch)
      })
    try checks.map { case (name, f) => name -> f.get() }.toMap
    finally { pool.shutdown(); events.unpersist() }
  }
}

object LiveBus {
  def num(v: Any): Long = v.asInstanceOf[Number].longValue

  /** None when the two sets agree and are non-empty, else a short account. */
  def differs[T](live: Set[T], batch: Set[T]): Option[String] =
    if (batch.isEmpty) Some("batch twin is empty: nothing was checked")
    else if (live == batch) None
    else Some(s"live ${live.size} rows vs batch ${batch.size}: " +
      s"${(live -- batch).size} only live, ${(batch -- live).size} only batch, " +
      s"e.g. ${(live -- batch).headOption.orElse((batch -- live).headOption).getOrElse("")}")
}
