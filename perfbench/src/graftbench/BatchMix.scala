package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.operators.EventOps
import graft.sources.{Sinks, Tables}

/** One operation of a batch mix. */
sealed trait Op {
  def name: String
  def family: String
}

/** A `SparkEntry.queries` row, run to completion and collected. */
final case class QueryOp(name: String, family: String) extends Op

/** A `sources.Sinks` write of `input` to a fresh directory; its output
  * is read back (untimed) to be checked.
  */
final case class WriteOp(name: String, input: (SparkSession, String) => DataFrame,
    write: (DataFrame, String) => Unit, readBack: (SparkSession, String) => DataFrame) extends Op {
  val family = "Sinks"
}

object BatchMix {
  /** The event rows of the `event_queries` mix: one or two rows per
    * mechanism EventOps and Temporal offer (routing, keep-last-N,
    * as-of and range joins, sessions, windows, RANGE frames, funnels,
    * dead-lettering, journeys, payload JSON), cut from all 35 `ev_*`
    * rows so that a cold pass, a fixed run and the output checks fit
    * the benchmark's time budget.
    */
  val EventRows: Seq[String] = Seq(
    "ev_route_counts", "ev_session_gap", "ev_rate_limit", "ev_dead_letter", "ev_asof_join")

  /** The heaviest pipeline rows of each family, cut from the 16 named
    * for `corpus_curation` for the same time budget.
    */
  val CorpusRows: Seq[String] = Seq(
    "dd_containment_strat_budget", "ann_ivfpq_topk", "txt_tfidf_terms", "samp_dsir")

  /** The operator object a row calls, for the per-family breakdown. */
  def familyOf(row: String): String = row match {
    case "ev_asof_join" | "ev_range_join" => "Temporal"
    case r if r.startsWith("ev_") => "EventOps"
    case r if r.startsWith("txt_") || r.startsWith("pipe_") || r == "dd_clean_pipeline" => "TextOps"
    case r if r.startsWith("dd_") => "Dedup"
    case r if r.startsWith("ann_") => "Similarity"
    case r if r.startsWith("samp_") => "Sampling"
  }

  def mix(workload: String): Seq[Op] = workload match {
    case "event_queries" =>
      EventRows.map(r => QueryOp(r, familyOf(r))) ++ Seq(
        // the reference's trim-and-archive: overflow records to gzipped JSONL
        WriteOp("sink_archive_trimmed",
          (s, dir) => EventOps.trimOverflow(Tables(s, dir).events, 50),
          Sinks.archiveJsonl, (s, path) => s.read.json(path)),
        WriteOp("sink_events_partitioned", (s, dir) => Tables(s, dir).events,
          Sinks.writeEventsPartitioned, (s, path) => s.read.parquet(path)))
    case "corpus_curation" => CorpusRows.map(r => QueryOp(r, familyOf(r)))
    case other => throw new IllegalArgumentException(s"unknown batch workload $other")
  }

  /** Order-free content hash: the wrapping sum of a 64-bit hash per row,
    * so it compares row multisets, not the order a plan emitted them.
    */
  def contentHash(rows: Array[Row]): Long = rows.foldLeft(0L) { (acc, r) =>
    val s = r.toSeq
    acc + ((MurmurHash3.seqHash(s).toLong << 32) | (MurmurHash3.orderedHash(s, 0x3c6ef372) & 0xffffffffL))
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala.foreach(Files.delete)
    finally w.close()
  }

  /** Data files under a written directory (no markers, no checksums). */
  def dataFiles(p: Path): Int = {
    val w = Files.walk(p)
    try w.iterator().asScala.count { f =>
      val n = f.getFileName.toString
      Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
    } finally w.close()
  }
}

/** Closed loop, one client: after a cold priming pass (whose outputs
  * are dumped for the DuckDB check), passes over the mix repeat until
  * the run's time is up and at least three passes are complete. Each
  * operation is timed from the `SparkEntry` call (or the `Sinks`
  * input's construction) to its collected result (or finished write).
  * Between operations, untimed, the output is hashed and the block
  * store is released, as `graft.Bench` does.
  *
  * In a traced run every other execution of each operation (alternating
  * by pass) is traced: its jobs are recorded and spans cover build,
  * plan and exec. The untraced executions give the tracing overhead.
  */
final class BatchMix(spark: SparkSession, workload: String, dataDir: String, runDir: String,
    seconds: Double, traced: Boolean, spans: Spans) {
  import BatchMix._

  private val sc = spark.sparkContext
  private val ops = mix(workload)
  private val jobs = new JobListener(spans.clock, _.startsWith("t:"))
  if (traced) sc.addSparkListener(jobs)

  /** Run `op` once. The priming pass runs its operations side by side
    * (`dump`: outputs are kept for the DuckDB check) and releases the
    * block store only when all of them are done.
    */
  private def execute(op: Op, pass: Int, trace: Boolean, dump: Boolean): Map[String, Any] = {
    val key = s"${if (trace) "t" else "u"}:$pass:${op.name}"
    val opId = if (trace) spans.newId() else -1
    sc.setJobGroup(key, op.name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val produced: Either[String, (Array[Row], DataFrame, Option[Path])] =
      try Right(op match {
        case QueryOp(name, _) =>
          val df = spans.around(trace, "build", opId)(_ => SparkEntry.queries(name)(spark, dataDir))
          if (trace) spans.around(trace, "plan", opId)(_ => df.queryExecution.executedPlan)
          val rows = spans.around(trace, "exec", opId)(_ => df.collect())
          (rows, df, None)
        case w: WriteOp =>
          val path = Paths.get(runDir, "sink", s"${w.name}-$pass")
          val df = spans.around(trace, "build", opId)(_ => w.input(spark, dataDir))
          spans.around(trace, "exec", opId)(_ => w.write(df, path.toString))
          (Array.empty[Row], df, Some(path))
      })
      catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val t1 = System.nanoTime()
    val persisted = sc.getPersistentRDDs.size
    if (trace)
      spans.add(opId, "op", -1, spans.clock.fromNano(t0), spans.clock.fromNano(t1), key)
    sc.setJobGroup(s"v:$pass:${op.name}", "verify", interruptOnCancel = false)
    val checked = spans.around(trace, "verify", -1) { _ =>
      produced.flatMap { case (rows, df, written) =>
        try Right(written match {
          case None =>
            if (dump) spark.createDataFrame(rows.toList.asJava, df.schema).coalesce(1)
              .write.parquet(Paths.get(runDir, "dump", op.name).toString)
            (rows.length.toLong, contentHash(rows), 0)
          case Some(path) =>
            val back = op.asInstanceOf[WriteOp].readBack(spark, path.toString).collect()
            val files = dataFiles(path)
            deleteTree(path)
            (back.length.toLong, contentHash(back), files)
        })
        catch { case e: Throwable => Left(s"verify ${e.getClass.getSimpleName}: ${e.getMessage}") }
      }
    }
    sc.clearJobGroup()
    if (!dump) spans.around(trace, "release", -1)(_ => release())
    val base = Map("op" -> op.name, "family" -> op.family, "pass" -> pass,
      "ms" -> (t1 - t0) / 1e6, "traced" -> trace, "persisted_rdds" -> persisted,
      "write" -> op.isInstanceOf[WriteOp])
    checked match {
      case Right((n, hash, files)) => base ++ Map("rows" -> n, "hash" -> hash, "files" -> files)
      case Left(err) => base + ("error" -> err)
    }
  }

  private def release(): Unit = {
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  def run(): Map[String, Any] = {
    val primeStart = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(sc.defaultParallelism)
    val prime = try {
      val pending = ops.map(op => pool.submit(() => execute(op, 0, trace = false, dump = true)))
      pending.map(_.get())
    } finally pool.shutdown()
    release()
    val primeS = (System.nanoTime() - primeStart) / 1e9
    // model-backed oracles exist only once their row has trained in this JVM
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => ops.exists(_.name == k) }
    Files.writeString(Paths.get(runDir, "oracle_sql.json"), BenchMain.mapper.writeValueAsString(oracles))

    val execs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var complete = 0
    // three full passes at least: a median of three drops one slow sample
    def more = System.nanoTime() < deadline || complete < 3
    var pass = 1
    while (more) {
      val it = ops.zipWithIndex.iterator
      while (it.hasNext && more) {
        val (op, i) = it.next()
        execs += execute(op, pass, traced && (i + pass) % 2 == 0, dump = false)
      }
      if (!it.hasNext) complete += 1
      pass += 1
    }
    val measuredS = (System.nanoTime() - deadline) / 1e9 + seconds
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val heap = BenchMain.heapLiveMb()
    if (traced) org.apache.spark.GraftBenchBridge.drainListenerBus(sc)
    Map("ops" -> ops.map(o => Map("name" -> o.name, "family" -> o.family,
        "oracle" -> oracles.contains(o.name), "write" -> o.isInstanceOf[WriteOp])),
      "prime" -> prime, "prime_s" -> primeS, "execs" -> execs.toList,
      "measured_s" -> measuredS, "heap_live_mb" -> heap,
      "jobs" -> (if (traced) jobs.records.map(_.json) else Nil))
  }
}
