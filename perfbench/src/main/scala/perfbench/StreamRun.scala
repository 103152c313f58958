package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.sinks.Sinks
import graft.sources.EventSources
import graft.streaming.StreamOps

/** The five reference jobs as Structured Streaming twins, written as CSV
  * through `graft.sinks`. Four read seeded telemetry landed as CSV files
  * through `carDataCsvStream` and `carDataAsEvents`; `congestionDaily`,
  * which counts purchases, reads seeded event-schema parquet files through
  * `eventStream` (see `DataGen.eventFiles`).
  *
  * Phase (a) drains a fixed staged backlog with all five queries running
  * concurrently; phase (b) is an open loop in which one generator thread
  * lands files on a fixed schedule while the five queries run.
  */
object StreamRun {
  val Twins: Seq[String] = Seq("speedRadar", "rateOfChange", "accidentRuns",
    "congestionDaily", "saturatedPairs")

  /** Backlog: files x events per file, for each of the two inputs. */
  val BacklogFiles = 8
  val BacklogPerFile = 2500
  /** Open loop: one file of this many events per input every
    * `OpenPeriodMs`. With about 200 vehicles, 250 reports cover 37.5 s of
    * event time: the loop replays event time 375 times faster than real
    * time, and an events file covers 12 hours.
    */
  val OpenPerFile = 250
  val OpenPeriodMs = 100L
  /** Most warm-up drains a run affords. */
  val WarmCap = 3
  /** The drain (counted from 1) after which live memory is sampled: a
    * timed one, at the same point of every run, since Spark's retained job
    * and query records grow the live set by 10-15 MB a drain.
    */
  val LiveSampleAt = WarmCap + 1

  val StreamingLayers: Seq[(String, String)] = Seq(
    "streaming.batches" -> "count", "streaming.trigger_ms_p50" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.latest_offset_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.state_rows" -> "count", "streaming.state_mem_mb" -> "MB",
    "streaming.state_commit_ms" -> "ms", "streaming.watermark_lag_s" -> "s",
    "streaming.backlog_files_max" -> "count", "streaming.generator_late_ms" -> "ms",
    "streaming.drain_events_per_s" -> "events/s",
    "streaming.latency_p50_ms" -> "ms", "streaming.latency_p99_ms" -> "ms",
    "sinks.output_mb" -> "MB", "sinks.files" -> "count")

  /** The streaming and sink layers are not on a batch workload's path. */
  def zeroStreamingLayers(result: Result): Unit =
    StreamingLayers.foreach { case (k, u) => result.gauge(k, 0.0, u, e2e = false) }

  private def isoMs(s: String): Long = Instant.parse(s).toEpochMilli

  /** A query's two input directories: telemetry CSV and event parquet. */
  final case class Inputs(telemetry: File, events: File)

  /** "part-00012.csv" -> 12. */
  private def fileIndex(name: String): Option[Int] =
    "part-(\\d+)\\.".r.findPrefixMatchOf(name).map(_.group(1).toInt)
}

final class StreamRun(args: Main.Args, result: Result) {
  import Main._
  import StreamRun._

  private var spark: SparkSession = session(cores, args.work)
  private val root = new File(args.work, "stream")
  private val staging = new File(root, "staging")
  private val backlog = Inputs(new File(root, "backlog"), new File(root, "backlog-events"))
  private var started = 0
  private var drains = 0
  private var progress = Seq.empty[StreamingQueryProgress]

  /** The twin's input, as a stream or as a batch over the same files. */
  private def source(name: String, in: Inputs, stream: Boolean): DataFrame =
    if (name == "congestionDaily") {
      if (stream) EventSources.eventStream(spark, in.events.getPath)
      else spark.read.schema(EventSources.eventSchema).parquet(in.events.getPath)
    } else EventSources.carDataAsEvents(
      if (stream) EventSources.carDataCsvStream(spark, in.telemetry.getPath)
      else EventSources.carDataCsv(spark, in.telemetry.getPath))

  private def typed(e: DataFrame): Dataset[StreamOps.Event] = {
    import e.sparkSession.implicits._
    e.select("event_id", "ts", "user_id", "event_type", "value").as[StreamOps.Event]
  }

  /** The twin's transformation, identical for a stream and a batch frame. */
  private def twin(name: String, e: DataFrame): DataFrame = {
    val s = e.sparkSession
    name match {
      case "speedRadar" => StreamOps.speedRadar(e)
      case "rateOfChange" => StreamOps.rateOfChange(s, typed(e)).toDF()
      case "accidentRuns" => StreamOps.accidentRuns(s, typed(e)).toDF()
      case "congestionDaily" => StreamOps.congestionDaily(e)
      case "saturatedPairs" => StreamOps.saturatedPairs(s, typed(e)).toDF()
    }
  }

  final case class Running(name: String, query: StreamingQuery, out: File,
                           ckpt: File, startNs: Long, buildS: Double)

  private def progressOf(r: Running): Seq[StreamingQueryProgress] =
    progress.filter(_.id == r.query.id)

  /** Starts one twin on `input`. Update-mode rateOfChange writes each
    * micro-batch with `Sinks.writeCsv`; the append twins use
    * `Sinks.streamToCsv`.
    */
  private def start(name: String, input: Inputs, tag: String): Running = {
    started += 1
    val id = started
    val out = new File(root, s"out-$tag-$id/$name")
    val ckpt = new File(root, s"ckpt-$tag-$id/$name")
    val t0 = System.nanoTime()
    val df = twin(name, source(name, input, stream = true))
    val buildS = (System.nanoTime() - t0) / 1e9
    val q = if (name == "rateOfChange") {
      val sink: (DataFrame, Long) => Unit =
        (b, batchId) => Sinks.writeCsv(b, s"${out.getPath}/batch=$batchId")
      df.writeStream.outputMode("update")
        .option("checkpointLocation", ckpt.getPath)
        .foreachBatch(sink).start()
    } else Sinks.streamToCsv(df, out.getPath, ckpt.getPath)
    Running(name, q, out, ckpt, t0, buildS)
  }

  /** Waits for every query in its own thread; returns per-query end times. */
  private def drainAll(rs: Seq[Running]): Seq[Long] = {
    val ends = new Array[Long](rs.size)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = rs.zipWithIndex.map { case (r, i) =>
      val t = new Thread(() => {
        try r.query.processAllAvailable()
        catch { case e: Throwable => errors.add(s"${r.name}: ${e.getMessage}".take(300)) }
        ends(i) = System.nanoTime()
      })
      t.start(); t
    }
    threads.foreach(_.join())
    errors.asScala.foreach(result.fail)
    ends.toSeq
  }

  /** Stops the queries; returns how long each stop took (ns). */
  private def stop(rs: Seq[Running]): Seq[Long] = rs.map { r =>
    progress ++= r.query.recentProgress
    val t0 = System.nanoTime()
    r.query.stop()
    System.nanoTime() - t0
  }

  /** One drain pass. `perQuery` runs from the pass start to each twin's
    * last commit; `covered` is the share of the twins' wall time (build,
    * run and stop) that their build and run spans cover.
    */
  final case class Drain(seconds: Double, perQuery: Seq[Double], runs: Seq[Running],
                         startMs: Long, endMs: Long, codegen: (Long, Double),
                         covered: Double, liveMb: Double)

  /** One pass: all five twins drain the staged backlog concurrently. Drain
    * `LiveSampleAt` samples live memory while the queries still hold their
    * state, outside the timed span.
    */
  private def drain(): Drain = {
    drains += 1
    val cg0 = Trace.codegen()
    val startMs = nowMs()
    val t0 = System.nanoTime()
    val rs = Twins.map(start(_, backlog, "drain"))
    val ends = drainAll(rs)
    val sec = (ends.max - t0) / 1e9
    val live = if (drains == LiveSampleAt) liveMb() else 0.0
    val stops = stop(rs)
    result.attempted += rs.size
    val cg1 = Trace.codegen()
    say(f"drain: $sec%.2f s; per twin ${ends.map(e => f"${(e - t0) / 1e9}%.2f").mkString(" ")}" +
      (if (live > 0) f"; live $live%.1f MB" else ""))
    val spans = rs.zip(ends).map { case (r, e) => (e - r.startNs).toDouble }.sum
    Drain(sec, ends.map(e => (e - t0) / 1e9), rs, startMs, nowMs(),
      (cg1._1 - cg0._1, cg1._2 - cg0._2), spans / (spans + stops.sum), live)
  }

  /** The open loop's files, made in set-up: telemetry lines, and event
    * parquet files waiting in `pending`.
    */
  final case class OpenFiles(telemetry: Seq[Array[String]], pending: File)

  private def openFiles(seconds: Double): OpenFiles = {
    val n = math.max(1, (seconds * 1000 / OpenPeriodMs).toInt)
    val gen = new DataGen.Telemetry(args.seed, 2)
    val pending = new File(root, "open-pending"); pending.mkdirs()
    DataGen.eventFiles(spark, pending, args.seed + 1, n, OpenPerFile)
    OpenFiles((0 until n).map(_ => gen.nextFile(OpenPerFile)), pending)
  }

  final case class OpenLoop(latenciesMs: Seq[Double], lateMs: Seq[Double],
                            backlogMax: Int, runs: Seq[Running], input: Inputs)

  /** Phase (b): a file lands in each input every `OpenPeriodMs` while the
    * five twins run; each (query, file) latency runs from the file's
    * scheduled landing to the commit of the batch that read it. A query's
    * first batch with data also plans and compiles, so its files are left
    * out of the samples.
    */
  private def openLoop(files: OpenFiles, tag: String): OpenLoop = {
    val input = Inputs(new File(root, s"open-$tag"), new File(root, s"open-$tag-events"))
    Seq(input.telemetry, input.events).foreach(_.mkdirs())
    val rs = Twins.map(start(_, input, tag))
    val n = files.telemetry.size
    val scheduled = new Array[Long](n)
    val landed = new Array[Long](n)
    val t0 = nowMs() + 200
    files.telemetry.zipWithIndex.foreach { case (lines, i) =>
      scheduled(i) = t0 + i * OpenPeriodMs
      val wait = scheduled(i) - nowMs()
      if (wait > 0) Thread.sleep(wait)
      DataGen.landFile(staging, input.telemetry, f"part-$i%05d.csv", lines)
      val ev = f"part-$i%05d.parquet"
      Files.move(new File(files.pending, ev).toPath, new File(input.events, ev).toPath,
        StandardCopyOption.ATOMIC_MOVE)
      landed(i) = nowMs()
    }
    drainAll(rs)
    stop(rs)
    result.attempted += rs.size
    // per query: file -> batch id (file source log), batch id -> commit time
    val commits = mutable.ArrayBuffer.empty[(Int, Long)]
    var found = 0
    val lat = rs.flatMap { r =>
      val commitAt = progressOf(r)
        .map(p => p.batchId -> (isoMs(p.timestamp) + Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)))
        .toMap
      val read = fileBatches(r.ckpt).flatMap { case (file, batch) =>
        for (i <- fileIndex(file); c <- commitAt.get(batch)) yield (i, batch, c)
      }
      found += read.size
      commits ++= read.map(x => (x._1, x._3))
      val first = if (read.isEmpty) -1L else read.map(_._2).min
      read.filter(_._2 != first).map { case (i, _, c) => (c - scheduled(i)).toDouble }
    }
    if (found != n * rs.size)
      result.fail(s"open loop: $found of ${n * rs.size} (query, file) commits found")
    // backlog at each landing: files landed minus files every query committed
    val done = commits.groupBy(_._1).map { case (i, cs) => i -> cs.map(_._2).max }
    val backlogMax = landed.indices.map(i => (0 to i).count(j => done.getOrElse(j, Long.MaxValue) > landed(i))).max
    OpenLoop(lat, landed.indices.map(i => (landed(i) - scheduled(i)).toDouble), backlogMax, rs, input)
  }

  /** File name -> batch id, from the query's file source metadata log. */
  private def fileBatches(ckpt: File): Seq[(String, Long)] = {
    val dir = new File(ckpt, "sources/0")
    val entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r
    Option(dir.listFiles()).toSeq.flatten.filter(_.getName.matches("\\d+(\\.compact)?")).flatMap { f =>
      scala.io.Source.fromFile(f).getLines().flatMap(l => entry.findFirstMatchIn(l))
        .map(m => new File(new java.net.URI(m.group(1)).getPath).getName -> m.group(2).toLong).toSeq
    }.distinct
  }

  /** Each twin's sink output must equal the same function run as a batch
    * over every file that landed in `input`. An append-mode window emits a
    * day only once the watermark passes its end, so for `congestionDaily`
    * the batch result is cut at the last watermark the query reached. An
    * empty batch result fails: it would check nothing.
    */
  private def verify(runs: Seq[Running], input: Inputs, what: String): Unit = {
    // the twins are independent and their checks are short jobs: run them
    // concurrently, as the twins themselves run
    result.attempted += runs.size
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = runs.map { r =>
      val t = new Thread(() => verifyOne(r, input, what).foreach(failures.add))
      t.start(); t
    }
    threads.foreach(_.join())
    failures.asScala.foreach(result.fail)
  }

  /** Checks one twin; returns what failed, if anything. */
  private def verifyOne(r: Running, input: Inputs, what: String): Option[String] =
    try {
      val all = twin(r.name, source(r.name, input, stream = false))
      val want = if (r.name != "congestionDaily") all else {
        val wm = progressOf(r).flatMap(p => Option(p.eventTime.get("watermark"))).map(isoMs).max
        all.filter(unix_millis(to_timestamp(col("day"), "yyyy/MM/dd")) + 86400000L <= wm)
      }
      val got = if (r.name == "rateOfChange") latestPerKey(want, r.out)
        else spark.read.schema(want.schema).csv(r.out.getPath)
      val (wn, wd) = digest(want)
      val (gn, gd) = digest(got)
      if (wn == 0) Some(s"$what ${r.name}: the batch reference is empty")
      else if (wn != gn || wd != gd)
        Some(s"$what ${r.name}: sink rows=$gn digest=$gd, batch rows=$wn digest=$wd")
      else None
    } catch {
      case e: Throwable => Some(s"$what ${r.name} verify: ${e.getMessage}".take(300))
    }

  /** Update-mode output: the last emitted row of each key. */
  private def latestPerKey(want: DataFrame, out: File): DataFrame = {
    val rows = spark.read.schema(want.schema).csv(s"${out.getPath}/batch=*")
      .withColumn("_batch", regexp_extract(input_file_name(), "batch=(\\d+)", 1).cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "event_type").orderBy(col("_batch").desc)
    rows.withColumn("_rank", row_number().over(w)).filter(col("_rank") === 1)
      .select(want.columns.map(col).toSeq: _*)
  }

  def run(): Unit = {
    // set-up: stage the backlog and the open loop's files, then warm up
    // until a drain takes within 5% of the one before
    Seq(root, staging, backlog.telemetry, backlog.events).foreach(_.mkdirs())
    val g = new DataGen.Telemetry(args.seed, 1)
    (0 until BacklogFiles).foreach(f =>
      DataGen.landFile(staging, backlog.telemetry, f"part-$f%05d.csv", g.nextFile(BacklogPerFile)))
    say("backlog telemetry staged")
    DataGen.eventFiles(spark, backlog.events, args.seed, BacklogFiles, BacklogPerFile)
    say("backlog events staged")
    // the open loop lands files for half of --seconds
    val open = openFiles(0.5 * args.seconds)
    say("inputs staged")
    val warm = mutable.ArrayBuffer.empty[Drain]
    while (!settled(warm.map(_.seconds).toSeq, 1, WarmCap)) warm += drain()
    result.gauge("setup_s", (nowMs() - args.t0) / 1000.0, "s", e2e = true)
    result.note(f"setup detail: ${warm.size} warm-up drains ${warm.map(d => f"${d.seconds}%.2f").mkString(",")} s" +
      (if (!settled(warm.map(_.seconds).toSeq, 1, Int.MaxValue)) " (capped before settling)" else "") + f"; ${g.vehicles} vehicles")

    // phase (a): as many timed drains as fit in half of --seconds at the
    // last warm-up drain's speed, at least three; when
    // traced, untraced and traced drains alternate in the order U T T U ..,
    // so that warm-up drift falls on both alike
    val t = new Trace(spark)
    val n = math.max(3, math.round(args.seconds / 2 / warm.last.seconds).toInt)
    val (timed, traced) =
      if (!args.trace) ((0 until n).map(_ => drain()), Nil)
      else (0 until n).map { i =>
        if (i % 2 == 0) { val u = drain(); (u, t.traced(drain())) }
        else { val tr = t.traced(drain()); (drain(), tr) }
      }.unzip
    val events = 2L * BacklogFiles * BacklogPerFile
    val passS = median(timed.map(_.seconds))
    result.gauge("pass_s", passS, "s", e2e = true)
    result.gauge("live_mem_mb", (timed ++ traced).map(_.liveMb).max, "MB", e2e = true)  // one drain samples
    result.gauge("query_p50_s", medianOfMedians(timed.flatMap(d => Twins.zip(d.perQuery))), "s", e2e = true)
    result.gauge("harness.pass_drift", timed.last.seconds / timed.head.seconds, "ratio", e2e = false)
    result.note(f"stream_drain_events_per_s ${events / passS}%.1f events/s (median of ${timed.size} drains of $events events)")
    result.gauge("streaming.drain_events_per_s", events / passS, "events/s", e2e = false)
    result.note(f"query_p50_s samples: ${timed.size * Twins.size} twin drains")
    verify((timed ++ traced).last.runs, backlog, "drain")
    say("drain verified")

    // phase (b): the open loop, traced in a traced run
    val ol = if (args.trace) t.traced(openLoop(open, "open")) else openLoop(open, "open")
    say("open loop done")
    reportLatency(ol)
    verify(ol.runs, ol.input, "open loop")
    say("open loop verified")
    if (args.trace) {
      reportTrace(t, traced, ol, passS)
      singleCore(passS)
    }
    spark.stop()
  }

  private def reportLatency(ol: OpenLoop): Unit = {
    result.gauge("streaming.latency_p50_ms", percentile(ol.latenciesMs, 0.5), "ms", e2e = false)
    result.gauge("streaming.latency_p99_ms", percentile(ol.latenciesMs, 0.99), "ms", e2e = false)
    result.note(f"stream_latency_p50_ms ${percentile(ol.latenciesMs, 0.5)}%.1f ms (n=${ol.latenciesMs.size})")
    result.note(f"stream_latency_p99_ms ${percentile(ol.latenciesMs, 0.99)}%.1f ms (n=${ol.latenciesMs.size}, limit 5000 ms)")
  }

  private def reportTrace(t: Trace, ps: Seq[Drain], ol: OpenLoop,
                          untracedPassS: Double): Unit = {
    def perPass(f: Drain => Double) = median(ps.map(f))
    t.report(result, ps.map(p => (p.startMs, p.endMs)), cores)
    val prog = t.progress.asScala.toSeq
    def inDrain(p: Drain) = prog.filter(x => isoMs(x.timestamp) >= p.startMs && isoMs(x.timestamp) <= p.endMs)
    def dur(p: StreamingQueryProgress, k: String) = p.durationMs.asScala.get(k).map(_.toDouble).getOrElse(0.0)
    result.gauge("operators.build_s", perPass(_.runs.map(_.buildS).sum), "s", e2e = false)
    result.gauge("planner.plan_s", perPass(p => inDrain(p).map(dur(_, "queryPlanning")).sum / 1000), "s", e2e = false)
    result.gauge("codegen.compiles", perPass(_.codegen._1.toDouble), "count", e2e = false)
    result.gauge("codegen.compile_s", perPass(_.codegen._2), "s", e2e = false)
    result.gauge("cache.shared_builds", 0.0, "count", e2e = false)
    result.gauge("cache.stored_mb_peak", 0.0, "MB", e2e = false)
    result.gauge("harness.trace_overhead", perPass(_.seconds) / untracedPassS - 1, "ratio", e2e = false)
    result.gauge("harness.span_coverage", perPass(_.covered), "ratio", e2e = false)

    // streaming layer: the open loop's micro-batches that read data
    val openIds = ol.runs.map(_.query.id).toSet
    val open = prog.filter(p => openIds(p.id) && p.numInputRows > 0)
    val last = ol.runs.flatMap(r => prog.filter(_.id == r.query.id).lastOption)
    def p50(k: String) = median(open.map(dur(_, k)))
    val lag = open.flatMap { p =>
      val et = p.eventTime.asScala
      for (mx <- et.get("max"); wm <- et.get("watermark")) yield (isoMs(mx) - isoMs(wm)) / 1000.0
    }
    result.gauge("streaming.batches", open.size.toDouble, "count", e2e = false)
    result.gauge("streaming.trigger_ms_p50", p50("triggerExecution"), "ms", e2e = false)
    result.gauge("streaming.add_batch_ms", p50("addBatch"), "ms", e2e = false)
    result.gauge("streaming.query_planning_ms", p50("queryPlanning"), "ms", e2e = false)
    result.gauge("streaming.latest_offset_ms", p50("latestOffset"), "ms", e2e = false)
    result.gauge("streaming.wal_commit_ms", p50("walCommit"), "ms", e2e = false)
    result.gauge("streaming.state_rows", last.flatMap(_.stateOperators).map(_.numRowsTotal).sum.toDouble, "count", e2e = false)
    result.gauge("streaming.state_mem_mb", last.flatMap(_.stateOperators).map(_.memoryUsedBytes).sum / 1048576.0, "MB", e2e = false)
    result.gauge("streaming.state_commit_ms", median(open.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)), "ms", e2e = false)
    result.gauge("streaming.watermark_lag_s", median(lag), "s", e2e = false)
    result.gauge("streaming.backlog_files_max", ol.backlogMax.toDouble, "count", e2e = false)
    result.gauge("streaming.generator_late_ms", ol.lateMs.max, "ms", e2e = false)
    val parts = ol.runs.flatMap(r => listFiles(r.out)).filter(f => f.getName.startsWith("part-"))
    result.gauge("sinks.output_mb", parts.map(_.length).sum / 1048576.0, "MB", e2e = false)
    result.gauge("sinks.files", parts.size.toDouble, "count", e2e = false)
  }

  private def listFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(listFiles) else Seq(f)

  /** One drain pass at local[1], for exec.speedup_vs_1core. */
  private def singleCore(passS: Double): Unit = {
    spark.stop()
    spark = session(1, args.work)
    val d = drain()
    result.gauge("exec.speedup_vs_1core", d.seconds / passS, "ratio", e2e = false)
  }
}
