package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.{CacheRegistry, SparkEntry}

/** The batch workloads: timed passes over a query list through
  * `SparkEntry.queries`, each query built, planned and executed into the
  * `noop` sink as graft.Bench does, then one untimed verifying execution per
  * query against the pinned digests.
  */
object BatchRun {
  /** Workload -> its queries, which all read the `documents` table. */
  val Workloads: Map[String, Seq[String]] = Map(
    // eager plan-construction work: d6's connected-component supersteps
    // over d4's memo-shared pair list, x24 reusing x23's merge table
    "iterative_chain" -> Seq("d4_ngram_jaccard", "d6_dedup_groups",
      "x23_bpe_merges", "x24_token_compression"))

  /** Reader -> owner of the memo-shared frame it reads. */
  val ReadsFrom: Map[String, String] = Map(
    "d6_dedup_groups" -> "d4_ngram_jaccard",
    "x24_token_compression" -> "x23_bpe_merges")

  /** Input scale and generator seed of the batch tables. The batch inputs
    * are fixed so that outputs can be pinned; the run seed permutes the
    * query order of every pass.
    */
  val Sf = 0.01
  val DataSeed = 20261017L

  /** Most warm-up passes a run affords (two pairs). */
  val WarmCap = 4
  /** The pass after which live memory is sampled: the first timed one, at
    * the same point of every run, since Spark's retained job and query
    * records grow the live set by 10-15 MB a pass.
    */
  val LiveSampleAt = WarmCap

  /** One query execution: its three spans and its whole wall time, all
    * in System.nanoTime.
    */
  final case class Span(query: String, pass: Int, build: (Long, Long),
                        plan: (Long, Long), execute: (Long, Long),
                        wall: (Long, Long))
}

final class BatchRun(args: Main.Args, result: Result) {
  import BatchRun._
  import Main._

  private val queries = Workloads(args.workload)
  private var spark: SparkSession = session(cores, args.work)
  private var dataDir = ""
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var tracing = false
  private var storedPeakMb = 0.0

  /** The seed's permutation of the query list. A query that reads another's
    * memo-shared frame stays right after it, so the owner pays the build in
    * every pass, as in graft.Bench.
    */
  private val blocks: Seq[Seq[String]] = {
    val shuffled = new scala.util.Random(args.seed * 7919L).shuffle(queries)
    shuffled.filterNot(ReadsFrom.contains)
      .map(q => q +: shuffled.filter(r => ReadsFrom.get(r).contains(q)))
  }

  /** The order of pass `index`: even passes run the permutation, odd ones
    * its reverse, so across a pair every query has the same neighbours (a
    * query runs slower right after one that leaves cleanup behind) and
    * passes of the same parity are directly comparable.
    */
  private def order(index: Int): Seq[String] =
    (if (index % 2 == 0) blocks else blocks.reverse).flatten

  /** One timed query: build, plan and execute spans; seconds or None. */
  private def runQuery(name: String, pass: Int): Option[(Double, Int)] = {
    val sc = spark.sparkContext
    val w0 = System.nanoTime()
    val before = CacheRegistry.sharedKeys
    result.attempted += 1
    var span: Option[Span] = None
    try {
      val t0 = System.nanoTime()
      sc.setLocalProperty(Trace.SpanKey, s"$name:build")
      val df = SparkEntry.queries(name)(spark, dataDir)
      val t1 = System.nanoTime()
      sc.setLocalProperty(Trace.SpanKey, s"$name:plan")
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      sc.setLocalProperty(Trace.SpanKey, s"$name:execute")
      df.write.format("noop").mode("overwrite").save()
      val t3 = System.nanoTime()
      sc.setLocalProperty(Trace.SpanKey, null)
      if (tracing) {
        span = Some(Span(name, pass, (t0, t1), (t1, t2), (t2, t3), (w0, w0)))
        val stored = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
        storedPeakMb = math.max(storedPeakMb, stored / 1048576.0)
      }
      say(f"  $name ${(t3 - t0) / 1e9}%.3f s")
      Some(((t3 - t0) / 1e9, (CacheRegistry.sharedKeys -- before).size))
    } catch {
      case e: Throwable =>
        result.fail(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        None
    } finally {
      sc.setLocalProperty(Trace.SpanKey, null)
      CacheRegistry.releaseAll()
      span.foreach(s => spans += s.copy(wall = (w0, System.nanoTime())))
    }
  }

  final case class Pass(index: Int, seconds: Double, queries: Seq[(String, Double)],
                        sharedBuilds: Int, startMs: Long, endMs: Long,
                        codegen: (Long, Double), liveMb: Double)

  /** One pass over the query list. Pass `LiveSampleAt` samples live memory
    * while its memo-shared frames are still held, outside the timed span.
    */
  private def pass(index: Int): Pass = {
    val cg0 = Trace.codegen()
    val startMs = nowMs()
    val t0 = System.nanoTime()
    val rs = order(index).flatMap(q => runQuery(q, index).map(r => (q, r)))
    val t1 = System.nanoTime()
    val live = if (index == LiveSampleAt) liveMb() else 0.0
    val t2 = System.nanoTime()
    CacheRegistry.releaseShared()
    val sec = (t1 - t0 + System.nanoTime() - t2) / 1e9
    val cg1 = Trace.codegen()
    say(f"pass $index: $sec%.2f s" + (if (live > 0) f"; live $live%.1f MB" else ""))
    Pass(index, sec, rs.map(r => r._1 -> r._2._1), rs.map(_._2._2).sum, startMs, nowMs(),
      (cg1._1 - cg0._1, cg1._2 - cg0._2), live)
  }

  def run(): Unit = {
    // set-up: session (above), input generation, warm-up in pairs of
    // passes until a pair takes within 5% of the pair before
    dataDir = s"${args.work}/data"
    val g0 = System.nanoTime()
    DataGen.documents(spark, dataDir, Sf, DataSeed)
    val genS = (System.nanoTime() - g0) / 1e9
    val warm = mutable.ArrayBuffer.empty[Pass]
    while (!settled(warm.map(_.seconds).toSeq, 2, WarmCap)) warm += pass(warm.size)
    result.gauge("setup_s", (nowMs() - args.t0) / 1000.0, "s", e2e = true)
    result.note(f"setup detail: input generation $genS%.2f s; ${warm.size} warm-up passes " +
      f"${warm.map(p => f"${p.seconds}%.2f").mkString(",")} s" +
      (if (!settled(warm.map(_.seconds).toSeq, 2, Int.MaxValue)) " (capped before settling)" else ""))

    // timed passes: as many pairs as fit in --seconds at the last warm-up
    // pass's speed, at least two pairs: a pass varies by ±15% between runs
    // of one JVM, and the median of four steadies it
    val next = warm.size
    val pairs = math.max(2, math.round(args.seconds / (2 * warm.last.seconds)).toInt)
    val passS =
      if (!args.trace) reportTimed((next until next + 2 * pairs).map(pass))
      else {
        // untraced, traced, untraced: one pair of orders each, so that
        // order effects and drift fall on both alike
        val t = new Trace(spark)
        def tracedPass(i: Int) = {
          tracing = true
          try t.traced(pass(i)) finally tracing = false
        }
        val before = Seq(pass(next), pass(next + 1))
        val traced = Seq(tracedPass(next + 2), tracedPass(next + 3))
        val passS = reportTimed(before ++ Seq(pass(next + 4), pass(next + 5)))
        reportTrace(t, traced, passS)
        passS
      }
    verify()
    if (args.trace) singleCore(passS)
    spark.stop()
  }

  /** Reports the untraced timed passes; returns the median pass time.
    * Drift compares the first and last pass that run the same order.
    */
  private def reportTimed(ps: Seq[Pass]): Double = {
    val qs = ps.flatMap(_.queries)
    val passS = median(ps.map(_.seconds))
    val forward = ps.filter(_.index % 2 == 0)
    result.gauge("pass_s", passS, "s", e2e = true)
    result.gauge("live_mem_mb", ps.map(_.liveMb).max, "MB", e2e = true)  // one pass samples
    result.gauge("query_p50_s", medianOfMedians(qs), "s", e2e = true)
    result.note(f"query_p50_s samples: ${qs.size} executions of ${qs.map(_._1).distinct.size} queries over ${ps.size} passes")
    if (qs.size >= 100)
      result.note(f"query_p90_s ${percentile(qs.map(_._2), 0.9)}%.6f s (n=${qs.size})")
    result.gauge("harness.pass_drift", forward.last.seconds / forward.head.seconds, "ratio", e2e = false)
    passS
  }

  private def reportTrace(t: Trace, ps: Seq[Pass], untracedPassS: Double): Unit = {
    def perPass(f: Pass => Double) = median(ps.map(f))
    t.report(result, ps.map(p => (p.startMs, p.endMs)), cores)
    def spanSum(p: Pass, f: Span => (Long, Long)) =
      spans.filter(_.pass == p.index).map(s => f(s)._2 - f(s)._1).sum / 1e9
    result.gauge("operators.build_s", perPass(spanSum(_, _.build)), "s", e2e = false)
    result.gauge("planner.plan_s", perPass(spanSum(_, _.plan)), "s", e2e = false)
    result.gauge("codegen.compiles", perPass(_.codegen._1.toDouble), "count", e2e = false)
    result.gauge("codegen.compile_s", perPass(_.codegen._2), "s", e2e = false)
    result.gauge("cache.shared_builds", perPass(_.sharedBuilds.toDouble), "count", e2e = false)
    result.gauge("cache.stored_mb_peak", storedPeakMb, "MB", e2e = false)
    result.gauge("harness.trace_overhead", perPass(_.seconds) / untracedPassS - 1, "ratio", e2e = false)
    // share of each query's wall time that its three spans cover
    val cover = spans.map(s => (s.execute._2 - s.build._1).toDouble).sum /
      math.max(1.0, spans.map(s => (s.wall._2 - s.wall._1).toDouble).sum)
    result.gauge("harness.span_coverage", cover, "ratio", e2e = false)
    StreamRun.zeroStreamingLayers(result)
    writeSpans(ps)
  }

  private def writeSpans(ps: Seq[Pass]): Unit = {
    val om = new ObjectMapper()
    val root = om.createObjectNode()
    root.put("workload", args.workload); root.put("seed", args.seed)
    val arr = root.putArray("spans")
    spans.foreach { s =>
      Seq("build" -> s.build, "plan" -> s.plan, "execute" -> s.execute).foreach { case (n, (a, b)) =>
        val o = arr.addObject()
        o.put("query", s.query); o.put("pass", s.pass); o.put("span", n)
        o.put("start_ns", a); o.put("end_ns", b)
      }
    }
    val pa = root.putArray("passes")
    ps.foreach { p => val o = pa.addObject(); o.put("pass", p.index); o.put("seconds", p.seconds) }
    writeString(s"${args.work}/trace.json", om.writeValueAsString(root))
  }

  /** One untimed verifying execution per query against the pinned digest. */
  private def verify(): Unit = {
    val pinned = loadExpected()
    val seen = mutable.Map.empty[String, (Long, String)]
    order(0).foreach { q =>
      result.attempted += 1
      try {
        val d = digest(SparkEntry.queries(q)(spark, dataDir))
        seen(q) = d
        pinned.get(q) match {
          case Some(want) if want == d => ()
          case Some(want) => result.fail(s"$q: got rows=${d._1} digest=${d._2}, want rows=${want._1} digest=${want._2}")
          case None if args.record => ()
          case None => result.fail(s"$q: no pinned digest")
        }
      } catch {
        case e: Throwable => result.fail(s"$q verify: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      } finally CacheRegistry.releaseAll()
    }
    CacheRegistry.releaseShared()
    if (args.record) result.recorded = seen.toMap
  }

  private def loadExpected(): Map[String, (Long, String)] = {
    val f = new File(args.expected)
    if (!f.exists()) return Map.empty
    val node = new ObjectMapper().readTree(f).path("queries")
    node.fieldNames().asScala.map { q =>
      val e = node.get(q)
      q -> (e.get("rows").asLong(), e.get("digest").asText())
    }.toMap
  }

  /** One pass at local[1], for exec.speedup_vs_1core. */
  private def singleCore(passS: Double): Unit = {
    spark.stop()
    spark = session(1, args.work)
    val p = pass(0)
    result.gauge("exec.speedup_vs_1core", p.seconds / passS, "ratio", e2e = false)
  }
}
