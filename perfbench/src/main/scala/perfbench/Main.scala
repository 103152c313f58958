package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark entry point. `run.py` builds the classpath and calls
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --out <result.json> --t0 <epoch ms>
  *                [--expected <expected.json>] [--record]
  * }}}
  *
  * and relays the result file as the benchmark's last stdout line.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, out: String, t0: Long,
                        expected: String, record: Boolean)

  def parse(a: Array[String]): Args = {
    val flags = Set("--record")
    val m = a.filterNot(flags).grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("work"), m("out"), m("t0").toLong, m.getOrElse("expected", ""),
      a.contains("--record"))
  }

  /** The session graft.Bench builds: local[cores], shuffle partitions =
    * cores, UTC. Scratch directories are kept inside the work directory.
    */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def cores: Int = Runtime.getRuntime.availableProcessors()

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--dump")) return dump(argv(1), argv(2))
    val args = parse(argv)
    val result = new Result
    args.workload match {
      case w if BatchRun.Workloads.contains(w) => new BatchRun(args, result).run()
      case "reference_stream" => new StreamRun(args, result).run()
      case w => sys.error(s"unknown workload $w")
    }
    result.note(f"peak_rss_mb ${peakRssMb()}%.1f MB (VmHWM; follows the fixed 1 GB heap, see live_mem_mb)")
    result.write(args)
  }

  /** Writes a batch workload's input table to `dir` and prints its query
    * names, for the one-time DuckDB oracle cross-check.
    */
  def dump(workload: String, dir: String): Unit = {
    val spark = session(cores, dir + "-scratch")
    DataGen.documents(spark, dir, BatchRun.Sf, BatchRun.DataSeed)
    spark.stop()
    println("QUERIES " + BatchRun.Workloads(workload).mkString(" "))
  }

  /** Driver JVM peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val f = new File("/proc/self/status")
    if (!f.exists()) return Runtime.getRuntime.totalMemory() / 1048576.0
    scala.io.Source.fromFile(f).getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  /** Memory the program holds: heap in use right after a full collection
    * plus non-heap in use (metaspace, code cache), in MB. Unlike the
    * process RSS it does not follow the heap's size, only what is live.
    */
  def liveMb(): Double = {
    System.gc()
    val m = ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  /** Warm-up ends when the last `stride` passes take within 5% of the
    * `stride` before them, so that passes of the same query order are
    * compared; `cap` bounds the passes the run budget affords.
    */
  def settled(passes: Seq[Double], stride: Int, cap: Int): Boolean =
    passes.size >= cap || (passes.size >= 2 * stride && passes.size % stride == 0 && {
      val last = passes.takeRight(stride).sum
      val before = passes.dropRight(stride).takeRight(stride).sum
      math.abs(last / before - 1) <= 0.05
    })

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Median over names of each name's median time: every query (or twin)
    * weighs the same however many passes ran.
    */
  def medianOfMedians(xs: Seq[(String, Double)]): Double =
    median(xs.groupBy(_._1).values.map(v => median(v.map(_._2))).toSeq)

  /** Linear-interpolated percentile, as numpy's default. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val r = p * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  /** Order-insensitive result digest: row count and the sum of a 64-bit
    * hash of each row's JSON form. Equal multisets of rows give equal
    * digests whatever the partitioning.
    */
  def digest(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(to_json(struct(named.columns.map(col).toSeq: _*)))
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).first()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  def nowMs(): Long = System.currentTimeMillis()

  /** Progress line for the run's log, stamped with the JVM's uptime. */
  def say(msg: String): Unit =
    System.out.println(f"[perfbench] ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%7.2f $msg")

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def writeString(path: String, s: String): Unit = {
    val f = new File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    Files.write(f.toPath, s.getBytes(StandardCharsets.UTF_8))
  }
}

/** What one run reports: the contract's counters, metrics and report lines. */
final class Result {
  var attempted = 0L
  var failed = 0L
  private val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val extra = mutable.ArrayBuffer.empty[String]
  val mismatches = mutable.ArrayBuffer.empty[String]
  var recorded: Map[String, (Long, String)] = Map.empty

  /** Records a metric. End-to-end metrics go in the untraced result,
    * per-layer ones in the traced result; both appear in the report.
    */
  def gauge(name: String, value: Double, unit: String, e2e: Boolean): Unit =
    (if (e2e) this.e2e else layer).update(name, (value, unit))

  /** A report line for an end-to-end figure the contract's metric set
    * leaves out, because it exists on one workload only.
    */
  def note(line: String): Unit = extra += line

  def fail(what: String): Unit = { failed += 1; mismatches += what }

  def write(args: Main.Args): Unit = {
    val om = new ObjectMapper()
    val root = om.createObjectNode()
    root.put("correct", mismatches.isEmpty)
    root.put("attempted", math.max(1L, attempted))
    root.put("failed", failed)
    val ms = root.putObject("metrics")
    val chosen = if (args.trace) layer else e2e
    chosen.foreach { case (k, (v, u)) =>
      val o: ObjectNode = ms.putObject(k); o.put("value", v); o.put("unit", u)
    }
    val rep = root.putArray("report")
    (e2e ++ layer).foreach { case (k, (v, u)) => rep.add(f"$k%-34s $v%.6f $u") }
    rep.add(f"failed_frac ${failed.toDouble / math.max(1L, attempted)}%.6f ratio ($failed of $attempted operations)")
    extra.foreach(rep.add)
    mismatches.foreach(m => rep.add(s"MISMATCH $m"))
    if (recorded.nonEmpty) {
      val r = root.putObject("recorded")
      recorded.toSeq.sortBy(_._1).foreach { case (q, (n, d)) =>
        val o = r.putObject(q); o.put("rows", n); o.put("digest", d)
      }
    }
    Main.writeString(args.out, om.writerWithDefaultPrettyPrinter().writeValueAsString(root))
  }
}
