package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs for every workload.
  *
  * The batch table is the `documents` table that `graft.Tables` reads. Every
  * column is a pure function of (seed, row id, column tag) and the table is
  * written as one file, so the same seed gives byte-identical input on any
  * core count.
  */
object DataGen {

  /** Uniform long in [0, n) from (seed, id, tag). */
  private def u(seed: Long, id: Column, tag: Int, n: Long): Column =
    pmod(xxhash64(lit(seed), id, lit(tag)), lit(n))

  /** Uniform double in [0, 1). */
  private def unit(seed: Long, id: Column, tag: Int): Column =
    u(seed, id, tag, 1000000007L).cast("double") / 1000000007.0

  private def pick(seed: Long, id: Column, tag: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*),
      (u(seed, id, tag, values.size.toLong) + 1).cast("int"))

  private val DayUs = 86400L * 1000000L
  // 2024-01-01 as epoch days
  private val Day2024 = 19723L

  private val Vocab = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  /** Writes `documents` at scale factor `sf` (50,000 rows at 1, at least
    * 500) under `dir` as one plain parquet file, the layout graft.Tables and
    * the DuckDB oracle read.
    */
  def documents(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    val id = col("id")
    val nDocs = math.max(500L, math.round(50000 * sf))
    // one in twenty documents is a near-duplicate of the one before it with
    // "dup" appended, so the dedup and similarity operators find real groups
    val isDup = pmod(id, lit(20L)) === 19
    val src = when(isDup, id - 1).otherwise(id)
    val words = transform(sequence(lit(1L), u(seed, src, 71, 90) + 10),
      i => element_at(array(Vocab.map(lit): _*),
        (pmod(xxhash64(lit(seed), src, i), lit(Vocab.size.toLong)) + 1).cast("int")))
    val text = when(isDup, concat_ws(" ", words, lit("dup")))
      .otherwise(concat_ws(" ", words))
    val tmp = new File(s"$dir/documents.parts")
    spark.range(0, nDocs, 1, 1).select(id.as("doc_id"), text.as("text"),
      pick(seed, id, 72, Seq("de", "en", "en", "en", "es", "fr", "zh")).as("lang"),
      concat(lit("src"), pmod(id, lit(20L))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, new File(s"$dir/documents.parquet").toPath,
      StandardCopyOption.REPLACE_EXISTING)
    Main.deleteTree(tmp)
  }

  /** Event-schema files (`EventSources.eventSchema`) for `congestionDaily`,
    * whose 1-day window counts `purchase` events; telemetry carries none.
    * Writes `files` parquet files of `perFile` events each to `dir`, named
    * `part-<i>.parquet` from 0 on. Event i lies `EventStepUs` after
    * event i - 1 (a file spans 12 hours, so daily windows close inside a
    * run), and one event in twenty is displaced up to an hour earlier,
    * inside the twin's 1-day watermark. User, type and value come from the
    * seed; a fifth of the events are purchases.
    */
  def eventFiles(spark: SparkSession, dir: File, seed: Long, files: Int,
                 perFile: Int): Unit = {
    val stepUs = 12L * 3600L * 1000000L / perFile
    val id = col("id")
    val late = when(u(seed, id, 81, 20) === 0, u(seed, id, 82, 3600L * 1000000L)).otherwise(lit(0L))
    val tmp = new File(dir, "parts")
    spark.range(0, files.toLong * perFile, 1, files)
      .select(id.as("event_id"),
        timestamp_micros(lit(Day2024 * DayUs) + id * stepUs + u(seed, id, 83, stepUs) - late).as("ts"),
        u(seed, id, 84, 500).as("user_id"),
        pick(seed, id, 85, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
        round(greatest(lit(0.01), -log(lit(1.0) - unit(seed, id, 86)) * 50.0), 2).as("value"),
        lit("{}").as("props"))
      .write.parquet(tmp.getPath)
    // range partition k holds file k; part files sort by partition
    tmp.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName).zipWithIndex
      .foreach { case (f, k) =>
        Files.move(f.toPath, new File(dir, f"part-$k%05d.parquet").toPath)
      }
    Main.deleteTree(tmp)
  }

  /** Synthetic vehicle telemetry in the reference's CSV format
    * (`time,vid,spd,xway,lane,dir,seg,pos`). It is not the reference's
    * traffic, whose data file is not in this repository.
    *
    * Taken from the Linear Road specification (Arasu et al., "Linear Road:
    * A Stream Data Management Benchmark", VLDB 2004): the position report's
    * fields, one report per vehicle every 30 s, positions in feet along a
    * 100-segment expressway of 5,280-foot segments, travel lanes 1-3 and
    * exit lane 4, and a stopped vehicle reporting the same position on
    * consecutive reports.
    *
    * Our own choices, not derived from any data: 190-210 vehicles, 5-10%
    * of them driving 90-120 mph and the rest 40-85 mph, a stop chance of
    * 0.2-0.4% per report lasting 4-8 reports (so that the 4-report accident
    * rule fires), and 2-6% of adjacent report pairs swapped out of order
    * within a file. The seed draws each within its range. Files land far
    * faster than event time passes (see `StreamRun`).
    */
  final class Telemetry(seed: Long, sub: Long) {
    private val rnd = new java.util.Random(seed * 1000003L + sub)
    private val params = new java.util.Random(seed)
    val vehicles: Int = 190 + params.nextInt(21)
    private val fastShare = 0.05 + 0.05 * params.nextDouble()
    private val stoppedShare = 0.02 + 0.02 * params.nextDouble()
    private val oooShare = 0.02 + 0.04 * params.nextDouble()

    private val speed = Array.tabulate(vehicles)(_ =>
      if (params.nextDouble() < fastShare) 90 + params.nextInt(31)
      else 40 + params.nextInt(46))
    private val pos = Array.tabulate(vehicles)(_ => params.nextInt(528000))
    private val stoppedLeft = Array.fill(vehicles)(0)
    private var round = 0
    private var pending = Vector.empty[String]

    private def nextRound(): Vector[String] = {
      val b = Vector.newBuilder[String]
      var v = 0
      while (v < vehicles) {
        if (stoppedLeft(v) == 0 && rnd.nextDouble() < stoppedShare / 10)
          stoppedLeft(v) = 4 + rnd.nextInt(5)
        val spd = if (stoppedLeft(v) > 0) { stoppedLeft(v) -= 1; 0 }
          else math.max(0, speed(v) + rnd.nextInt(11) - 5)
        pos(v) = (pos(v) + spd * 44) % 528000
        val lane = if (spd == 0) 4 else 1 + rnd.nextInt(3)
        b += s"${round * 30 + v % 30},$v,$spd,${v % 2},$lane,${(v / 2) % 2}," +
          s"${pos(v) / 5280},${pos(v)}"
        v += 1
      }
      round += 1
      b.result().sortBy(_.takeWhile(_ != ',').toInt)
    }

    /** The next file's lines: exactly `perFile` reports. */
    def nextFile(perFile: Int): Array[String] = {
      while (pending.size < perFile) pending ++= nextRound()
      val lines = pending.take(perFile).toArray
      pending = pending.drop(perFile)
      var i = 0
      while (i + 1 < lines.length) {
        if (rnd.nextDouble() < oooShare) {
          val t = lines(i); lines(i) = lines(i + 1); lines(i + 1) = t
        }
        i += 2
      }
      lines
    }
  }

  /** Writes `lines` to `dir/name` atomically: a file source listing the
    * directory never sees a partial file.
    */
  def landFile(staging: File, dir: File, name: String, lines: Array[String]): Unit = {
    val tmp = new File(staging, name)
    Files.write(tmp.toPath, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp.toPath, new File(dir, name).toPath, StandardCopyOption.ATOMIC_MOVE)
  }
}
