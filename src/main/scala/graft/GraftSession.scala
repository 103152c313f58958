package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's recommended defaults, for users
  * embedding graft outside the driver contract. The knobs are the ones that
  * matter at fleet scale; every one can still be overridden afterwards.
  */
object GraftSession {

  /** @param shufflePartitions size to ~2-3x total executor cores on a real
    *                          cluster; the callers here pass the local core
    *                          count.
    */
  def builder(appName: String = "graft",
              master: Option[String] = None,
              shufflePartitions: Int = 200): SparkSession.Builder = {
    val b = SparkSession.builder()
      .appName(appName)
      // AQE: runtime re-plan for skew joins + partition coalescing
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // the driver testdata carries INT64(NANOS) timestamps
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // graft SQL functions available out of the box
      .config("spark.sql.extensions", "graft.GraftSparkExtensions")
    master.fold(b)(b.master)
  }

  /** Parse `SPARK_GRAFT_CONF`-style extra confs, `"k1=v1,k2=v2"`. Each
    * entry splits at its FIRST `=`, so a value may itself contain `=`
    * (e.g. a `-Dkey=value` JVM option); an entry with no `=` or an empty
    * key is skipped with a warning instead of vanishing silently.
    */
  def parseConfs(spec: String): Seq[(String, String)] =
    spec.split(',').toSeq.map(_.trim).filter(_.nonEmpty).flatMap { entry =>
      entry.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => Some(k.trim -> v.trim)
        case _ =>
          org.slf4j.LoggerFactory.getLogger(getClass)
            .warn(s"ignoring malformed conf entry '$entry' (expected key=value)")
          None
      }
    }

  /** `b` plus the extra confs of the `SPARK_GRAFT_CONF` environment
    * variable, if set — the knob the profiling tools (BenchSome, Explain)
    * share.
    */
  def withEnvConfs(b: SparkSession.Builder): SparkSession.Builder =
    sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(parseConfs)
      .foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }
}
