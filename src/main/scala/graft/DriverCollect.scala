package graft

import org.apache.spark.sql.Dataset

/** Bounded driver collects — the one seam through which an operator pulls
  * a data-proportional frame to the driver. An operator that has a cheap
  * driver-side algorithm for small inputs (d6's union-find, x23's
  * incremental BPE trainer) asks for at most `maxRows` rows and falls back
  * to its distributed form when the frame is larger, so a driver collect
  * can never grow with the corpus.
  */
object DriverCollect {

  /** All rows of `ds` when it has at most `maxRows`, `None` otherwise.
    * One `limit(maxRows + 1)` collect: the driver keeps at most
    * `maxRows + 1` rows, and each partition it fetches is cut at that
    * bound before it leaves the executor, so an oversized frame costs one
    * bounded fetch, never a full collect.
    */
  def collectAtMost[T](ds: Dataset[T], maxRows: Int): Option[Array[T]] = {
    require(maxRows >= 0 && maxRows < Int.MaxValue,
      s"maxRows must be in [0, Int.MaxValue), got $maxRows")
    val rows = ds.limit(maxRows + 1).collect()
    if (rows.length > maxRows) None else Some(rows)
  }
}
