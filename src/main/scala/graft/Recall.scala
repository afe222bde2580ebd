package graft

import org.apache.spark.sql.{DataFrame, Row}

/** Recall scoring shared by the scale probes (StressProbe,
  * AnnScaleBench, SrpProbeBench, PqScaleBench). Every ANN top-k frame
  * here carries the query id in column 0 and the neighbor id in
  * column 2; a result is scored as one neighbor set per query.
  */
private[graft] object Recall {
  /** Neighbor set per query id from collected top-k rows. */
  def topSets(rows: Array[Row]): Map[Long, Set[Long]] =
    rows.map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  def topSets(df: DataFrame): Map[Long, Set[Long]] = topSets(df.collect())

  /** [[topSets]] after one un-timed warm-up pass through the noop sink;
    * the seconds cover the timed collect only.
    */
  def timedTopSets(df: DataFrame): (Double, Map[Long, Set[Long]]) = {
    df.write.format("noop").mode("overwrite").save() // warm-up
    val t0 = System.nanoTime()
    val rows = df.collect()
    ((System.nanoTime() - t0) / 1e9, topSets(rows))
  }

  /** Mean per-query recall of `got` against the exact answer. */
  def recallOf(exact: Map[Long, Set[Long]],
      got: Map[Long, Set[Long]]): Double = exact.keys.toSeq.map { q =>
    (exact(q) & got.getOrElse(q, Set.empty)).size.toDouble / exact(q).size
  }.sum / exact.size

  /** Share of planted copies `q` whose top-k holds their partner q − 1
    * (the StressGen/AnnGen plant: vector q is vector q − 1 plus tiny
    * noise).
    */
  def plantedRecall(qs: Seq[Long], got: Map[Long, Set[Long]]): Double =
    qs.count(q => got.getOrElse(q, Set.empty).contains(q - 1)).toDouble /
      qs.size
}
