package graft

import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` for declared queries to files — the
  * round-18 optimization evidence trail (plans/r18/<q>_before.txt /
  * `_after.txt`). Planning only, no execution, so a full sweep is cheap.
  *
  * Args: <outDir> <suffix> [comma-separated query names | ALL]
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default: the available processors).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <suffix> [names|ALL]")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    java.nio.file.Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names: Seq[String] =
      if (args.length < 3 || args(2) == "ALL") SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    names.foreach { n =>
      val t0 = System.nanoTime()
      val txt =
        try {
          // capture every Checkpoints.truncate child plan built while
          // the query frame is constructed, so the dump shows the
          // pre-pin subtree next to the post-pin consumer plan
          Checkpoints.startCapture()
          val df = SparkEntry.queries(n)(spark, sfDir)
          val main = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          val pins = Checkpoints.drainCapture()
          if (pins.isEmpty) main
          else main + pins.zipWithIndex.map { case (p, i) =>
            s"\n== Checkpoints.truncate child plan ${i + 1} of " +
              s"${pins.size} (materialized once, scanned by the plan " +
              s"above) ==\n$p"
          }.mkString
        } catch {
          case e: Throwable => s"PLANNING FAILED: ${e.getMessage}"
        } finally Checkpoints.drainCapture()
      java.nio.file.Files.writeString(
        outDir.resolve(s"${n}_$suffix.txt"), txt)
      System.err.println(
        f"[plandump] $n (${(System.nanoTime() - t0) / 1e9}%.2f s)")
    }
    spark.stop()
  }
}
