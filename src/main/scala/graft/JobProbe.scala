package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Per-job / per-stage breakdown of a declared query's execution — the
  * guide §1.1 empirical instrument for a headless box (no Spark UI):
  * run `<query>` under `local[$SPARK_GRAFT_CPUS]` with a listener that
  * records every job's wall, stage count and task count, then print the
  * table. Diagnoses WHERE an anti-scaling query's 32-core time goes
  * (scan tasks? shuffle tasks? checkpoint jobs? range-sampling jobs?).
  *
  * Args: <queryName> [runs (default 3)]
  * Env: SPARK_GRAFT_SF_DIR as in Bench; SPARK_GRAFT_CPUS (default: the
  * available processors).
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobProbe <queryName> [runs]")
    val name = args(0)
    val runs = if (args.length > 1) args(1).toInt else 3
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query $name"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // ad-hoc A/B confs: SPARK_GRAFT_EXTRA_CONFS="k=v;k=v"
    sys.env.get("SPARK_GRAFT_EXTRA_CONFS").foreach(_.split(';')
      .map(_.trim).filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        builder.config(k, v)
      })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    case class StageRec(id: Int, name: String, tasks: Int, ms: Long)
    case class JobRec(id: Int, ms: Long, stages: Seq[StageRec])
    val jobs = scala.collection.mutable.ArrayBuffer.empty[JobRec]
    val stageInfo =
      scala.collection.mutable.Map.empty[Int, (String, Int, Long)]
    val jobStart = scala.collection.mutable.Map.empty[Int, (Long, Seq[Int])]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val ms = (for {a <- si.completionTime; b <- si.submissionTime}
          yield a - b).getOrElse(-1L)
        stageInfo(si.stageId) = (si.name.takeWhile(_ != '\n').take(60),
          si.numTasks, ms)
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobStart(e.jobId) = (e.time, e.stageIds.map(_.toInt))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobStart.get(e.jobId).foreach { case (t0, sids) =>
          jobs += JobRec(e.jobId, e.time - t0, sids.flatMap(sid =>
            stageInfo.get(sid).map { case (n, k, ms) =>
              StageRec(sid, n, k, ms) }))
        }
    }
    // warm-up (JIT + codegen), not listened
    (1 to 2).foreach { _ =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"warmup: $e") }
    }
    spark.sparkContext.addSparkListener(listener)
    (1 to runs).foreach { r =>
      jobs.clear(); stageInfo.clear(); jobStart.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let the listener bus drain
      println(f"== run $r: $name wall=$wall%.3f s, ${jobs.size} jobs, " +
        f"${jobs.map(_.ms).sum} ms summed job wall")
      jobs.sortBy(-_.ms).take(15).foreach { j =>
        println(f"  job ${j.id}%3d ${j.ms}%6d ms  " +
          j.stages.map(s => s"[${s.name} x${s.tasks} ${s.ms}ms]")
            .mkString(" "))
      }
    }
    spark.stop()
  }
}
