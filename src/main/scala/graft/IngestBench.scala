package graft

import java.nio.file.Files
import java.sql.DriverManager

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.sources.{Envelope, SensorGenerator}
import graft.streaming.JdbcUpsert

/** Throughput micro-bench for the reference's own ingest surface
  * (README.md:4–10): CSV sensor messages → positional parse against the
  * declared DDL → keyed idempotent UPSERT into a real JDBC database —
  * the exact graph EndToEndPipelineSpec proves correct, here measured.
  *
  * The unbounded source is a FILE stream of pre-serialized message
  * deliveries (the sandbox has no Kafka broker; the file stream supplies
  * the same micro-batch cadence deterministically, and the reference's
  * own demo throughput is 0.2 msg/s by construction — this measures the
  * ENGINE, not the demo's sleep loop). Two sinks are timed over the same
  * deliveries:
  *
  *  - `parse_only`: parse + materialize (noop sink) — the Spark-side
  *    ceiling of the consumer graph;
  *  - `parse_upsert`: parse + [[JdbcUpsert.write]] into embedded Derby
  *    keyed on the producer counter — the full exactly-once landing
  *    path. Derby is single-process; a HANA/Postgres endpoint shards the
  *    same writer across executors (JdbcUpsert is per-partition), so
  *    this number is the SINGLE-NODE floor, not the ceiling.
  *
  * Prints one JSON line (committed as INGEST_BENCH.json) so the ingest
  * module has a recorded rows/s next to its correctness specs.
  */
object IngestBench {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(200000L)
    val nFiles = 8
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base = Files.createTempDirectory("graft_ingestbench").toString
    val srcDir = s"$base/src"
    val per = rows / nFiles
    (0 until nFiles).foreach { i =>
      SensorGenerator.toCsvBody(SensorGenerator.batch(spark, per, i * per))
        .coalesce(1).write.mode("append").parquet(srcDir)
    }
    val schema = spark.read.parquet(srcDir).schema
    val total = per * nFiles

    val url = "jdbc:derby:memory:graftib;create=true"
    def resetTable(): Unit = {
      val c = DriverManager.getConnection(url)
      try {
        val st = c.createStatement()
        try st.execute("DROP TABLE sensordata")
        catch { case _: Throwable => () }
        st.execute(
          """CREATE TABLE sensordata (
            |  counter BIGINT PRIMARY KEY, deviceid INT,
            |  temperature DOUBLE, humidity DOUBLE, co2 DOUBLE,
            |  co DOUBLE, lpg DOUBLE, smoke DOUBLE, presence INT,
            |  light DOUBLE, sound DOUBLE)""".stripMargin)
      } finally c.close()
    }

    def parsed(batch: DataFrame): DataFrame =
      Envelope.parseBody(batch)
        .selectExpr("CAST(counter AS BIGINT) AS counter", "deviceid",
          "temperature", "humidity", "co2", "co", "lpg", "smoke",
          "presence", "light", "sound")

    def runStream(name: String,
        sink: DataFrame => Unit): Double = {
      val t0 = System.nanoTime()
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
        .writeStream
        .option("checkpointLocation", s"$base/ckpt_$name")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) => sink(batch) }
        .start().awaitTermination()
      (System.nanoTime() - t0) / 1e9
    }

    // warm-up: JIT + codegen + Derby page cache (not measured)
    resetTable()
    runStream("warm", b =>
      JdbcUpsert.write(parsed(b.limit(500)), url, "sensordata",
        Seq("counter")))

    val tParse = runStream("parse", b =>
      parsed(b).write.format("noop").mode("overwrite").save())
    resetTable()
    val tUpsert = runStream("upsert", b =>
      JdbcUpsert.write(parsed(b), url, "sensordata", Seq("counter")))
    // replay the same deliveries a second time: every row now takes the
    // UPDATE branch — the steady-state upsert cost under at-least-once
    // redelivery (fresh checkpoint, same table)
    val tReplay = runStream("upsert2", b =>
      JdbcUpsert.write(parsed(b), url, "sensordata", Seq("counter")))

    val landed = {
      val c = DriverManager.getConnection(url)
      try {
        val rs = c.createStatement().executeQuery(
          "SELECT count(*), count(DISTINCT counter) FROM sensordata")
        rs.next(); (rs.getLong(1), rs.getLong(2))
      } finally c.close()
    }
    require(landed == ((total, total)),
      s"exactly-once violated: expected $total distinct counters, " +
        s"got $landed")

    val line =
      s"""{"metric":"ingest_bench","rows":$total,"files":$nFiles,""" +
        s""""parse_only":{"sec":$tParse,""" +
        s""""rows_per_sec":${(total / tParse).toLong}},""" +
        s""""parse_upsert":{"sec":$tUpsert,""" +
        s""""rows_per_sec":${(total / tUpsert).toLong}},""" +
        s""""upsert_replay":{"sec":$tReplay,""" +
        s""""rows_per_sec":${(total / tReplay).toLong}},""" +
        s""""exactly_once_check":"pass"}"""
    println(line)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_INGEST_OUT",
      "INGEST_BENCH.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
      line + "\n")
    spark.stop()
  }
}
