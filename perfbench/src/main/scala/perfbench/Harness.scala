package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.DriverManager

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, xxhash64}
import org.apache.spark.sql.streaming.Trigger

import graft.SparkEntry
import graft.sources.{Envelope, SensorGenerator}
import graft.streaming.JdbcUpsert

/** Runs one workload in one JVM and writes what it observed — spans,
  * micro-batch progress, Spark job aggregates, check outcomes — as one
  * JSON document. `perfbench/run.py` launches it and turns that document
  * into metrics; no metric arithmetic happens here.
  *
  * Every timing is taken around the engine's public entry points
  * (`SparkEntry.queries`, `Dataset.queryExecution`, the noop write,
  * `JdbcUpsert.write`); the engine itself is not modified. Listeners are
  * registered only when `--trace 1`.
  *
  * Arguments are `--key value` pairs; see [[Conf]].
  */
object Harness {

  final case class Conf(
      workload: String, kind: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, out: String, cores: Int, reps: Int,
      warm: Int, queries: Seq[String], rows: Long, files: Int)

  private def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).map { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    Conf(m("workload"), m("kind"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("data"), m("out"), m("cores").toInt,
      m("reps").toInt, m("warm").toInt,
      m.getOrElse("queries", "").split(",").toSeq.filter(_.nonEmpty),
      m.getOrElse("rows", "0").toLong, m.getOrElse("files", "0").toInt)
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val h = new Harness(conf)
    val doc =
      try h.run()
      finally h.stop()
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    Files.writeString(Paths.get(conf.out, "raw.json"),
      json.writeValueAsString(doc))
  }
}

final class Harness(conf: Harness.Conf) {
  private val clock = new Clock
  private val spans = new Spans(clock)
  private val errors = ArrayBuffer.empty[Map[String, Any]]
  private val checks = ArrayBuffer.empty[Map[String, Any]]
  private val batches = ArrayBuffer.empty[Map[String, Any]]
  private var spark: SparkSession = _
  private var tracer: Option[Tracer] = None
  private val heapProbes = ArrayBuffer.empty[Map[String, Any]]

  private def startSession(): Unit = {
    spark = SparkSession.builder()
      .master(s"local[${conf.cores}]")
      .appName(s"perfbench-${conf.workload}")
      .config("spark.sql.shuffle.partitions", conf.cores.toString)
      .config("spark.default.parallelism", conf.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"${conf.out}/warehouse")
      .config("spark.local.dir", s"${conf.out}/spark-local")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  def stop(): Unit = if (spark != null) spark.stop()

  def run(): Map[String, Any] = {
    val isBatch = conf.kind == "batch"
    val ingest = if (isBatch) None else Some(new Ingest)
    spans("workload", conf.workload) {
      // Set-up is repeated (`reps`) so its median can be reported: a
      // fresh session, plus the ingest backlog and table.
      (1 to conf.reps).foreach { rep =>
        if (spark != null) spark.stop()
        spans("setup", s"setup-$rep") {
          spans("session", "session")(startSession())
          ingest.foreach(_.prepare())
        }
      }
      // Warm up at the measured scale with `warm` passes; the first also
      // writes every batch result for the oracle check.
      spans("warmup", "warmup") {
        for (pass <- -1 to -conf.warm by -1) {
          if (isBatch) batchPass(pass, traced = false, dump = pass == -1)
          else ingest.get.pass(pass, traced = false, parseOnly = false)
        }
      }
      // One more untimed pass probes the heap the program holds (see
      // [[probeHeap]]). It runs before the timed passes, so that the
      // state Spark keeps per finished query is the same in every run.
      val probe = -conf.warm - 1
      if (isBatch) batchPass(probe, traced = false, dump = false,
        probe = true)
      else ingest.get.pass(probe, traced = false, parseOnly = false,
        probe = true)
      // Measure whole passes for at least `seconds` and at least three
      // passes, so a median over passes shrugs off one slow pass. A traced
      // run alternates untraced and traced passes (untraced, traced,
      // untraced, ...), so the cost of the listeners shows as the
      // difference between the two kinds.
      if (conf.trace) tracer = Some(new Tracer(spark))
      val t0 = clock.now()
      var pass = 0
      while (pass < 3 || clock.now() - t0 < conf.seconds * 1000) {
        val traced = conf.trace && pass % 2 == 1
        if (traced) tracer.foreach(_.attach())
        if (isBatch) batchPass(pass, traced, dump = false)
        else ingest.get.pass(pass, traced, parseOnly = conf.trace)
        if (traced) tracer.foreach(_.detach())
        pass += 1
      }
    }
    Map(
      "workload" -> conf.workload, "kind" -> conf.kind, "seed" -> conf.seed,
      "trace" -> conf.trace, "cores" -> conf.cores,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "peak_rss_mb" -> peakRssMb(),
      "heap_probes" -> heapProbes.toSeq,
      "spans" -> spans.rows.toSeq,
      "jobs" -> tracer.map(_.jobs).getOrElse(Nil),
      "progress" -> tracer.map(_.progress).getOrElse(Nil),
      "batches" -> batches.toSeq,
      "checks" -> checks.toSeq,
      "errors" -> errors.toSeq,
      "oracle_sql" -> SparkEntry.oracleSql.filter(kv =>
        conf.queries.contains(kv._1)))
  }

  /** One closed-loop pass over the mix, in a seeded order. Each query is
    * split into construct (the builder call), plan (forcing the executed
    * plan) and execute (the noop write). With `dump`, execute writes the
    * result as parquet instead, for the oracle compare run.py makes. With
    * `probe`, each query ends with [[probeHeap]]. */
  private def batchPass(pass: Int, traced: Boolean, dump: Boolean,
      probe: Boolean = false): Unit = {
    val order = new scala.util.Random(conf.seed * 7919 + pass)
      .shuffle(conf.queries)
    spans("pass", s"pass-$pass", Map("traced" -> traced)) {
      order.foreach { q =>
        spans("query", q) {
          try {
            val df = spans("construct", q)(
              SparkEntry.queries(q)(spark, conf.data))
            spans("plan", q)(df.queryExecution.executedPlan)
            spans("execute", q)(
              if (dump) df.coalesce(1).write.mode("overwrite")
                .parquet(s"${conf.out}/results/$q")
              else df.write.format("noop").mode("overwrite").save())
            if (probe) probeHeap(q, df)
          } catch {
            case e: Exception => error(pass, q, e)
          }
        }
      }
    }
  }

  /** Heap in use after full collections, taken while `held` (a query's
    * frame, or a micro-batch) is still reachable: what the program holds
    * for that operation — pinned and cached frames, broadcast tables,
    * the Derby table — free of garbage. Spark's cleaner thread frees the
    * blocks of unreachable frames only after a collection has found
    * them, so this collects until the heap in use stops shrinking. */
  private def probeHeap(op: String, held: AnyRef): Unit = {
    def collect(): Double = {
      System.gc()
      java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / 1048576.0
    }
    var (before, used, rounds) = (Double.MaxValue, collect(), 1)
    while (before - used > 1.0 && rounds < 10) {
      Thread.sleep(200)
      before = used
      used = collect()
      rounds += 1
    }
    heapProbes += Map("op" -> op, "heap_mb" -> used, "collections" -> rounds)
    java.lang.ref.Reference.reachabilityFence(held)
  }

  private def error(pass: Int, op: String, e: Throwable): Unit = {
    System.err.println(s"[perfbench] $op failed in pass $pass: $e")
    errors += Map("pass" -> pass, "op" -> op,
      "error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  /** The paper's path: a file-stream backlog of CSV sensor messages,
    * parsed and upserted by `counter` into embedded Derby. */
  private final class Ingest {
    private val url = s"jdbc:derby:memory:perfbench${conf.seed};create=true"
    private val table = "sensordata"
    private val offset = Math.floorMod(conf.seed, 1000L) * 1000000L
    private val backlog = s"${conf.out}/backlog"
    private var passDir = ""

    /** Write the backlog as `files` delivery files (contiguous counter
      * ranges) whose modification times follow a seeded order: the file
      * stream replays them in that order. */
    def prepare(): Unit = spans("fixture", "backlog") {
      val tmp = s"${conf.out}/backlog-tmp"
      SensorGenerator.toCsvBody(SensorGenerator.batch(spark, conf.rows,
          offset))
        .repartitionByRange(conf.files, col("key"))
        .write.mode("overwrite").parquet(tmp)
      val parts = Files.list(Paths.get(tmp)).toArray.map(_.toString)
        .filter(p => p.endsWith(".parquet")).sorted
      require(parts.length == conf.files,
        s"expected ${conf.files} delivery files, got ${parts.length}")
      deleteTree(backlog)
      Files.createDirectories(Paths.get(backlog))
      val order = new scala.util.Random(conf.seed).shuffle(parts.indices.toList)
      val base = System.currentTimeMillis() - 1000000L
      order.zipWithIndex.foreach { case (part, rank) =>
        val dst = Paths.get(backlog, f"delivery-$part%05d.parquet")
        Files.move(Paths.get(parts(part)), dst,
          StandardCopyOption.REPLACE_EXISTING)
        dst.toFile.setLastModified(base + rank * 1000L)
      }
      deleteTree(tmp)
      spans("ddl", table)(resetTable())
    }

    private def resetTable(): Unit = {
      val c = DriverManager.getConnection(url)
      try {
        val st = c.createStatement()
        try st.execute(s"DROP TABLE $table")
        catch { case _: java.sql.SQLException => () }
        st.execute(
          s"""CREATE TABLE $table (
             |  counter BIGINT PRIMARY KEY, deviceid INT,
             |  temperature DOUBLE, humidity DOUBLE, co2 DOUBLE,
             |  co DOUBLE, lpg DOUBLE, smoke DOUBLE, presence INT,
             |  light DOUBLE, sound DOUBLE)""".stripMargin)
      } finally c.close()
    }

    private val columns = Seq("counter", "deviceid", "temperature",
      "humidity", "co2", "co", "lpg", "smoke", "presence", "light", "sound")

    private def parsed(batch: DataFrame): DataFrame =
      Envelope.parseBody(batch)
        .selectExpr("CAST(counter AS BIGINT) AS counter" +: columns.tail: _*)

    /** Adds `delta` to every non-key column. The replay phase writes its
      * rows bumped by 1, so the table matches the regenerated data only
      * if every row took the update branch and updated every column. */
    private def bumped(df: DataFrame, delta: Int): DataFrame =
      df.select(col("counter") +: columns.tail.map(c =>
        (col(c) + lit(delta)).as(c)): _*)

    private val delta = Map("fresh" -> 0, "replay" -> 1)

    /** fresh (every row inserts) → check → replay of the same files with
      * a fresh checkpoint (every row updates) → check; with `parseOnly`
      * also a parse → noop phase over the same files; with `probe`, each
      * micro-batch ends with [[probeHeap]]. */
    def pass(pass: Int, traced: Boolean, parseOnly: Boolean,
        probe: Boolean = false): Unit =
      spans("pass", s"pass-$pass", Map("traced" -> traced)) {
        passDir = s"${conf.out}/checkpoints/pass$pass"
        deleteTree(passDir)
        resetTable()
        for (phase <- Seq("fresh", "replay")) {
          stream(pass, phase, upsert(delta(phase), probe))
          spans("check", phase)(check(pass, phase))
        }
        if (parseOnly) stream(pass, "parse", (b, id) =>
          spans("parse", id.toString)(
            parsed(b).write.format("noop").mode("overwrite").save()))
      }

    private def upsert(d: Int, probe: Boolean)(b: DataFrame, id: Long)
        : Unit = {
      spans("upsert", id.toString)(JdbcUpsert.write(
        bumped(parsed(b), d).coalesce(conf.cores), url, table,
        Seq("counter")))
      if (probe) probeHeap(s"upsert-$id", b)
    }

    private def stream(pass: Int, phase: String,
        sink: (DataFrame, Long) => Unit): Unit = {
      val q = spans("phase", phase) {
        val q = spark.readStream
          .schema(SensorGenerator.toCsvBody(SensorGenerator.batch(spark, 0))
            .schema)
          .option("maxFilesPerTrigger", 1) // one delivery per micro-batch
          .parquet(backlog)
          .writeStream
          .queryName(s"$phase-$pass")
          .option("checkpointLocation", s"$passDir/$phase")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, id: Long) => sink(b, id) }
          .start()
        try q.awaitTermination()
        catch { case e: Exception => error(pass, s"$phase-stream", e) }
        q
      }
      q.recentProgress.foreach { p =>
        batches += Tracer.progress(p) ++ Map("pass" -> pass, "phase" -> phase)
      }
    }

    /** Exactly-once after a phase: the phase's micro-batches read every
      * generated row once, landed rows = distinct counters = generated
      * rows, and the table's content digest equals that of
      * `SensorGenerator` regenerated for the same counters, bumped as the
      * phase bumps its rows. */
    private def check(pass: Int, phase: String): Unit = {
      val input = batches.filter(b => b("pass") == pass &&
        b("phase") == phase).map(_("rows").asInstanceOf[Long]).sum
      val c = DriverManager.getConnection(url)
      val (landed, distinct) =
        try {
          val rs = c.createStatement().executeQuery(
            s"SELECT count(*), count(DISTINCT counter) FROM $table")
          rs.next(); (rs.getLong(1), rs.getLong(2))
        } finally c.close()
      val got = digest(spark.read.format("jdbc").option("url", url)
        .option("dbtable", table).load())
      val want = digest(bumped(
        SensorGenerator.batch(spark, conf.rows, offset), delta(phase)))
      checks += Map("pass" -> pass, "phase" -> phase, "input_rows" -> input,
        "landed" -> landed, "distinct" -> distinct,
        "generated" -> conf.rows, "digest_ok" -> (got == want),
        "ok" -> (input == conf.rows && landed == conf.rows &&
          distinct == conf.rows && got == want))
    }

    private def digest(df: DataFrame): String =
      df.select(xxhash64(columns.map(col): _*).cast("decimal(38,0)").as("h"))
        .selectExpr("cast(sum(h) as string)").head().getString(0)
  }

  private def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
  }
}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same base as Spark's listener event times. */
final class Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** In-memory span recorder; the parent is the innermost open span. Each
  * span also records the CPU time the whole process used meanwhile. */
final class Spans(clock: Clock) {
  val rows = ArrayBuffer.empty[Map[String, Any]]
  private var open = List.empty[Int]
  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def apply[T](kind: String, name: String,
      attrs: Map[String, Any] = Map.empty)(body: => T): T = {
    val id = rows.length
    val parent = open.headOption.getOrElse(-1)
    rows += Map.empty
    open = id :: open
    val cpu0 = os.getProcessCpuTime
    val start = clock.now()
    try body
    finally {
      open = open.tail
      rows(id) = attrs ++ Map("id" -> id, "kind" -> kind, "name" -> name,
        "start" -> start, "end" -> clock.now(), "parent" -> parent,
        "cpu_ms" -> (os.getProcessCpuTime - cpu0) / 1e6)
    }
  }
}
