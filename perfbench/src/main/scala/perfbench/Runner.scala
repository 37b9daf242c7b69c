package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{CacheRegistry, SparkEntry}

/** JVM half of the benchmark. It drives the program only through its public
  * surface: `SparkEntry.queries(name)(spark, sfDir)`, the root noop-sink
  * write, and `CacheRegistry.releaseAll` / `pinnedLedger` / `census`.
  *
  * Modes (first argument):
  *  - `list`  print every `SparkEntry.queries` key, one per line;
  *  - `run`   set up, print `READY`, then run one cold pass and
  *    `--passes` warm passes over `--names` (closed loop: one query at a
  *    time), then a correctness pass, and write every raw measurement to
  *    `--out` as JSON. All metric arithmetic happens in `run.py`;
  *  - `certify` set up, then write each `--names` query's result as parquet
  *    under `--dir`, with their `oracleSql` in `oracle_sql.json`, and their
  *    fingerprints to `--out`.
  */
object Runner {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with sub-millisecond resolution, on the same clock
    * as Spark's listener event times. */
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuSec(): Double = math.max(0L, osBean.getProcessCpuTime) / 1e9
  def gcSec(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    args.headOption match {
      case Some("list") =>
        println(SparkEntry.queries.keys.toSeq.sorted.mkString("\n"))
      case Some("run") => run(opts)
      case Some("certify") =>
        val spark = setup()
        ready()
        val names = opts("names").split(",").toSeq
        val fps = check(spark, opts("sf"), names, Some(opts("dir")))
        val oracle = names.map(n => n -> SparkEntry.oracleSql.getOrElse(n, ""))
        json(s"${opts("dir")}/oracle_sql.json", oracle.toMap.asJava)
        json(opts("out"), Map("fingerprints" -> fps.asJava).asJava)
        spark.stop()
      case other =>
        System.err.println(s"unknown mode $other"); sys.exit(2)
    }
  }

  private def ready(): Unit = { println("READY"); System.out.flush() }

  private def json(path: String, value: AnyRef): Unit =
    new ObjectMapper().writeValue(Paths.get(path).toFile, value)

  /** The correctness pass, outside any timed pass: a fingerprint of each
    * query's rows, and with `dir` also the rows as parquet under
    * `dir/<name>` for the DuckDB oracle. */
  def check(spark: SparkSession, sfDir: String, names: Seq[String],
      dir: Option[String]): Map[String, String] = {
    spark.sparkContext.setJobDescription("correctness")
    names.map { name =>
      CacheRegistry.setContext(name)
      val fp = try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val rows = df.collect()
        dir.foreach { d =>
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
            .coalesce(1).write.mode("overwrite").parquet(s"$d/$name")
        }
        fingerprint(df.schema.fieldNames.toSeq, rows)
      } catch { case t: Throwable =>
        s"error: ${t.getClass.getName}: ${t.getMessage}".take(300)
      } finally CacheRegistry.releaseAll()
      name -> fp
    }.toMap
  }

  /** The session `graft.Bench` builds: local[nproc], its shuffle-partition,
    * AQE and advisory-size settings, `PresentSortRule`, and the same
    * warm-up query. */
  def setup(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", math.max(8, cpus / 4).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.experimental.extraOptimizations ++= Seq(graft.plans.PresentSortRule)
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    spark
  }

  /** Bench's constant calibration query: fixed work, so its wall time
    * reads the host, not the engine. */
  def calibrate(spark: SparkSession): Map[String, Double] = {
    val t0 = System.nanoTime(); val c0 = cpuSec()
    spark.range(0L, 20000000L, 1L, 8)
      .selectExpr("sum(pmod(xxhash64(id), 1000000)) AS h")
      .write.format("noop").mode("overwrite").save()
    Map("wall_s" -> (System.nanoTime() - t0) / 1e9, "cpu_s" -> (cpuSec() - c0))
  }

  /** What the session still holds (pinned frames, cached blocks, driver
    * state): heap in use after full collections. Unlike the peak resident
    * set it does not depend on when the heap happened to grow. Spark's
    * ContextCleaner frees shuffle and broadcast state only after a
    * collection has found its owner unreachable, so this collects until a
    * collection frees less than 1 MB. */
  def liveHeapBytes(): Long = {
    def collect(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var last = Long.MaxValue
    var used = collect()
    var rounds = 1
    while (used < last - (1L << 20) && rounds < 10) {
      Thread.sleep(200)
      last = used
      used = collect()
      rounds += 1
    }
    used
  }

  final case class Span(id: Int, parent: Int, name: String, qid: Int,
      query: String, pass: Int, start: Double, var end: Double = 0.0,
      var cpu: Double = 0.0, var gc: Double = 0.0, var error: String = "")

  def run(opts: Map[String, String]): Unit = {
    val sfDir = opts("sf")
    val names = opts("names").split(",").toSeq
    val passes = opts("passes").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val rng = new scala.util.Random(opts("seed").toLong)

    val spark = setup()
    ready()
    val events = if (trace) Some(new Events(spark)) else None
    val queries = SparkEntry.queries
    calibrate(spark) // the first reading includes JIT of the calibration path
    val calibration = ArrayBuffer(calibrate(spark))

    val spans = ArrayBuffer[Span]()
    def open(name: String, parent: Int, qid: Int, query: String,
        pass: Int): Span = {
      val s = Span(spans.size, parent, name, qid, query, pass, nowMs())
      s.cpu = cpuSec(); s.gc = gcSec()
      spans += s
      s
    }
    def close(s: Span): Span = {
      s.end = nowMs(); s.cpu = cpuSec() - s.cpu; s.gc = gcSec() - s.gc; s
    }
    val census = ArrayBuffer[Map[String, Any]]()
    val root = open("run", -1, -1, "", -1)
    var qid = 0
    for (p <- 0 to passes) {
      val pass = open("pass", root.id, -1, "", p)
      for (name <- rng.shuffle(names)) {
        val q = open("query", pass.id, qid, name, p)
        CacheRegistry.setContext(name)
        spark.sparkContext.setJobDescription(name)
        try {
          val b = open("build", q.id, qid, name, p)
          val df = try queries(name)(spark, sfDir) finally close(b)
          val e = open("execute", q.id, qid, name, p)
          try df.write.format("noop").mode("overwrite").save()
          finally close(e)
        } catch { case t: Throwable =>
          q.error = s"${t.getClass.getName}: ${t.getMessage}".take(300)
        } finally {
          val r = open("release", q.id, qid, name, p)
          CacheRegistry.releaseAll()
          close(r)
          close(q)
        }
        census += Map("rdds" -> CacheRegistry.census(spark),
          "pinned" -> CacheRegistry.pinnedCount)
        qid += 1
      }
      close(pass)
    }
    close(root)
    val peakRssKb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toLong }.getOrElse(0L)
    val liveHeap = liveHeapBytes()
    val resident = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum
    calibration += calibrate(spark)

    val fingerprints = check(spark, sfDir, names, None)
    events.foreach(_.drain())

    def spanMap(s: Span): java.util.Map[String, Any] = Map[String, Any](
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "qid" -> s.qid,
      "query" -> s.query, "pass" -> s.pass, "start" -> s.start,
      "end" -> s.end, "cpu_s" -> s.cpu, "gc_s" -> s.gc,
      "error" -> s.error).asJava
    val out = Map[String, Any](
      "cores" -> Runtime.getRuntime.availableProcessors,
      "spans" -> spans.map(spanMap).asJava,
      "census" -> census.map(_.asJava).asJava,
      "peak_rss_kb" -> peakRssKb,
      "live_heap_bytes" -> liveHeap,
      "resident_bytes" -> resident,
      "calibration" -> calibration.map(_.asJava).asJava,
      "pinned" -> CacheRegistry.pinnedLedger.map(b => Map[String, Any](
        "key" -> b.key, "payer" -> b.payer, "build_s" -> b.buildSec).asJava)
        .asJava,
      "fingerprints" -> fingerprints.asJava,
      "events" -> events.map(_.toJava).orNull,
    ).asJava
    json(opts("out"), out)
    spark.stop()
  }

  /** Order-insensitive digest of a result: columns sorted by name (as the
    * oracle compare does), doubles by their exact bits, rows sorted. */
  def fingerprint(cols: Seq[String], rows: Array[Row]): String = {
    val order = cols.zipWithIndex.sortBy(_._1).map(_._2)
    def enc(v: Any): String = v match {
      case null => "null"
      case d: Double => "d" + java.lang.Long.toHexString(
        java.lang.Double.doubleToLongBits(d))
      case f: Float => "f" + Integer.toHexString(
        java.lang.Float.floatToIntBits(f))
      case r: Row => r.toSeq.map(enc).mkString("{", ",", "}")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => enc(k) + ":" + enc(x) }.sorted
          .mkString("<", ",", ">")
      case s: scala.collection.Seq[_] => s.map(enc).mkString("[", ",", "]")
      case b: Array[Byte] => b.map("%02x".format(_)).mkString("b", "", "")
      case i @ (_: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer |
          _: java.lang.Long) => "i" + i.toString
      // instant, not the JVM time zone's rendering of it
      case t: java.sql.Timestamp => s"t${t.getTime}.${t.getNanos}"
      case o => o.getClass.getSimpleName + ":" + o.toString
    }
    val lines = rows.map(r => order.map(i => enc(r.get(i))).mkString("|"))
      .sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l =>
      md.update(l.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte)
    }
    s"${rows.length}:" + md.digest().map("%02x".format(_)).mkString
  }
}

/** Traced runs only: raw scheduler, planner and streaming events, held in
  * memory and handed to `run.py`, which parents each to the span it
  * started in. */
final class Events(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val jobs = new ConcurrentLinkedQueue[java.util.Map[String, Any]]()
  private val jobEnds = new ConcurrentLinkedQueue[Int]()
  private val stages = new ConcurrentLinkedQueue[java.util.Map[String, Any]]()
  private val tasks = new ConcurrentLinkedQueue[Array[Long]]()
  private val phases = new ConcurrentLinkedQueue[java.util.Map[String, Any]]()
  private val batches = new ConcurrentLinkedQueue[java.util.Map[String, Any]]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)
  spark.streams.addListener(new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val st = p.stateOperators
      batches.add(Map[String, Any](
        "time" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "durations_ms" -> d.asJava,
        "state_commit_ms" -> st.map(_.commitTimeMs).sum,
        "state_update_ms" ->
          st.map(s => s.allUpdatesTimeMs + s.allRemovalsTimeMs).sum,
        "state_rows" -> st.map(_.numRowsUpdated).sum,
        "state_bytes" -> st.map(_.memoryUsedBytes).sum).asJava)
    }
  })

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    e.stageIds.foreach(stageJob.put(_, e.jobId))
    jobs.add(Map[String, Any]("job" -> e.jobId, "time" -> e.time,
      "stages" -> e.stageIds.size).asJava)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.add(e.jobId)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    tasks.add(Array(e.taskInfo.launchTime, e.taskInfo.finishTime))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val base = Map[String, Any]("stage" -> i.stageId,
      "job" -> stageJob.getOrDefault(i.stageId, -1),
      "time" -> i.submissionTime.getOrElse(0L), "tasks" -> i.numTasks)
    val metrics = if (m == null) Map.empty[String, Any] else Map[String, Any](
      "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
      "deserialize_ms" -> m.executorDeserializeTime, "gc_ms" -> m.jvmGCTime,
      "input_bytes" -> m.inputMetrics.bytesRead,
      "input_rows" -> m.inputMetrics.recordsRead,
      "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
      "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
      "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
      "spill_disk_bytes" -> m.diskBytesSpilled)
    stages.add((base ++ metrics).asJava)
  }

  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, s) =>
      phases.add(Map[String, Any]("phase" -> phase, "start" -> s.startTimeMs,
        "end" -> s.endTimeMs).asJava)
    }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)

  /** Waits (bounded) for the asynchronous listener bus to deliver the end
    * of every job it has announced. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10e9.toLong
    while (jobEnds.size < jobs.size && System.nanoTime() < deadline)
      Thread.sleep(50)
    Thread.sleep(200)
  }

  def toJava: java.util.Map[String, Any] = Map[String, Any](
    "jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks.asScala.map(t => java.util.Arrays.asList(t(0), t(1)))
      .toSeq.asJava,
    "phases" -> phases, "batches" -> batches).asJava
}
