package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession

import graft.{PinnedBlocks, Q, SparkEntry}

/** One timed query execution. Times are on the
  * [[Clock]] timeline; `built`/`planned` close the build and plan spans
  * (an untraced execution plans inside its action, so `planned == built`). */
final case class Exec(
    query: String, pass: Int, traced: Boolean,
    start: Double, built: Double, planned: Double, end: Double,
    rows: Long, phasesMs: Map[String, Double], storageBytes: Long, pinnedRdds: Int,
    gcMs: Long) {
  def wallS: Double = (end - start) / 1e3
}

/** The run's set-up: JVM start, session build start and end, warm pass end. */
final case class Setup(jvmStart: Double, start: Double, sessionBuilt: Double, end: Double) {
  def totalS: Double = (end - jvmStart) / 1e3
}

/** Closed-loop, single-client benchmark of one graft workload.
  *
  * Arguments are `key=value` pairs: `workload`, `queries` (comma-separated
  * name prefixes), `data` (input tables), `probe_dirs` (copies of the
  * tables under paths no query has read, for the `sources` probe), `seed`,
  * `seconds`, `min_passes`, `trace` (0 or 1), `cores`, `dump` (where
  * results are written for the DuckDB oracle), `scratch` and `out`
  * (result JSON).
  *
  * Set-up is JVM start, a session with graft.Bench's confs, and an untimed
  * warm pass that writes every query's result for the oracle check. Timed
  * passes follow in a seeded query order until `seconds` have passed.
  * With `trace=1`, passes alternate between untraced and traced
  * (SparkListener attached, physical plan forced before the action), and
  * the layer probes run last. */
object Main {
  def main(args: Array[String]): Unit = {
    val conf = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    new Run(conf).execute()
  }
}

final class Run(conf: Map[String, String]) {
  private val workload = conf("workload")
  private val seed = conf("seed").toLong
  private val seconds = conf("seconds").toDouble
  private val traceMode = conf("trace") == "1"
  private val cores = conf("cores").toInt
  private val dir = conf("data")
  private val dump = conf("dump")
  private val probeDirs = conf.get("probe_dirs").map(_.split(",").toSeq.filter(_.nonEmpty))
    .getOrElse(Seq.empty)
  // the first pass is left out of every pass metric; a traced run
  // alternates untraced and traced passes, so it needs three or more
  private val minPasses = {
    val n = conf("min_passes").toInt
    if (traceMode) math.max(3, n) else math.max(2, n)
  }

  private val queries: Seq[Q] = conf("queries").split(",").toSeq.map { prefix =>
    SparkEntry.all.find(_.name.startsWith(prefix + "_"))
      .getOrElse(sys.error(s"no graft query named $prefix"))
  }.sortBy(_.name)

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  private val failures = ArrayBuffer.empty[Map[String, String]]
  private var attempted = 0
  private val batches = new BatchRecorder
  private val exec = new ExecRecorder
  private var spark: SparkSession = _

  private def fail(phase: String, query: String, e: Throwable): Unit =
    failures += Map("phase" -> phase, "query" -> query,
      "error" -> e.getClass.getName, "message" -> String.valueOf(e.getMessage).take(300))

  private def buildSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.warehouse.dir",
        Files.createTempDirectory(Paths.get(conf("scratch")), "warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.streams.addListener(batches)
    if (traceMode) s.sparkContext.addSparkListener(exec)
    execAttached = traceMode
    s
  }

  private var execAttached = false

  /** Attach or detach the scheduler recorder, after draining the events
    * already posted so none is lost or attributed to the wrong pass. */
  private def listenExec(on: Boolean): Unit = if (on != execAttached) {
    org.apache.spark.ListenerBridge.drain(spark.sparkContext)
    if (on) spark.sparkContext.addSparkListener(exec)
    else spark.sparkContext.removeSparkListener(exec)
    execAttached = on
  }

  /** Between-query hygiene outside the timers, as in graft.Bench. */
  private def clearState(): Unit = {
    PinnedBlocks.clearUnpinned(spark)
    spark.catalog.clearCache()
  }

  /** graft.Bench's warm-up and the untimed warm pass. Each query's result
    * is computed once, written for the DuckDB oracle (scripts/selfcheck.py)
    * next to the oracle SQL as graft.Verify writes it, and counted. Returns
    * each query's row count and warm-pass seconds. */
  private def warmPass(): Map[String, (Long, Double)] = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$dir/lineitem.parquet").limit(1).collect()
    val out = queries.flatMap { q =>
      attempted += 1
      val t = Clock.now
      val rows = try {
        val result = q.fn(spark, dir).localCheckpoint(true)
        result.coalesce(1).write.mode("overwrite").parquet(s"$dump/${q.name}")
        Some(result.count())
      } catch { case e: Throwable => fail("warm", q.name, e); None }
      clearState()
      rows.map(n => q.name -> (n, (Clock.now - t) / 1e3))
    }.toMap
    Files.createDirectories(Paths.get(dump))
    Files.writeString(Paths.get(s"$dump/oracle_sql.json"),
      json.writeValueAsString(queries.flatMap(q => q.oracle.map(q.name -> _)).toMap))
    out
  }

  /** One timed execution: build the frame, optionally force its physical
    * plan, then run the count action on that same plan. */
  private def runQuery(q: Q, pass: Int, traced: Boolean): Option[Exec] = {
    attempted += 1
    val gc0 = if (traced) gcMs() else 0L
    val start = Clock.now
    try {
      val df = q.fn(spark, dir)
      val built = Clock.now
      val counted = df.groupBy().count()
      val planned =
        if (traced) { counted.queryExecution.executedPlan; Clock.now } else built
      val rows = counted.collect()(0).getLong(0)
      val end = Clock.now
      val gc = if (traced) gcMs() - gc0 else 0L
      val (phases, storage, pinned) =
        if (!traced) (Map.empty[String, Double], 0L, 0)
        else {
          val ph = counted.queryExecution.tracker.phases
          val analysis = df.queryExecution.tracker.phases.get("analysis")
            .map(_.durationMs).getOrElse(0L)
          val info = spark.sparkContext.getRDDStorageInfo
          (Map(
            "analysis" -> (analysis + ph.get("analysis").map(_.durationMs).getOrElse(0L)).toDouble,
            "optimization" -> ph.get("optimization").map(_.durationMs).getOrElse(0L).toDouble,
            "planning" -> ph.get("planning").map(_.durationMs).getOrElse(0L).toDouble),
            info.map(i => i.memSize + i.diskSize).sum,
            info.count(i => PinnedBlocks.isPinned(i.id)))
        }
      Some(Exec(q.name, pass, traced, start, built, planned, end, rows, phases, storage, pinned,
        gc))
    } catch {
      case e: Throwable => fail(s"pass$pass", q.name, e); None
    } finally clearState()
  }

  /** Collection time of every garbage collector in this JVM, which in
    * local mode runs Spark's scheduler and every executor. */
  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  /** Heap held by live objects after set-up: heap in use right after a full
    * collection, the least of three taken 200 ms apart so that Spark's
    * ContextCleaner can release what the previous one found unreachable.
    * The heap is sized up front, so VmHWM alone does not move with it. */
  private def liveHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    Thread.sleep(200)
    used / 1048576.0
  }.min

  def execute(): Unit = {
    val jvmStart = Clock.fromEpochMs(
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val t0 = Clock.now
    spark = buildSession()
    val t1 = Clock.now
    val warm = warmPass()
    val warmRows = warm.map { case (q, (n, _)) => q -> n }
    val setup = Setup(jvmStart, t0, t1, Clock.now)
    // measured here, not after the passes: Spark's status store keeps every
    // execution, so later the figure would grow with the number of passes
    val liveHeap = liveHeapMb()

    val execs = ArrayBuffer.empty[Exec]
    val passWalls = ArrayBuffer.empty[(Int, Boolean, Double)]
    val rnd = new scala.util.Random(seed)
    var measureStart = Clock.now
    var pass = 0
    while (pass < minPasses || Clock.now - measureStart < seconds * 1e3) {
      val traced = traceMode && pass % 2 == 1
      if (traceMode) listenExec(traced)
      val mine = rnd.shuffle(queries).flatMap(runQuery(_, pass, traced))
      mine.foreach { e =>
        if (warmRows.get(e.query).exists(_ != e.rows))
          fail(s"pass$pass", e.query, new IllegalStateException(
            s"rows ${e.rows} != warm pass ${warmRows(e.query)}"))
      }
      execs ++= mine
      passWalls += ((pass, traced, mine.map(_.wallS).sum))
      pass += 1
      // the first pass is warm-up; the timed window starts after it
      if (pass == 1) measureStart = Clock.now
    }
    if (traceMode) listenExec(true)
    org.apache.spark.ListenerBridge.drain(spark.sparkContext)
    val peakRss = vmHwmMb()

    val probeSeconds = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def probe[T](name: String)(body: => T): T = {
      val t = Clock.now
      try body finally probeSeconds(name) = (Clock.now - t) / 1e3
    }
    val probes: Map[String, Double] =
      if (!traceMode) Map.empty
      else {
        val (coreM, coreErr) = probe("core")(Probes.core(spark))
        coreErr.foreach(m => failures += Map("phase" -> "probe", "query" -> "core",
          "error" -> "WrongResult", "message" -> m))
        coreM ++ probe("functions")(Probes.functions(spark, dir)) ++
          probe("sources")(Probes.sources(spark, probeDirs))
      }
    org.apache.spark.ListenerBridge.drain(spark.sparkContext)

    val report = new Report(workload, cores, setup, execs.toSeq, passWalls.toSeq,
      batches.all, exec)
    val out = Map[String, Any](
      "workload" -> workload,
      "seed" -> seed,
      "seconds" -> seconds,
      "trace" -> traceMode,
      "cores" -> cores,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "queries" -> queries.map(_.name),
      "jvm_boot_s" -> (setup.start - jvmStart) / 1e3,
      "passes" -> passWalls.map { case (p, t, w) =>
        Map("pass" -> p, "traced" -> t, "wall_s" -> w) },
      "warm_rows" -> warmRows,
      "warm_query_s" -> warm.map { case (q, (_, t)) => q -> t },
      "probe_s" -> probeSeconds,
      "query_median_s" -> execs.filterNot(_.traced).groupBy(_.query)
        .map { case (q, es) => q -> Stats.median(es.map(_.wallS).toSeq) },
      "attempted" -> attempted,
      "failures" -> failures.toSeq,
      "end_to_end" -> report.endToEnd(peakRss, liveHeap),
      "per_layer" -> (if (traceMode) report.perLayer(probes) else Map.empty),
      "probe_sizes" -> (if (traceMode) Probes.sizes else Map.empty),
      "trace_records" -> (if (traceMode) report.traceRecords else Map.empty))
    Files.writeString(Paths.get(conf("out")), json.writeValueAsString(out))
    spark.stop()
  }
}
