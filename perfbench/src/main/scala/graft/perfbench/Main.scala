package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one timed operation returns: whether it committed a snapshot,
  * the rows it produced, and a result check that runs after the clock
  * stops (None = correct, Some(reason) = wrong result).
  */
final case class OpOut(write: Boolean, rows: Long,
    check: () => Option[String] = () => None)

/** A closed-loop workload: a fixture, then a seeded operation sequence.
  * The first `warm` operations run unmeasured (JIT, caches); the rest
  * are measured one at a time by a single client.
  */
trait Workload {
  def warm: Int
  /** Measured operations per second of `--seconds`, rounded to whole
    * blocks: a fixed count, so every host-invariant count repeats
    * exactly for a seed, and a fixed mix of operation kinds. */
  def opsPerSecond: Double
  def block: Int
  def setup(): Unit
  def plan(n: Int): IndexedSeq[String]
  def run(i: Int, kind: String): OpOut
  /** End-of-run state, listed outside the timed window. */
  def end(): Map[String, Any]
}

/** Entry point, launched by perfbench/run.py:
  * `Main <workload> <seed> <seconds> <trace 0|1> <workDir> <dataDir>`.
  * Writes `<workDir>/result.json` (and `spans.jsonl` when tracing).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS, dataS) = args
    val seed = seedS.toLong
    val trace = traceS == "1"
    val work = Paths.get(workS)
    val cores = Runtime.getRuntime.availableProcessors()
    val wh = work.resolve("warehouse").toString
    Files.createDirectories(work.resolve("warehouse"))
    Trace.tracing = false

    val b = SparkSession.builder().master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      // Spark's status store keeps recent jobs, stages and executions even
      // with the UI off; keep it small so the retained heap shows the
      // engine's own caches
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.catalog.lk", "graft.sources.LakeCatalog")
      .config("spark.sql.catalog.lk.warehouse", wh)
    if (trace)
      b.config("spark.sql.queryExecutionListeners", classOf[PhaseListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(Trace.Listener)
    try runWorkload(spark, workload, seed, secondsS.toInt, trace, work, wh,
      dataS, cores)
    finally spark.stop()
  }

  private def runWorkload(spark: SparkSession, workload: String, seed: Long,
      seconds: Int, trace: Boolean, work: Path, wh: String, data: String,
      cores: Int): Unit = {
    val sc = spark.sparkContext
    val sessionReadyMs = System.currentTimeMillis()
    spark.range(1000).selectExpr("sum(id)").collect()
    val w: Workload = workload match {
      case "evolve_ingest" => new EvolveIngest(spark, wh, seed)
      case "lake_scan" => new LakeScan(spark, wh, data, seed)
      case "upsert_refresh" => new UpsertRefresh(spark, wh, seed)
      case "curation" => new Curation(spark, data, work, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val fixtureT0 = System.currentTimeMillis()
    w.setup()
    val fixtureMs = System.currentTimeMillis() - fixtureT0
    val n = w.block * math.max(1, math.round(w.opsPerSecond * seconds / w.block).toInt)
    val kinds = w.plan(w.warm + n)
    def loadavg = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

    // files under the warehouse (path → bytes), listed between ops
    def listing(): Map[String, Long] = {
      val st = Files.walk(Paths.get(wh))
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally st.close()
    }
    var files = Map.empty[String, Long]
    var jobsBefore = 0L
    var setupDoneMs = 0L
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    for (i <- kinds.indices) {
      val measured = i >= w.warm
      if (i == w.warm) {
        // the measured window starts here: every event of the warm-up
        // has been delivered, and tracing switches on
        org.apache.spark.perfbench.BusAccess.drain(sc)
        jobsBefore = Trace.jobsStarted.get
        Trace.takeStatements()
        Trace.spans.synchronized(Trace.spans.clear())
        Trace.tracing = trace
        setupDoneMs = System.currentTimeMillis()
        if (trace) files = listing()
      }
      val kind = kinds(i)
      Trace.currentOp = i
      Trace.layerMs.clear()
      sc.setLocalProperty(Trace.OpKey, i.toString)
      val mBefore = graft.lake.ManifestIO.loads.get
      val rBefore = graft.sources.BatchRowLakeReader.opened.get
      val gBefore = graft.sources.BatchRowLakeReader.groupWalks.get
      Trace.inOp = true
      val t0 = System.nanoTime()
      val (out, err) =
        try (w.run(i, kind), None)
        catch { case scala.util.control.NonFatal(e) =>
          (OpOut(write = false, rows = 0L), Some(s"threw: $e")) }
      val t1 = System.nanoTime()
      Trace.inOp = false
      sc.setLocalProperty(Trace.OpKey, null)
      if (measured) {
        if (trace) Trace.spans.synchronized {
          Trace.spans += Span(i, "op", kind, Trace.epochMs(t0), Trace.epochMs(t1))
        }
        val problem = err.orElse(
          try out.check()
          catch { case scala.util.control.NonFatal(e) =>
            Some(s"check threw: $e") })
        problem.foreach(p => System.err.println(s"[perfbench] op $i $kind: $p"))
        val rec = mutable.LinkedHashMap[String, Any](
          "i" -> i, "kind" -> kind, "write" -> out.write,
          "wall_ms" -> (t1 - t0) / 1e6, "ok" -> problem.isEmpty,
          "rows" -> out.rows,
          "manifest_loads" -> (graft.lake.ManifestIO.loads.get - mBefore),
          "row_mode_readers" ->
            (graft.sources.BatchRowLakeReader.opened.get - rBefore),
          "group_walks" ->
            (graft.sources.BatchRowLakeReader.groupWalks.get - gBefore),
          "layer_ms" -> Trace.layerMs.toMap)
        problem.foreach(p => rec("error") = p)
        if (trace) {
          org.apache.spark.perfbench.BusAccess.drain(sc)
          val st = Trace.takeStatements()
          def phase(p: String) = st.flatMap(_.phases.get(p))
            .map { case (a, b) => b - a }.sum
          rec ++= Seq("statements" -> st.size,
            "parse_ms" -> phase("parsing"), "analysis_ms" -> phase("analysis"),
            "optimization_ms" -> phase("optimization"),
            "planning_ms" -> phase("planning"),
            "scans" -> st.flatMap(_.scans).map { case (t, f, r) =>
              Map("table" -> t, "files" -> f, "rows" -> r) },
            "exec" -> Trace.execJson(i))
          val now = listing()
          val added = now.keySet -- files.keySet
          rec ++= Seq("files_written" -> added.size,
            "bytes_written" -> added.toSeq.map(now).sum)
          files = now
        }
        ops += rec.toMap
      } else {
        val problem = err.orElse(out.check())
        problem.foreach(p =>
          throw new IllegalStateException(s"warm-up op $i $kind failed: $p"))
      }
    }
    org.apache.spark.perfbench.BusAccess.drain(sc)
    val jobs = Trace.jobsStarted.get - jobsBefore
    Trace.tracing = false
    val endState = w.end()
    // the least heap in use over a few full collections: background
    // threads (listener bus, cleaners) leave short-lived garbage behind
    val memBean = ManagementFactory.getMemoryMXBean
    val retained = (1 to 4).map { _ =>
      System.gc(); Thread.sleep(50); memBean.getHeapMemoryUsage.getUsed
    }.min
    val mem = memBean.getHeapMemoryUsage
    val result = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "cores" -> cores, "warm_ops" -> w.warm,
      "heap_max_mb" -> mem.getMax / 1048576.0,
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_ready_ms" -> sessionReadyMs, "fixture_ms" -> fixtureMs,
      "setup_done_ms" -> setupDoneMs,
      "jobs" -> jobs, "retained_heap_mb" -> retained / 1048576.0,
      "loadavg_end" -> loadavg,
      "end" -> endState, "ops" -> ops.toSeq)
    Files.writeString(work.resolve("result.json"), Json(result))
    if (trace) {
      val lines = Trace.spansSnapshot.map(s => Json(Map("op" -> s.op,
        "layer" -> s.layer, "name" -> s.name, "t0" -> s.t0, "t1" -> s.t1)))
      Files.write(work.resolve("spans.jsonl"), lines.asJava)
    }
  }
}

/** A minimal JSON writer for the result files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
