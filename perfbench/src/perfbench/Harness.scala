package perfbench

import java.lang.management.ManagementFactory
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Drain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, SparkEntry}

/** JVM side of the benchmark: one single-threaded closed-loop client.
  *
  * Times the set-up from JVM launch (`--launch-ms`) to a ready session;
  * with `--setup-only 1` it writes that one sample and exits. Otherwise it
  * runs the cold pass with each request saving its result as parquet (the
  * correctness check reads those files), then warm passes through the
  * `noop` sink until `--seconds` have passed and at least `--min-passes`
  * passes are done. Every request is `SparkEntry.queries(name)(spark,
  * dataDir)` followed by the write; `spark.catalog.clearCache()` runs
  * between requests, outside the timer.
  *
  * With `--trace 1` the Spark, query-execution and streaming listeners are
  * attached on every second warm pass, so each traced pass sits between two
  * untraced ones (their difference is the tracing overhead), and the raw
  * events are kept in memory. All
  * numbers go to one JSON file, `--out`, written once at the end;
  * `perfbench/run.py` turns it into metrics and spans.
  */
object Harness {

  private def nowMs: Long = System.currentTimeMillis()

  private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum
  private def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime).getOrElse(0L)
  private def codeCacheMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getName.contains("Code"))
    .map(_.getUsage.getUsed).sum / 1048576.0

  private def obj(kv: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }
  private def list(xs: Iterable[Any]): JList[Any] = new JList[Any](xs.asJavaCollection)

  /** Raw listener events of the traced passes. Listener callbacks arrive on
    * Spark's listener-bus thread; everything here is read only after
    * [[Drain]] has emptied the bus.
    */
  final class Recorder(cores: Int) extends SparkListener with QueryExecutionListener {
    val jobs = new JList[Any]()
    val stages = new JList[Any]()
    val qes = new JList[Any]()
    val progress = new JList[Any]()
    private val jobStart = mutable.Map[Int, (Long, Seq[Int])]()
    private final class TaskAgg {
      var n = 0L; var failed = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
      var shW = 0L; var shR = 0L; var spill = 0L
      var inB = 0L; var inR = 0L; var outB = 0L; var outR = 0L
      val durations = mutable.ArrayBuffer[Long]()
    }
    private val tasks = mutable.Map[Int, TaskAgg]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStart(e.jobId) = (e.time, e.stageIds)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStart.remove(e.jobId).foreach { case (t0, sids) =>
        jobs.add(obj("id" -> e.jobId, "start" -> t0, "end" -> e.time,
          "ok" -> (e.jobResult == JobSucceeded), "stages" -> list(sids)))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = tasks.getOrElseUpdate(e.stageId, new TaskAgg)
      a.n += 1
      if (e.reason != org.apache.spark.Success) a.failed += 1
      a.durations += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
        a.shW += m.shuffleWriteMetrics.bytesWritten
        a.shR += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled
        a.inB += m.inputMetrics.bytesRead; a.inR += m.inputMetrics.recordsRead
        a.outB += m.outputMetrics.bytesWritten; a.outR += m.outputMetrics.recordsWritten
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val a = tasks.remove(i.stageId).getOrElse(new TaskAgg)
      stages.add(obj("id" -> i.stageId, "attempt" -> i.attemptNumber(),
        "start" -> i.submissionTime.getOrElse(0L), "end" -> i.completionTime.getOrElse(0L),
        "tasks" -> a.n, "failed_tasks" -> a.failed, "run_ms" -> a.runMs,
        "cpu_ms" -> a.cpuNs / 1e6, "gc_ms" -> a.gcMs, "task_ms" -> list(a.durations),
        "shuffle_write_b" -> a.shW, "shuffle_read_b" -> a.shR, "spill_b" -> a.spill,
        "in_b" -> a.inB, "in_rows" -> a.inR, "out_b" -> a.outB, "out_rows" -> a.outR))
    }

    private def qe(func: String, q: QueryExecution, durNs: Long, ok: Boolean): Unit = {
      val ph = q.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val starts = ph.values.map(_.startTimeMs)
      val ends = ph.values.map(_.endTimeMs)
      qes.add(obj("func" -> func, "ok" -> ok, "action_ms" -> durNs / 1e6,
        "start" -> (if (starts.isEmpty) 0L else starts.min),
        "end" -> (if (ends.isEmpty) 0L else ends.max),
        "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
        "planning_ms" -> ms("planning")))
    }
    override def onSuccess(func: String, q: QueryExecution, durNs: Long): Unit =
      qe(func, q, durNs, ok = true)
    override def onFailure(func: String, q: QueryExecution, e: Exception): Unit =
      qe(func, q, 0L, ok = false)

    private val streaming = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        progress.add(obj("query" -> p.id.toString, "batch" -> p.batchId,
          "time" -> nowMs, "rows" -> p.numInputRows, "batch_ms" -> p.batchDuration,
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
          "state_b" -> p.stateOperators.map(_.memoryUsedBytes).sum))
      }
    }

    def attach(spark: SparkSession): Unit = {
      spark.sparkContext.addSparkListener(this)
      classic(spark).listenerManager.register(this)
      spark.streams.addListener(streaming)
    }
    def detach(spark: SparkSession): Unit = {
      Drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(this)
      classic(spark).listenerManager.unregister(this)
      spark.streams.removeListener(streaming)
    }
    def toJson: JMap[String, Any] = obj("cores" -> cores, "jobs" -> jobs,
      "stages" -> stages, "qes" -> qes, "progress" -> progress)
  }

  private def classic(s: SparkSession) = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** Bytes held by cached and checkpointed RDD blocks (memory + disk). */
  private def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = opt("cpus")
    def write(result: JMap[String, Any]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(opt("out")),
        new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsBytes(result))

    // ---- set-up: JVM launch -> session ready ----
    val spark = GraftSession.getOrCreate(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val setupS = (nowMs - opt("launch-ms").toLong) / 1000.0
    if (opt.get("setup-only").contains("1")) {
      write(obj("setup_s" -> setupS))
      spark.stop()
      return
    }

    val dataDir = opt("data")
    val work = opt("work")
    val entryList = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(opt("entries")))
      .asScala.map(_.trim).filter(_.nonEmpty).toVector
    val seconds = opt("seconds").toDouble
    val minPasses = opt("min-passes").toInt
    val traced = opt("trace") == "1"
    val recorder = new Recorder(cpus.toInt)

    /** One request: build the entry's DataFrame, then write it. */
    def request(name: String, pass: Int, sink: Option[String]): JMap[String, Any] = {
      val t0 = nowMs; val n0 = System.nanoTime(); val c0 = cpuNs
      var nb = n0
      var err: String = null
      try {
        val df = SparkEntry.queries(name)(spark, dataDir)
        nb = System.nanoTime()
        sink match {
          case None => df.write.format("noop").mode("overwrite").save()
          case Some(path) => df.write.mode("overwrite").parquet(path)
        }
      } catch {
        case e: Throwable =>
          err = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          System.err.println(s"[perfbench] $name failed: $err")
      }
      val n2 = System.nanoTime()
      val c2 = cpuNs
      if (nb == n0) nb = n2
      val r = obj("name" -> name, "pass" -> pass, "start" -> t0,
        "build_end" -> (t0 + (nb - n0) / 1000000L), "end" -> (t0 + (n2 - n0) / 1000000L),
        "build_ms" -> (nb - n0) / 1e6, "materialize_ms" -> (n2 - nb) / 1e6,
        "latency_s" -> (n2 - n0) / 1e9, "cpu_s" -> (c2 - c0) / 1e9, "error" -> err)
      if (traced) r.put("cached_mb", cachedMb(spark))
      spark.catalog.clearCache() // request hygiene, outside the timer
      if (traced) r.put("leftover_mb", cachedMb(spark))
      r
    }

    def runPass(names: Seq[String], pass: Int, trace: Boolean,
                sink: String => Option[String]): JMap[String, Any] = {
      if (trace) recorder.attach(spark)
      val g0 = gcMs; val j0 = jitMs
      val reqs = names.map(n => request(n, pass, sink(n)))
      if (trace) recorder.detach(spark)
      obj("pass" -> pass, "traced" -> trace, "requests" -> list(reqs),
        "wall_s" -> reqs.map(_.get("latency_s").asInstanceOf[Double]).sum,
        "cpu_s" -> reqs.map(_.get("cpu_s").asInstanceOf[Double]).sum,
        "gc_ms" -> (gcMs - g0), "jit_ms" -> (jitMs - j0))
    }

    val outDir = s"$work/out"
    val cold = runPass(entryList, 0, trace = false, n => Some(s"$outDir/$n"))

    val passes = mutable.ArrayBuffer[JMap[String, Any]]()
    val w0 = System.nanoTime()
    while (passes.size < minPasses || (System.nanoTime() - w0) / 1e9 < seconds)
      passes += runPass(entryList, passes.size + 1, trace = traced && passes.size % 2 == 1, _ => None)

    spark.catalog.clearCache()
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    val oracles = new JMap[String, Any]()
    entryList.foreach(n => SparkEntry.oracleSql.get(n).foreach(sql => oracles.put(n, sql)))
    write(obj("setup_s" -> setupS, "cold" -> cold, "passes" -> list(passes),
      "heap_retained_mb" -> heapMb, "codecache_mb" -> codeCacheMb,
      "warm_s" -> (System.nanoTime() - w0) / 1e9, "oracles" -> oracles,
      "trace" -> (if (traced) recorder.toJson else null)))
    spark.stop()
  }
}
