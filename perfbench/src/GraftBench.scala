package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GateLog, GraftSession, Pipeline, PlanCache, SparkEntry}

/** JVM side of the benchmark: runs one workload's passes through graft's
  * public entry points and writes a raw record (pass and operation
  * boundaries, plus, in traced passes, the Spark events of each pass) as
  * one JSON file. All analysis — classification, self times, medians,
  * percentiles — happens in `perfbench/graftbench/`, so the record is
  * the only interface between the two halves.
  *
  * Usage: graftbench.Main <workload> <inputDir> <workDir> <seconds>
  *   <trace 0|1> <resultJson> <minTimedPasses> [<queryListFile>]
  *
  * Workloads: `etl` (Pipeline.run) and `registry` (the SparkEntry.queries
  * named in queryListFile, each materialized through the noop sink).
  * Which stages a DAG must publish, and which oracle checks each, is the
  * Python side's to decide; the record names each stage as
  * `Pipeline.StageResult` names it.
  */
object Main {
  /** Local property carrying the benchmark's operation span id; jobs
    * inherit it, including AQE's asynchronously submitted stage jobs.
    */
  val OpProp = "graftbench.op"

  private val epoch0Ms = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Wall clock in ms with sub-ms resolution, comparable with the
    * millisecond timestamps Spark puts on listener events.
    */
  def nowMs(): Double = epoch0Ms + (System.nanoTime() - nano0) / 1e6

  /** `id` is the span id carried in [[OpProp]]: `<pass>:<position>`. */
  final case class Op(id: String, var name: String, start: Double, var constructEnd: Double = -1,
      var end: Double = -1, var ok: Boolean = false, var attempts: Int = 1,
      var rows: Long = -1, var error: String = "")

  final class PassRec(val index: Int, val kind: String, val traced: Boolean) {
    var start = 0.0
    var end = 0.0
    val ops = ArrayBuffer.empty[Op]
    var residentBytes = 0L
    var gateDecisions = 0
    var cacheTouches = 0
    var outBytes = 0L
    var outFiles = 0
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, in, work, secondsS, traceS, resultPath, minPassesS) = args.take(7)
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val queryNames: Seq[String] =
      if (args.length > 7) Files.readAllLines(Paths.get(args(7))).asScala.toSeq
        .map(_.trim).filter(_.nonEmpty)
      else Nil
    val t0 = nowMs()
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = GraftSession.builder(s"local[$cpus]", math.max(cpus, 4))
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window", org.apache.logging.log4j.Level.ERROR)
    graft.plans.GraftExtensions.registerInto(spark)
    val sessionReady = nowMs()

    val out = s"$work/out"
    val checkDir = s"$work/check"
    val recorder = new Recorder
    val runner = workload match {
      case "etl" => new DagRunner(spark, Pipeline.run(spark, in, out, _))
      case "registry" => new RegistryRunner(spark, in, queryNames, checkDir)
      case other => sys.error(s"unknown workload $other")
    }

    val passes = ArrayBuffer.empty[PassRec]
    def runPass(kind: String, tracedPass: Boolean): PassRec = {
      val p = new PassRec(passes.size, kind, tracedPass)
      PlanCache.clear()
      deleteTree(Paths.get(out))
      System.gc()
      if (tracedPass) { GateLog.clear(); recorder.attach(spark, p.index) }
      p.start = nowMs()
      runner.pass(p, tracedPass)
      p.end = nowMs()
      if (tracedPass) {
        recorder.detach(spark)
        p.residentBytes = spark.sparkContext.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum
        p.gateDecisions = GateLog.decisionsFor(in).size
        p.cacheTouches = PlanCache.consumersSeen.valuesIterator
          .map(_.count(_.startsWith(s"${p.index}:"))).sum
        val (b, f) = publishedBytes(Paths.get(out))
        p.outBytes = b; p.outFiles = f
      }
      passes += p
      System.err.println(f"[graftbench] pass ${p.index} $kind%-6s traced=$tracedPass " +
        f"${(p.end - p.start) / 1000}%.3f s, ${p.ops.count(!_.ok)} failed ops")
      p
    }

    // cold pass (first in this JVM), then a timed window; the traced run
    // alternates untraced and traced timed passes, starting and ending
    // untraced, so a steady JIT warm-up trend cancels out of the
    // difference of the two medians (the tracing overhead)
    runPass("cold", false)
    val windowStart = nowMs()
    var i = 0
    val minPasses = math.max(if (traced) 3 else 1, minPassesS.toInt)
    while (i < minPasses || nowMs() - windowStart < seconds * 1000 || (traced && i % 2 == 0)) {
      runPass("timed", traced && i % 2 == 1)
      i += 1
    }

    // the outputs the oracle checks are the DAG's stages published by the
    // last pass and the registry's results written by the cold pass
    val oracle = SparkEntry.oracleSql.toSeq.sortBy(_._1)
    PlanCache.clear()
    spark.stop()

    val json = new StringBuilder
    json.append("{")
    json.append(s""""workload":${q(workload)},"cpus":$cpus,"traced":$traced,""")
    json.append(s""""jvm_start_ms":${java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime},"main_start_ms":$t0,"session_ready_ms":$sessionReady,""")
    json.append(s""""peak_rss_kb":${vmHwmKb()},"out_dir":${q(out)},"check_dir":${q(checkDir)},""")
    json.append(oracle.map { case (k, v) => s"${q(k)}:${q(v)}" }
      .mkString(""""oracle_sql":{""", ",", "},"))
    json.append(passes.map(passJson).mkString(""""passes":[""", ",", "],"))
    json.append(s""""events":${recorder.json}""")
    json.append("}")
    Files.write(Paths.get(resultPath), json.toString.getBytes(StandardCharsets.UTF_8))
  }

  trait Runner {
    def pass(p: PassRec, traced: Boolean): Unit
  }

  /** Opens the next operation span of pass `p` at time `t`. */
  private def begin(spark: SparkSession, p: PassRec, name: String, t: Double,
      traced: Boolean): Op = {
    val op = Op(s"${p.index}:${p.ops.size}", name, t)
    p.ops += op
    spark.sparkContext.setLocalProperty(OpProp, op.id)
    if (traced) PlanCache.beginConsumer(op.id, p.index)
    op
  }

  private def endPass(spark: SparkSession, traced: Boolean): Unit = {
    spark.sparkContext.setLocalProperty(OpProp, null)
    if (traced) PlanCache.beginConsumer("", 0)
  }

  /** One DAG run per pass. An operation is a published stage, named by
    * its `StageResult`; its span runs from the previous stage's end (or
    * the pass start) to its own `StagePolicy.onSuccess`, which
    * `Pipeline.runStage` calls right after the stage's in-stage timer
    * stops. The span after the last published stage is dropped unless the
    * run failed inside it; then it stays, unnamed and failed.
    */
  final class DagRunner(spark: SparkSession,
      run: Pipeline.StagePolicy => Seq[Pipeline.StageResult]) extends Runner {
    def pass(p: PassRec, traced: Boolean): Unit = {
      begin(spark, p, "", p.start, traced)
      val policy = Pipeline.StagePolicy(onSuccess = r => {
        val t = nowMs()
        val op = p.ops.last
        op.name = r.name; op.end = t; op.ok = r.attempts == 1
        op.attempts = r.attempts; op.rows = r.rows
        begin(spark, p, "", t, traced)
      })
      try {
        run(policy)
        p.ops.remove(p.ops.size - 1)
      } catch { case NonFatal(e) =>
        val op = p.ops.last
        op.end = nowMs(); op.error = e.toString
      }
      endPass(spark, traced)
    }
  }

  /** One sweep of the named registry queries per pass. An operation is a
    * query: DataFrame construction, then full materialization through the
    * noop sink (a `count()` would let Catalyst prune columns). The cold
    * pass writes each result as parquet under `checkDir` instead, for the
    * oracle check: a second sweep only to write them would cost a run as
    * much as a timed pass.
    */
  final class RegistryRunner(spark: SparkSession, in: String, names: Seq[String],
      checkDir: String) extends Runner {
    // a name missing from the registry fails its operation in every pass
    private val fns = names.map(n => n -> SparkEntry.queries.getOrElse(n,
      (_: SparkSession, _: String) => sys.error(s"$n is not in SparkEntry.queries")))
    def pass(p: PassRec, traced: Boolean): Unit = {
      fns.foreach { case (name, fn) =>
        val op = begin(spark, p, name, nowMs(), traced)
        try {
          val df = fn(spark, in)
          op.constructEnd = nowMs()
          if (p.kind == "cold") df.write.mode("overwrite").parquet(s"$checkDir/$name")
          else df.write.format("noop").mode("overwrite").save()
          op.ok = true
        } catch { case NonFatal(e) => op.error = e.toString }
        op.end = nowMs()
        if (op.constructEnd < 0) op.constructEnd = op.end
      }
      endPass(spark, traced)
    }
  }

  /** Totals of one job's tasks, keyed by the job; `stages` counts the
    * stages that ran (AQE plans more than it runs).
    */
  final class JobAgg(val start: Double, val op: String, val exec: String, val site: String) {
    var stages, tasks, failedTasks, inputB, shuffleWriteB, shuffleReadB, spillB, peakMemB = 0L
    var busyMs, cpuMs, gcMs = 0.0
  }

  /** Spark events of traced passes, kept in memory and written once at
    * the end of the run. Jobs carry the benchmark's op property and
    * their SQL execution id; SQL executions carry the description (the
    * action's call site) that the analysis classifies by file.
    */
  final class Recorder extends SparkListener with QueryExecutionListener {
    private val sql = ArrayBuffer.empty[String]
    private val jobs = ArrayBuffer.empty[String]
    private val qes = ArrayBuffer.empty[String]
    private val sqlStart = scala.collection.mutable.Map.empty[Long, (Double, String, Long)]
    private val aqe = scala.collection.mutable.Map.empty[Long, Int].withDefaultValue(0)
    private val running = scala.collection.mutable.Map.empty[Int, JobAgg]
    private val stageJob = scala.collection.mutable.Map.empty[Int, Int]
    private var pass = -1
    private val lock = new Object

    def attach(spark: SparkSession, passIndex: Int): Unit = {
      lock.synchronized { pass = passIndex }
      spark.sparkContext.addSparkListener(this)
      spark.listenerManager.register(this)
    }
    /** Drain the listener bus so every event of the pass is in, then
      * detach.
      */
    def detach(spark: SparkSession): Unit = {
      org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
      spark.listenerManager.unregister(this)
      spark.sparkContext.removeSparkListener(this)
    }

    override def onOtherEvent(event: SparkListenerEvent): Unit = lock.synchronized {
      event match {
        case e: SparkListenerSQLExecutionStart =>
          sqlStart(e.executionId) = (e.time.toDouble, e.description,
            e.rootExecutionId.getOrElse(e.executionId))
        case e: SparkListenerSQLAdaptiveExecutionUpdate => aqe(e.executionId) += 1
        case e: SparkListenerSQLExecutionEnd =>
          sqlStart.remove(e.executionId).foreach { case (st, desc, root) =>
            sql += s"""{"pass":$pass,"id":${e.executionId},"root":$root,""" +
              s""""start":$st,"end":${e.time},"desc":${q(desc)},""" +
              s""""aqe_updates":${aqe.remove(e.executionId).getOrElse(0)}}"""
          }
        case _ => ()
      }
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
      // the job's own call site is the name of its final stage
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      running(e.jobId) = new JobAgg(e.time.toDouble, prop(OpProp),
        prop("spark.sql.execution.id"), site)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      stageJob.get(e.stageId).flatMap(running.get).foreach { a =>
        a.tasks += 1
        a.busyMs += e.taskInfo.duration
        if (e.taskInfo.failed || e.taskInfo.killed) a.failedTasks += 1
        Option(e.taskMetrics).foreach { m =>
          a.cpuMs += m.executorCpuTime / 1e6
          a.gcMs += m.jvmGCTime
          a.inputB += m.inputMetrics.bytesRead
          a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          a.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
          a.peakMemB = math.max(a.peakMemB, m.peakExecutionMemory)
        }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(running.get).foreach(_.stages += 1)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      stageJob.filterInPlace { case (_, j) => j != e.jobId }
      running.remove(e.jobId).foreach { a =>
        jobs += s"""{"pass":$pass,"id":${e.jobId},"op":${q(a.op)},""" +
          s""""exec":${if (a.exec.isEmpty) "null" else a.exec},"site":${q(a.site)},""" +
          s""""start":${a.start},"end":${e.time},"stages":${a.stages},"tasks":${a.tasks},""" +
          s""""busy_ms":${a.busyMs},"cpu_ms":${a.cpuMs},"gc_ms":${a.gcMs},""" +
          s""""input_b":${a.inputB},"shuffle_write_b":${a.shuffleWriteB},""" +
          s""""shuffle_read_b":${a.shuffleReadB},"spill_b":${a.spillB},""" +
          s""""peak_mem_b":${a.peakMemB},"failed_tasks":${a.failedTasks}}"""
      }
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      recordQe(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      recordQe(funcName, qe)

    private def recordQe(funcName: String, qe: QueryExecution): Unit =
      lock.synchronized {
        val phases = qe.tracker.phases.map { case (k, v) =>
          s"${q(k)}:[${v.startTimeMs},${v.endTimeMs}]" }.mkString("{", ",", "}")
        qes += s"""{"pass":$pass,"id":${qe.id},"func":${q(funcName)},"phases":$phases}"""
      }

    def json: String = lock.synchronized {
      s"""{"sql":${sql.mkString("[", ",", "]")},"jobs":${jobs.mkString("[", ",", "]")},""" +
        s""""qe":${qes.mkString("[", ",", "]")}}"""
    }
  }

  private def passJson(p: PassRec): String = {
    val ops = p.ops.map { o =>
      s"""{"id":${q(o.id)},"name":${q(o.name)},"start":${o.start},"construct_end":${o.constructEnd},""" +
        s""""end":${o.end},"ok":${o.ok},"attempts":${o.attempts},"rows":${o.rows},""" +
        s""""error":${q(o.error)}}"""
    }.mkString("[", ",", "]")
    s"""{"index":${p.index},"kind":${q(p.kind)},"traced":${p.traced},""" +
      s""""start":${p.start},"end":${p.end},"resident_b":${p.residentBytes},""" +
      s""""gate_decisions":${p.gateDecisions},"cache_touches":${p.cacheTouches},""" +
      s""""out_b":${p.outBytes},"out_files":${p.outFiles},"ops":$ops}"""
  }

  /** Bytes and count of the published parquet part files under `dir`. */
  private def publishedBytes(dir: Path): (Long, Int) =
    if (!Files.isDirectory(dir)) (0L, 0)
    else {
      val s = Files.walk(dir)
      try {
        val files = s.iterator.asScala.filter { f =>
          Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")
        }.toSeq
        (files.map(Files.size).sum, files.size)
      } finally s.close()
    }

  private def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }

  private def vmHwmKb(): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
    catch { case _: Exception => -1L }

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
