package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

object Tracer {
  /** Local property that tags every job with the query that started it. */
  val QueryKey = "graftbench.query"

  type Iv = (Double, Double)

  /** Sorted, disjoint union of intervals. */
  def union(ivs: Iterable[Iv]): List[Iv] =
    ivs.filter(i => i._2 > i._1).toList.sortBy(_._1).foldLeft(List.empty[Iv]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse

  def length(ivs: Iterable[Iv]): Double = ivs.map(i => i._2 - i._1).sum

  def clip(ivs: Iterable[Iv], s: Double, e: Double): Iterable[Iv] =
    ivs.map(i => (math.max(i._1, s), math.min(i._2, e)))

  /** Self time of each layer when every instant goes to the first layer
    * (in priority order) that is active at it; the rest of `wall` is
    * unattributed. */
  def selfTimes(layers: Seq[(String, Iterable[Iv])], s: Double, e: Double): Seq[(String, Double)] = {
    var covered = List.empty[Iv]
    val out = layers.map { case (name, ivs) =>
      val next = union(covered ++ clip(ivs, s, e))
      val self = length(next) - length(covered)
      covered = next
      name -> self
    }
    out :+ ("unattributed" -> ((e - s) - length(covered)))
  }
}

/** Trace of one run, taken from outside the engine: Spark's public
  * listeners (jobs, stages, tasks; Catalyst phase timings of every
  * planned query) and Spark's codegen metrics, plus the client's own
  * spans around the builder call and the sink. Everything is kept in
  * memory and summarised, and the spans written as JSONL, when the run
  * ends. */
class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val cores = sc.defaultParallelism
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def epochMs(nanos: Long): Double = (nanos + offsetNs) / 1e6

  private case class Query(id: String, name: String, start: Double, built: Double, end: Double,
                           ok: Boolean, compiles: Long, compileMs: Double)
  private case class Task(stage: Int, attempt: Int, launch: Double, finish: Double, ok: Boolean,
                          m: Option[org.apache.spark.executor.TaskMetrics])

  private val queries = mutable.ArrayBuffer[Query]()
  private val jobStarts = new ConcurrentLinkedQueue[SparkListenerJobStart]()
  private val jobEnds = new ConcurrentHashMap[Int, SparkListenerJobEnd]()
  private val stageQuery = new ConcurrentHashMap[Int, String]()
  private val stages = new ConcurrentLinkedQueue[StageInfo]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val plans = new ConcurrentLinkedQueue[Map[String, Iv]]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.add(e)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(QueryKey)))
        .foreach(q => stageQuery.put(e.stageInfo.stageId, q))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.add(e.stageInfo)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      tasks.add(Task(e.stageId, e.stageAttemptId, e.taskInfo.launchTime.toDouble,
        e.taskInfo.finishTime.toDouble, e.taskInfo.successful, Option(e.taskMetrics)))
  }
  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      plans.add(qe.tracker.phases.map { case (k, p) =>
        k -> (p.startTimeMs.toDouble, p.endTimeMs.toDouble) })
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }
  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  private def compileCount: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private var compiles0 = 0L

  /** Call just before a query's builder runs. */
  def before(): Unit = compiles0 = compileCount

  /** Call just after the query's sink returned (or it threw). */
  def query(id: String, name: String, start: Long, built: Long, end: Long, ok: Boolean): Unit = {
    val n = compileCount - compiles0
    // Spark keeps compile times only as a sampled histogram: estimate
    // this query's total as its compile count times the sampled mean
    val mean = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
    queries += Query(id, name, epochMs(start), epochMs(built), epochMs(end), ok, n, n * mean)
  }

  /** Drains the listener bus, writes the spans, and returns per-layer
    * metrics as means per traced query (fractions over the whole run). */
  def finish(spansFile: Path): Seq[(String, Double)] = {
    org.apache.spark.GraftBenchBusDrain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)

    val byId = queries.map(q => q.id -> q).toMap
    val jobsOf = jobStarts.asScala.toSeq.flatMap { js =>
      Option(js.properties).flatMap(p => Option(p.getProperty(QueryKey))).filter(byId.contains)
        .map(q => (q, js))
    }.groupMap(_._1)(_._2)
    val stagesOf = stages.asScala.toSeq.flatMap(si =>
      Option(stageQuery.get(si.stageId)).filter(byId.contains).map(q => (q, si))).groupMap(_._1)(_._2)
    val stageSubmit = stages.asScala.map(si => (si.stageId, si.attemptNumber()) ->
      si.submissionTime.map(_.toDouble)).toMap
    val tasksOf = tasks.asScala.toSeq.flatMap(t =>
      Option(stageQuery.get(t.stage)).filter(byId.contains).map(q => (q, t))).groupMap(_._1)(_._2)
    // a planning belongs to the query whose window holds its midpoint
    val sorted = queries.sortBy(_.start)
    val plansOf = plans.asScala.toSeq.flatMap { ph =>
      val s = ph.values.map(_._1).min
      val e = ph.values.map(_._2).max
      val mid = (s + e) / 2
      sorted.find(q => q.start - 1 <= mid && mid <= q.end + 1).map(q => (q.id, ph))
    }.groupMap(_._1)(_._2)

    val sums = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = sums(k) += v
    var tasksAll, tasksFailed = 0L
    var wallAll, runAll = 0.0
    val w = Files.newBufferedWriter(spansFile)
    def span(id: String, kind: String, name: String, s: Double, e: Double, parent: String,
             counts: (String, Any)*): Unit = {
      w.write(Json.obj(Seq("query" -> id, "span" -> kind, "name" -> name, "start_ms" -> s,
        "end_ms" -> e, "parent" -> parent) ++ counts))
      w.newLine()
    }
    for (q <- queries) {
      val jobs = jobsOf.getOrElse(q.id, Nil)
      val sts = stagesOf.getOrElse(q.id, Nil)
      val tks = tasksOf.getOrElse(q.id, Nil)
      val pls = plansOf.getOrElse(q.id, Nil)
      val jobIvs = jobs.map(j => (j.time.toDouble,
        Option(jobEnds.get(j.jobId)).map(_.time.toDouble).getOrElse(q.end)))
      val taskIvs = tks.map(t => (t.launch, t.finish))
      val planIvs = pls.flatMap(_.values)
      val wall = q.end - q.start
      span(q.id, "query", q.name, q.start, q.end, "", "ok" -> q.ok)
      span(q.id, "construct", q.name, q.start, q.built, "query",
        "jobs" -> jobs.count(_.time <= q.built))
      span(q.id, "sink", q.name, q.built, q.end, "query")
      for (p <- pls; (phase, (s, e)) <- p) span(q.id, "plan", phase, s, e,
        if (s < q.built) "construct" else "sink")
      for ((j, (s, e)) <- jobs.zip(jobIvs)) span(q.id, "job", s"job ${j.jobId}", s, e,
        if (s < q.built) "construct" else "sink", "stages" -> j.stageIds.size)
      for (si <- sts) span(q.id, "stage", s"stage ${si.stageId}.${si.attemptNumber()}",
        si.submissionTime.getOrElse(0L).toDouble, si.completionTime.getOrElse(0L).toDouble,
        "job", "tasks" -> si.numTasks, "failed" -> si.failureReason.isDefined)

      val self = selfTimes(Seq(
        "exec" -> taskIvs, "sched" -> jobIvs, "plan" -> planIvs,
        "construct" -> Seq((q.start, q.built)), "sink" -> Seq((q.built, q.end))), q.start, q.end)
      self.foreach { case (k, v) => add(s"self.${k}_ms", v) }
      add("construct.ms", q.built - q.start)
      add("construct.jobs", jobs.count(_.time <= q.built))
      add("sink.ms", q.end - q.built)
      def phase(k: String) = pls.flatMap(_.get(k)).map(i => i._2 - i._1).sum
      add("plan.analysis_ms", phase("analysis"))
      add("plan.optimize_ms", phase("optimization"))
      add("plan.physical_ms", phase("planning"))
      add("plan.count", pls.size)
      add("codegen.compiles", q.compiles)
      add("codegen.compile_ms", q.compileMs)
      add("sched.jobs", jobs.size)
      add("sched.stages", sts.size)
      add("sched.tasks", tks.size)
      add("sched.driver_gap_ms", wall - length(union(clip(taskIvs, q.start, q.end))))
      add("sched.task_wait_ms", tks.map(t => stageSubmit.get((t.stage, t.attempt)).flatten
        .map(s => math.max(0.0, t.launch - s)).getOrElse(0.0)).sum)
      val ms = tks.flatMap(_.m)
      def tsum(f: org.apache.spark.executor.TaskMetrics => Long) = ms.map(f).sum.toDouble
      add("exec.task_run_ms", tsum(_.executorRunTime))
      add("exec.task_cpu_ms", tsum(_.executorCpuTime) / 1e6)
      add("exec.gc_ms", tsum(_.jvmGCTime))
      add("exec.spill_bytes", tsum(_.diskBytesSpilled))
      add("exec.peak_mem_bytes", if (ms.isEmpty) 0.0 else ms.map(_.peakExecutionMemory).max.toDouble)
      add("shuffle.write_bytes", tsum(_.shuffleWriteMetrics.bytesWritten))
      add("shuffle.read_bytes", tsum(_.shuffleReadMetrics.totalBytesRead))
      add("shuffle.fetch_wait_ms", tsum(_.shuffleReadMetrics.fetchWaitTime))
      add("scan.bytes_read", tsum(_.inputMetrics.bytesRead))
      add("scan.rows_read", tsum(_.inputMetrics.recordsRead))
      add("sink.bytes_written", tsum(_.outputMetrics.bytesWritten))
      add("sink.result_bytes", tsum(_.resultSize))
      tasksAll += tks.size
      tasksFailed += tks.count(!_.ok)
      wallAll += wall
      runAll += tsum(_.executorRunTime)
    }
    w.close()
    val n = math.max(1, queries.size).toDouble
    sums.toSeq.map { case (k, v) => k -> v / n } ++ Seq(
      "sched.failed_task_frac" -> (if (tasksAll == 0) 0.0 else tasksFailed.toDouble / tasksAll),
      "exec.core_busy_frac" -> (if (wallAll == 0) 0.0 else runAll / (wallAll * cores)))
  }
}
