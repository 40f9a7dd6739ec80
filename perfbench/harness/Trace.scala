package perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** One closed-loop call into the program, timed from the benchmark side. */
final case class Step(id: Int, kind: String, name: String, startMs: Long,
                      endMs: Long, ok: Boolean)

/** Maps a call stack to a pipeline phase: the innermost frame that matches
  * a rule names the phase. A step kind listed in `byStep` (an erasure, a
  * forget, a maintain) claims all of its work for one phase. */
final class PhaseRules(val family: String, rules: Seq[(Regex, String)],
                       byStep: Map[String, String]) {
  val phases: Seq[String] = (rules.map(_._2) ++ byStep.values).distinct

  /** The innermost frame of the program or the benchmark, for reporting
    * work no rule claims. */
  def site(frames: Iterator[String]): String =
    frames.find(f => f.contains("graft.") ||
        (f.contains("perfbench.") && !f.contains("perfbench.Tracer") &&
          !f.contains("perfbench.Counting")))
      .map(_.replaceAll("^.*?/{1,2}", ""))
      .getOrElse("thread " + Thread.currentThread.getName.replaceAll("[0-9]+", "N"))

  def ofFrames(frames: Iterator[String]): Option[String] =
    frames.flatMap(f => rules.collectFirst {
      case (r, p) if r.findFirstIn(f).isDefined => p
    }).nextOption()

  def resolve(stepKind: String, framePhase: => Option[String]): String =
    byStep.get(stepKind).orElse(framePhase)
      .map(p => s"$family.$p").getOrElse(Tracer.Unattributed)
}

object PhaseRules {
  /** Frames of `cls`'s methods (and their closures) whose name starts with
    * one of `methods`; every method when none is given. */
  private def m(cls: String, methods: String*): Regex = {
    val names = if (methods.isEmpty) "" else methods.mkString("(", "|", ")")
    (java.util.regex.Pattern.quote(cls + "$.") + "(\\$anonfun\\$)?" + names).r
  }

  // Reading a call's input tables (graft.core.Tables) is the extraction
  // step of the phase that ingests them: bronze for the medallion, the
  // clean-and-gate ingest for curation. `orchestration` is work the
  // runner issues itself between phases (table reads that feed the next
  // phase, emptiness probes).
  val medallion = new PhaseRules("medallion", Seq(
    m("graft.tx.Watermarks") -> "control",
    m("graft.core.Tables") -> "bronze",
    m("graft.pipeline.Medallion", "bronze") -> "bronze",
    m("graft.pipeline.Medallion", "silver") -> "silver",
    m("graft.pipeline.Medallion", "goldScd", "goldDimDate") -> "gold_dims",
    m("graft.pipeline.Medallion", "goldFact") -> "gold_fact",
    m("graft.pipeline.Runner", "recordFactChanges") -> "cdf_audit",
    m("graft.tx.AtomicRewrite", "compact") -> "compact",
    m("graft.pipeline.Medallion", "goldAgg") -> "gold_agg",
    m("graft.sources.Bucketed") -> "gold_agg",
    m("graft.pipeline.Runner", "runBatch") -> "orchestration"),
    Map("erasure" -> "gdpr"))

  val curation = new PhaseRules("curation", Seq(
    m("graft.tx.Watermarks") -> "control",
    m("graft.core.Tables") -> "clean_gate",
    m("graft.pipeline.CurationRunner", "land", "landedBatch") -> "land",
    m("graft.pipeline.NearDupStore") -> "near_dup",
    m("graft.pipeline.DedupStore") -> "exact_dedup",
    m("graft.pipeline.IndexStore") -> "bm25",
    m("graft.pipeline.AnnIndexStore") -> "ann",
    m("graft.pipeline.TrainingShards") -> "release",
    m("graft.pipeline.CurationRunner", "release", "publishCurated",
      "shardsFromMatches", "curatedOrEmpty") -> "release",
    m("graft.pipeline.CurationRunner", "clean", "gate", "contaminated",
      "guardEmbeddings") -> "clean_gate",
    m("graft.pipeline.CurationRunner", "runBatch", "refreshIndexes") -> "orchestration"),
    Map("forget" -> "forget", "maintain" -> "maintain"))
}

/** Per-layer instruments for a traced run: a SparkListener and a
  * QueryExecutionListener attribute every job, task and query to the step
  * and phase that caused it, and [[CountingFileSystem]] reports filesystem
  * operations. Raw records stay in memory; attribution runs once, after
  * the timed pass. */
final class Tracer(spark: SparkSession, rules: PhaseRules, root: String)
    extends SparkListener with QueryExecutionListener {
  import Tracer._

  private final class JobRec(val id: Int, val startMs: Long,
                             val execId: Option[Long], val callSite: String) {
    @volatile var endMs: Long = -1L
    var stages = 0
    var tasks = 0
    var failedTasks = 0
    var taskNs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var input = 0L
    var spill = 0L
  }

  /** A job inside a timed call, its phase, and its interval clipped to the
    * call. */
  private final class TimedJob(val job: JobRec, val step: Step, val phase: String,
                               val startMs: Long, val endMs: Long)

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val execCallSite = new ConcurrentHashMap[Long, String]()
  private val fsOps = new ConcurrentLinkedQueue[FsRec]()
  private val queries = new ConcurrentLinkedQueue[QueryRec]()
  private val written = new ConcurrentLinkedQueue[BytesRec]()
  private val rootPrefix = new java.io.File(root).getAbsolutePath + "/"
  // the root is <run dir>/work/root
  private val runPrefix =
    new java.io.File(root).getAbsoluteFile.getParentFile.getParent + "/"
  @volatile private var recording = false

  // ---- Spark events ----------------------------------------------------

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => execCallSite.put(e.executionId, e.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val execId = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    val callSite = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
    jobs.put(e.jobId, new JobRec(e.jobId, e.time, execId, callSite))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  private def jobOfStage(stageId: Int): Option[JobRec] =
    Option(stageJob.get(stageId)).flatMap(j => Option(jobs.get(j)))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    jobOfStage(e.stageInfo.stageId).foreach(j => j.synchronized(j.stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    jobOfStage(e.stageId).foreach { j =>
      j.synchronized {
        j.tasks += 1
        if (e.reason != org.apache.spark.Success) j.failedTasks += 1
        Option(e.taskMetrics).foreach { m =>
          j.taskNs += m.executorRunTime * 1000000L
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.input += m.inputMetrics.bytesRead
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    val start = if (phases.isEmpty) System.currentTimeMillis()
                else phases.map(_.startTimeMs).min
    queries.add(QueryRec(start, phases.map(_.durationMs).sum, durationNs))
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  // ---- filesystem ------------------------------------------------------

  private def recordFs(kind: Int, path: Path): Unit = if (recording) {
    val stage = Option(TaskContext.get()).map(_.stageId()).getOrElse(-1)
    // driver-side operations carry their own call stack; task-side ones
    // inherit their job's phase at attribution time
    lazy val frames = Thread.currentThread.getStackTrace.toSeq.map(_.toString)
    val framePhase = if (stage >= 0) None else rules.ofFrames(frames.iterator)
    val site = if (stage >= 0 || framePhase.isDefined) "" else rules.site(frames.iterator)
    val p = Option(path.toUri.getPath).getOrElse("")
    fsOps.add(FsRec(System.currentTimeMillis(), kind, stage, framePhase, site,
      tableOf(path), kind == FsOp.Rename && path.getName == "_LATEST"))
  }

  private def recordBytes(path: Path, n: Long): Unit = if (recording)
    written.add(BytesRec(System.currentTimeMillis(), tableOf(path), n))

  /** The table a path belongs to: its first two levels under the root.
    * Other paths of the run (the warehouse dir behind the bucketed fact
    * table, spill) are named by their first two levels under the run
    * directory, prefixed with `run:` (deeper names carry the run's path). */
  private def tableOf(path: Path): String = {
    val p = Option(path.toUri.getPath).getOrElse("")
    if (p.startsWith(rootPrefix)) p.substring(rootPrefix.length).split("/").take(2).mkString("/")
    else if (p.startsWith(runPrefix))
      "run:" + p.substring(runPrefix.length).split("/").take(2).mkString("/")
    else ""
  }

  def begin(): Unit = recording = true

  def end(): Unit = {
    recording = false
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
  }

  // ---- attribution -----------------------------------------------------

  /** Per-layer metrics over `steps` (the timed pass), plus the trace
    * report and the span list. */
  def summarize(steps: Seq[Step], cores: Int, inputBytes: Long,
                runId: String): (Seq[(String, Double, String)], Map[String, Any], Seq[Map[String, Any]]) = {
    def stepAt(ms: Long): Option[Step] = steps.find(s => s.startMs <= ms && ms <= s.endMs)
    val unattributedSites = mutable.ArrayBuffer[String]()
    val timedJobs = jobs.values.asScala.toSeq.sortBy(_.id).flatMap { j =>
      stepAt(j.startMs).map { s =>
        val site = j.execId.flatMap(id => Option(execCallSite.get(id))).getOrElse(j.callSite)
        val phase = rules.resolve(s.kind, rules.ofFrames(site.split("\n").iterator))
        if (phase == Unattributed) unattributedSites += rules.site(site.split("\n").iterator)
        new TimedJob(j, s, phase, j.startMs, if (j.endMs < 0) s.endMs else math.min(j.endMs, s.endMs))
      }
    }
    def interval(t: TimedJob): (Long, Long) = (t.startMs, t.endMs)
    val phaseOfJob = timedJobs.map(t => t.job.id -> t.phase).toMap
    val timedFs = fsOps.asScala.toSeq.flatMap { r =>
      stepAt(r.ms).map { s =>
        val phase =
          if (r.stage >= 0)
            Option(stageJob.get(r.stage)).flatMap(phaseOfJob.get).getOrElse(Unattributed)
          else rules.resolve(s.kind, r.framePhase)
        TimedOp(r, s, phase)
      }
    }
    val timedBytes = written.asScala.toSeq.filter(b => stepAt(b.ms).isDefined)
    val bytesWritten = timedBytes.map(_.bytes).sum
    val wallMs = steps.map(s => s.endMs - s.startMs).sum.toDouble
    val jobWallMs = unionMs(timedJobs.map(interval)).toDouble
    val taskNs = timedJobs.map(_.job.taskNs).sum
    val metrics = mutable.ArrayBuffer[(String, Double, String)]()
    def put(name: String, v: Double, unit: String): Unit = metrics += ((name, v, unit))
    def sum(xs: Seq[Long]): Double = xs.sum.toDouble

    put("spark.jobs", timedJobs.size, "count")
    put("spark.stages", timedJobs.map(_.job.stages).sum, "count")
    put("spark.tasks", timedJobs.map(_.job.tasks).sum, "count")
    put("spark.task_s", taskNs / 1e9, "s")
    put("spark.job_wall_s", jobWallMs / 1e3, "s")
    put("spark.driver_gap_s", (wallMs - jobWallMs) / 1e3, "s")
    put("spark.shuffle_write_bytes", sum(timedJobs.map(_.job.shuffleWrite)), "bytes")
    put("spark.shuffle_read_bytes", sum(timedJobs.map(_.job.shuffleRead)), "bytes")
    put("spark.input_bytes", sum(timedJobs.map(_.job.input)), "bytes")
    put("spark.spill_bytes", sum(timedJobs.map(_.job.spill)), "bytes")
    put("spark.failed_tasks", timedJobs.map(_.job.failedTasks).sum, "count")
    put("spark.slot_utilization", if (wallMs > 0) taskNs / 1e6 / (cores * wallMs) else 0.0, "ratio")

    FsOp.names.zipWithIndex.foreach { case (n, k) =>
      put(s"fs.$n", timedFs.count(_.op.kind == k), "count")
    }
    put("fs.bytes_written", bytesWritten.toDouble, "bytes")
    put("fs.unattributed", timedFs.count(_.phase == Unattributed), "count")
    // a version commits exactly when its table's _LATEST pointer is
    // renamed into place (AtomicRewrite's commit point)
    put("tx.versions_committed", timedFs.count(_.op.pointerSwap), "count")
    put("tx.write_amp", if (inputBytes > 0) bytesWritten.toDouble / inputBytes else 0.0, "ratio")

    val allPhases = (PhaseRules.medallion.phases.map("medallion." + _) ++
      PhaseRules.curation.phases.map("curation." + _) :+ Unattributed)
    allPhases.foreach { p =>
      val mine = timedJobs.filter(_.phase == p)
      put(s"$p.wall_s", unionMs(mine.map(interval)) / 1e3, "s")
      put(s"$p.jobs", mine.size, "count")
      put(s"$p.task_s", mine.map(_.job.taskNs).sum / 1e9, "s")
      put(s"$p.shuffle_bytes", sum(mine.map(_.job.shuffleWrite)), "bytes")
    }

    val timedQueries = queries.asScala.toSeq.filter(q => stepAt(q.ms).isDefined)
    put("queries.plan_s", timedQueries.map(_.planMs).sum / 1e3, "s")
    put("queries.exec_s", timedQueries.map(_.execNs).sum / 1e9, "s")
    put("queries.jobs", timedJobs.count(_.job.execId.isDefined), "count")

    // Runner.runBatch runs the customer and orders chains concurrently and
    // builds the fact only after both settle: the chain whose last table
    // write lands later is the one the batch waited for
    val chainOf = Map(
      "bronze/customer" -> "customer", "silver/customer" -> "customer",
      "gold/dim_customer_snapshot" -> "customer", "gold/dim_customer_scd3" -> "customer",
      "bronze/orders" -> "orders", "silver/orders" -> "orders", "gold/dim_date" -> "orders")
    val chains = steps.filter(s => s.kind == "batch" && rules.family == "medallion").map { s =>
      val ops = timedFs.filter(_.step.id == s.id).map(_.op)
      val factStart = ops.filter(_.table == "gold/fact_orders").map(_.ms).minOption.getOrElse(s.endMs)
      val last = ops.filter(r => r.ms <= factStart && r.kind != FsOp.List && r.kind != FsOp.Stat)
        .groupBy(r => chainOf.getOrElse(r.table, "")).removed("")
        .view.mapValues(_.map(_.ms).max).toMap
      val blocked = if (last.isEmpty) "none" else last.maxBy(_._2)._1
      val slack = if (last.size == 2) math.abs(last("customer") - last("orders")) / 1e3 else 0.0
      Map("step" -> s.name, "blocked_by" -> blocked, "slack_s" -> slack)
    }

    // batch wall accounted by the named pipeline phases: their union
    // (overlap counted once) plus the driver gap, over the summed batch
    // walls. `orchestration` (any other frame of the runner) and
    // unattributed jobs are left out, so the share is what the named
    // phases explain, not 100% by construction
    val batches = steps.filter(_.kind == "batch")
    val batchWall = batches.map(s => s.endMs - s.startMs).sum.toDouble
    val inBatch = timedJobs.filter(t => batches.exists(_.id == t.step.id))
    val gap = batchWall - unionMs(inBatch.map(interval))
    val named = inBatch.filter(t => t.phase != Unattributed &&
      !t.phase.endsWith(".orchestration"))
    val namedMs = unionMs(named.map(interval))
    def label(t: String) = if (t.isEmpty) "(outside the run)" else t
    val report = Map[String, Any](
      "batch_wall_s" -> batchWall / 1e3,
      "batch_driver_gap_s" -> gap / 1e3,
      "batch_named_phases_s" -> namedMs / 1e3,
      "batch_wall_accounted" -> (if (batchWall > 0) (namedMs + gap) / batchWall else 1.0),
      // per-table counts, so a count that differs between two runs can be
      // traced to the tables (and chains) it differs in
      "fs_by_table" -> (timedFs.groupBy(t => s"${FsOp.names(t.op.kind)} ${label(t.op.table)}")
        .view.mapValues(_.size.toLong).toMap ++
        timedBytes.groupBy(b => s"bytes_written ${label(b.table)}")
          .view.mapValues(_.map(_.bytes).sum).toMap),
      "chains" -> chains,
      "table_chains" -> chainOf,
      "fs_ops_by_phase" -> timedFs.groupBy(_.phase).view.mapValues(_.size).toMap,
      "unattributed_job_sites" -> unattributedSites.groupBy(identity).view.mapValues(_.size).toMap,
      "unattributed_fs_sites" -> timedFs.filter(_.phase == Unattributed)
        .groupBy(t => if (t.op.stage >= 0) s"task of stage ${t.op.stage}" else t.op.site)
        .view.mapValues(_.size).toSeq.sortBy(-_._2).take(10).toMap)

    val spans = steps.map(s => Map[String, Any]("run" -> runId, "id" -> s"s${s.id}",
      "name" -> s.name, "kind" -> s.kind, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs, "parent" -> runId)) ++
      timedJobs.map(t => Map[String, Any]("run" -> runId, "id" -> s"j${t.job.id}",
        "name" -> t.phase, "kind" -> "job", "start_ms" -> t.startMs,
        "end_ms" -> t.endMs, "parent" -> s"s${t.step.id}"))
    (metrics.toSeq, report, spans)
  }
}

object Tracer {
  val Unattributed = "unattributed"

  private final case class FsRec(ms: Long, kind: Int, stage: Int,
                                 framePhase: Option[String], site: String,
                                 table: String, pointerSwap: Boolean)
  private final case class QueryRec(ms: Long, planMs: Long, execNs: Long)
  private final case class BytesRec(ms: Long, table: String, bytes: Long)
  private final case class TimedOp(op: FsRec, step: Step, phase: String)
  @volatile private var active: Tracer = _

  def install(spark: SparkSession, rules: PhaseRules, root: String): Tracer = {
    val t = new Tracer(spark, rules, root)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    active = t
    t
  }

  def fsOp(kind: Int, path: Path): Unit = {
    val t = active
    if (t != null) t.recordFs(kind, path)
  }

  def fsBytes(path: Path, n: Long): Unit = {
    val t = active
    if (t != null) t.recordBytes(path, n)
  }

  /** Total length of the union of [start, end] intervals, in ms. */
  def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Bench's fixed single-threaded xorshift loop: a CPU-steal canary whose
  * work never changes, timed beside every run's metrics. */
object Canary {
  def seconds(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < (1 << 27)) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x
      i += 1
    }
    if (acc == 42L) print("")
    (System.nanoTime() - t0) / 1e9
  }
}
