package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.BusBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One op execution as the driver thread saw it. Times are epoch ms (the
  * clock Spark's listener events use); `buildEnd` splits the op into its
  * `build` span (the query builder, eager jobs included) and its `exec`
  * span (the action that materialises the result). */
final case class OpSpan(id: String, name: String, module: String,
    start: Long, buildEnd: Long, end: Long, ok: Boolean)

final class JobRec(val id: Int, val group: String, val start: Long,
    val ckpt: Boolean) {
  var end: Long = start
}

final class StageRec(val id: Int, val jobId: Int) {
  var submit = 0L
  var end = 0L
  var isMap = false
  var tasks = 0L
  var runMs = 0L
  var delayMs = 0L
  var maxTaskMs = 0L
  var shufW = 0L
  var shufR = 0L
  var fetchWaitMs = 0L
  var spillMem = 0L
  var spillDisk = 0L
  var inBytes = 0L
  var inRecs = 0L
}

/** Records every job, stage and task Spark runs while it is attached,
  * and the planning time of every query execution. Attached only for
  * traced passes; [[take]] hands over and clears what it saw. */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.HashMap.empty[Int, StageRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val plans = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    // a checkpoint job's call site names the checkpoint call that ran it
    // (Dataset.localCheckpoint / checkpoint, graft Checkpoints.cut)
    val ckpt = e.stageInfos.exists(_.details.toLowerCase.contains("checkpoint"))
    jobs(e.jobId) = new JobRec(e.jobId, group, e.time, ckpt)
    e.stageInfos.foreach(s => stageJob.getOrElseUpdate(s.stageId, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  private def stage(id: Int): StageRec =
    stages.getOrElseUpdate(id, new StageRec(id, stageJob.getOrElse(id, -1)))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s.submit = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    s.isMap = BusBridge.isShuffleMap(e.stageInfo)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s.end = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    s.isMap = BusBridge.isShuffleMap(e.stageInfo)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    val dur = if (e.taskInfo != null) e.taskInfo.duration else 0L
    s.tasks += 1
    s.maxTaskMs = math.max(s.maxTaskMs, dur)
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      // scheduler delay + deserialisation: the part of the task's
      // launch-to-finish time the executor did not spend running it
      s.delayMs += math.max(0L, dur - m.executorRunTime - m.resultSerializationTime)
      s.shufW += m.shuffleWriteMetrics.bytesWritten
      s.shufR += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spillMem += m.memoryBytesSpilled
      s.spillDisk += m.diskBytesSpilled
      s.inBytes += m.inputMetrics.bytesRead
      s.inRecs += m.inputMetrics.recordsRead
    }
  }

  private def plan(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    if (ph.nonEmpty) synchronized {
      plans += ((ph.values.map(_.startTimeMs).min, ph.values.map(_.durationMs).sum))
    }
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plan(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plan(qe)

  def take(): (Seq[JobRec], Map[Int, StageRec], Seq[(Long, Long)]) = synchronized {
    val out = (jobs.values.toSeq, stages.toMap, plans.toSeq)
    jobs.clear(); stages.clear(); plans.clear()
    out
  }
}

/** Turns one traced pass into per-layer metrics and a span tree
  * (pass → op → build/exec → job → stage). Self time is a span's
  * duration minus the union of its children's intervals, so the self
  * times of a tree whose siblings do not overlap add up to the pass wall
  * time. An op's children cover it exactly and ops run back to back, so
  * the metrics carry the build, exec, job and stage self times;
  * `span.remainder_s` states what is left (the pass's gaps between ops,
  * negative when jobs ran concurrently inside one op). */
object Trace {
  val Modules: Seq[String] =
    Seq("Relational", "TextPipeline", "Similarity", "Multimodal", "Advanced", "Graph")
  val MrApps: Seq[String] = Seq("wc", "indexer", "grep", "sort")

  private def mb(b: Long): Double = b / 1048576.0

  /** Length of the union of `ivs` clipped to [lo, hi], in ms. */
  private def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val cl = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var cs = Long.MinValue
    var ce = Long.MinValue
    cl.foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) total += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (ce > cs) total += ce - cs
    total
  }

  final case class PassTrace(metrics: Map[String, Double], spans: Seq[Map[String, Any]])

  def summarize(passIdx: Int, passStart: Long, passEnd: Long, ops: Seq[OpSpan],
      jobs: Seq[JobRec], stages: Map[Int, StageRec], plans: Seq[(Long, Long)],
      nproc: Int, extras: Map[String, Double]): PassTrace = {
    val opOf: JobRec => Option[OpSpan] = j =>
      ops.find(_.id == j.group)
        .orElse(ops.find(o => j.start >= o.start && j.start <= o.end))
    val jobsOf = jobs.groupBy(j => opOf(j).map(_.id).getOrElse(""))
    val stagesOf = stages.values.groupBy(_.jobId)
    def jobStages(j: JobRec): Seq[StageRec] = stagesOf.getOrElse(j.id, Nil).toSeq
    def inBuild(o: OpSpan, j: JobRec): Boolean = j.start < o.buildEnd

    val allStages = stages.values.toSeq
    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    val self = mutable.LinkedHashMap("build" -> 0L, "exec" -> 0L, "job" -> 0L, "stage" -> 0L)
    def span(id: String, parent: String, kind: String, name: String,
        a: Long, b: Long, children: Seq[(Long, Long)],
        counters: Map[String, Any] = Map.empty): Unit = {
      val s = math.max(0L, (b - a) - covered(children, a, b))
      if (self.contains(kind)) self(kind) += s
      spans += Map("id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name,
        "start_ms" -> (a - passStart), "end_ms" -> (b - passStart), "self_ms" -> s) ++ counters
    }
    val passId = s"pass$passIdx"
    span(passId, null, "pass", passId, passStart, passEnd, ops.map(o => (o.start, o.end)))
    ops.foreach { o =>
      val js = jobsOf.getOrElse(o.id, Nil)
      span(o.id, passId, "op", o.name, o.start, o.end,
        Seq((o.start, o.buildEnd), (o.buildEnd, o.end)))
      val (bj, ej) = js.partition(inBuild(o, _))
      span(s"${o.id}/build", o.id, "build", "build", o.start, o.buildEnd,
        bj.map(j => (j.start, j.end)))
      span(s"${o.id}/exec", o.id, "exec", "exec", o.buildEnd, o.end,
        ej.map(j => (j.start, j.end)))
      js.foreach { j =>
        val parent = if (inBuild(o, j)) s"${o.id}/build" else s"${o.id}/exec"
        val ss = jobStages(j).filter(s => s.submit > 0 && s.end >= s.submit)
        span(s"job${j.id}", parent, "job", if (j.ckpt) "job(checkpoint)" else "job",
          j.start, j.end, ss.map(s => (s.submit, s.end)))
        ss.foreach(s => span(s"stage${s.id}", s"job${j.id}", "stage",
          if (s.isMap) "map-stage" else "result-stage", s.submit, s.end, Nil,
          Map("tasks" -> s.tasks, "task_s" -> s.runMs / 1000.0,
            "shuffle_write_mb" -> mb(s.shufW), "shuffle_read_mb" -> mb(s.shufR))))
      }
    }

    val wallMs = (passEnd - passStart).toDouble
    val m = mutable.LinkedHashMap.empty[String, Double]
    val opsJobs = ops.flatMap(o => jobsOf.getOrElse(o.id, Nil))
    m("build.s") = ops.map(o => o.buildEnd - o.start).sum / 1000.0
    m("build.jobs") = ops.map(o => jobsOf.getOrElse(o.id, Nil).count(inBuild(o, _))).sum
    m("plan.s") = plans.filter { case (t, _) => t >= passStart && t <= passEnd }
      .map(_._2).sum / 1000.0
    m("exec.s") = ops.map(o => o.end - o.buildEnd).sum / 1000.0
    m("exec.jobs") = jobs.size
    m("exec.stages") = allStages.count(_.tasks > 0)
    m("exec.tasks") = allStages.map(_.tasks).sum
    val taskS = allStages.map(_.runMs).sum / 1000.0
    m("exec.task_s") = taskS
    m("exec.cpu_util") = if (wallMs > 0) taskS / (wallMs / 1000.0 * nproc) else 0.0
    m("exec.sched_delay_s") = allStages.map(_.delayMs).sum / 1000.0
    val stageTime = allStages.filter(s => s.submit > 0 && s.end >= s.submit)
      .map(s => s.end - s.submit).sum
    m("exec.max_task_share") =
      if (stageTime > 0) allStages.map(_.maxTaskMs).sum.toDouble / stageTime else 0.0
    m("shuffle.write_mb") = mb(allStages.map(_.shufW).sum)
    m("shuffle.read_mb") = mb(allStages.map(_.shufR).sum)
    m("shuffle.fetch_wait_s") = allStages.map(_.fetchWaitMs).sum / 1000.0
    m("spill.mem_mb") = mb(allStages.map(_.spillMem).sum)
    m("spill.disk_mb") = mb(allStages.map(_.spillDisk).sum)
    m("scan.input_mb") = mb(allStages.map(_.inBytes).sum)
    m("scan.records") = allStages.map(_.inRecs).sum
    val ck = jobs.filter(_.ckpt)
    m("ckpt.jobs") = ck.size
    m("ckpt.task_s") = ck.flatMap(jobStages).map(_.runMs).sum / 1000.0

    def opJobs(o: OpSpan): Seq[JobRec] = jobsOf.getOrElse(o.id, Nil)
    def opStages(o: OpSpan): Seq[StageRec] = opJobs(o).flatMap(jobStages)
    Modules.foreach { mod =>
      val os = ops.filter(_.module == mod)
      val st = os.flatMap(opStages)
      m(s"registry.$mod.build_s") = os.map(o => o.buildEnd - o.start).sum / 1000.0
      m(s"registry.$mod.exec_s") = os.map(o => o.end - o.buildEnd).sum / 1000.0
      m(s"registry.$mod.jobs") = os.map(opJobs(_).size).sum
      m(s"registry.$mod.task_s") = st.map(_.runMs).sum / 1000.0
      m(s"registry.$mod.shuffle_mb") = mb(st.map(_.shufW).sum)
    }
    def dur(name: String): Double =
      ops.filter(_.name == name).map(o => o.end - o.start).sum / 1000.0
    m("dedup.corpus_s") = dur("dedupCorpus")
    m("dedup.emb_s") = dur("dedupEmbeddings")
    m("dedup.jobs") = ops.filter(o => o.module == "dedup").map(opJobs(_).size).sum
    val epochs = ops.filter(_.module == "stream").map(o => (o.end - o.start) / 1000.0).sorted
    m("stream.epoch_s") = if (epochs.isEmpty) 0.0 else Stats.median(epochs)
    m("stream.state_mb") = extras.getOrElse("stream.state_mb", 0.0)
    m("stream.out_mb") = extras.getOrElse("stream.out_mb", 0.0)
    val mr = ops.filter(_.module == "mr")
    val mrStages = mr.flatMap(opStages)
    val mapStages = mrStages.filter(_.isMap)
    m("mr.map_tasks") = if (mr.isEmpty) 0.0 else mapStages.map(_.tasks).sum.toDouble / mr.size
    m("mr.map_task_s") = mapStages.map(_.runMs).sum / 1000.0
    m("mr.reduce_task_s") = mrStages.filterNot(_.isMap).map(_.runMs).sum / 1000.0
    m("mr.shuffle_mb") = mb(mrStages.map(_.shufW).sum)
    MrApps.foreach(a => m(s"mr.job_s.$a") = dur(s"mr.$a"))

    self.foreach { case (k, v) => m(s"span.${k}_self_s") = v / 1000.0 }
    m("span.remainder_s") = (wallMs - self.values.sum) / 1000.0
    m("span.unattributed_jobs") = jobs.size - opsJobs.size
    PassTrace(m.toMap, spans.toSeq)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the "inclusive" method of Python's
    * `statistics.quantiles`). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}
