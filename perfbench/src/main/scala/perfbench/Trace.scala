package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a library module. Spans nest: `parent` is the span
  * that was open when this one started; `op` is the benchmark operation
  * (loop iteration) the span belongs to. */
final case class Span(id: Int, layer: String, name: String, parent: Int, op: Int,
                      startMs: Long, startNs: Long) {
  var endMs: Long = -1L
  var endNs: Long = -1L
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans around the benchmark's calls into the library. The untraced run
  * uses [[Spans.Off]], which only evaluates the body. */
trait Spans {
  def apply[T](layer: String, name: String)(f: => T): T
  def setOp(i: Int): Unit
}

object Spans {
  object Off extends Spans {
    def apply[T](layer: String, name: String)(f: => T): T = f
    def setOp(i: Int): Unit = ()
  }
}

/** Records spans in memory and tags each span's Spark jobs
  * (`SparkContext.addJobTag`), so the listener's jobs, stages and task
  * metrics can be attributed to the layer that caused them. */
final class Tracer(sc: SparkContext) extends Spans {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var currentOp = -1

  def setOp(i: Int): Unit = currentOp = i

  def apply[T](layer: String, name: String)(f: => T): T = {
    val s = Span(spans.size, layer, name, stack.headOption.fold(-1)(_.id),
      currentOp, System.currentTimeMillis(), System.nanoTime())
    spans += s
    stack = s :: stack
    val tag = s"perfbench-$layer-${s.id}"
    sc.addJobTag(tag)
    try f
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      sc.removeJobTag(tag)
    }
  }
}

final class JobRec(val id: Int, val startMs: Long, val stageIds: Seq[Int],
                   val tags: Set[String]) {
  @volatile var endMs: Long = -1L
}

final case class StageRec(id: Int, tasks: Int, cpuNs: Long, doneMs: Long,
                          shuffleWriteBytes: Long, spillBytes: Long,
                          inputBytes: Long, inputRecords: Long)

/** Collects job intervals and per-stage task metrics. */
final class Recorder extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    jobs += new JobRec(e.jobId, e.time, e.stageIds, tags)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    val done = i.completionTime.getOrElse(System.currentTimeMillis())
    stages += (if (m == null) StageRec(i.stageId, i.numTasks, 0, done, 0, 0, 0, 0)
      else StageRec(i.stageId, i.numTasks, m.executorCpuTime, done,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead))
  }

  def clear(): Unit = synchronized { jobs.clear(); stages.clear() }

  /** Executor CPU (ms) of the stages that completed in [fromMs, toMs]. */
  def cpuMsBetween(fromMs: Long, toMs: Long): Double = synchronized {
    stages.iterator.filter(s => s.doneMs >= fromMs && s.doneMs <= toMs)
      .map(_.cpuNs).sum / 1e6
  }
}

/** Listener totals over a set of jobs. */
final case class Counts(jobs: Int, stages: Int, tasks: Int, cpuS: Double,
                        shuffleWriteMb: Double, spillMb: Double,
                        inputMb: Double, inputRecords: Long)

object Counts {
  val zero: Counts = Counts(0, 0, 0, 0, 0, 0, 0, 0)
}

/** Joins spans with the listener's jobs once the traced loop is over. */
final class TraceReport(spans: Seq[Span], rec: Recorder) {
  private val byId = spans.map(s => s.id -> s).toMap
  private val children: Map[Int, Seq[Span]] = spans.groupBy(_.parent)
  private def depth(s: Span): Int =
    if (s.parent < 0) 0 else 1 + depth(byId(s.parent))

  /** Each job belongs to the span whose tag it carries; a job submitted from
    * a pool thread that inherited no tag falls back to the deepest span open
    * at its submission time (the loop has one client thread). */
  private val spanOfJob: Map[Int, Int] = rec.synchronized {
    rec.jobs.iterator.flatMap { j =>
      val tagged = j.tags.iterator.collect {
        case t if t.startsWith("perfbench-") =>
          t.substring(t.lastIndexOf('-') + 1).toInt
      }.filter(byId.contains).toSeq
      val pick =
        if (tagged.nonEmpty) Some(tagged.maxBy(id => depth(byId(id))))
        else spans.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
          .sortBy(s => (depth(s), s.startNs)).lastOption.map(_.id)
      pick.map(j.id -> _)
    }.toMap
  }

  private val stagesById: Map[Int, Seq[StageRec]] =
    rec.synchronized(rec.stages.toSeq.groupBy(_.id))

  def subtree(s: Span): Seq[Span] =
    s +: children.getOrElse(s.id, Nil).flatMap(subtree)

  def jobsOf(ss: Seq[Span]): Seq[JobRec] = {
    val ids = ss.map(_.id).toSet
    rec.synchronized(rec.jobs.toSeq).filter(j => spanOfJob.get(j.id).exists(ids))
  }

  def counts(jobs: Seq[JobRec]): Counts = {
    val st = jobs.flatMap(_.stageIds).distinct.flatMap(stagesById.getOrElse(_, Nil))
    Counts(jobs.size, st.size, st.map(_.tasks).sum, st.map(_.cpuNs).sum / 1e9,
      st.map(_.shuffleWriteBytes).sum / 1e6, st.map(_.spillBytes).sum / 1e6,
      st.map(_.inputBytes).sum / 1e6, st.map(_.inputRecords).sum)
  }

  /** Counts of the jobs under a span (itself and its descendants). */
  def countsUnder(s: Span): Counts = counts(jobsOf(subtree(s)))

  /** Span wall time not covered by any of its jobs: planning, driver-side
    * work and scheduling gaps. */
  def driverGapS(s: Span): Double = {
    val ivs = jobsOf(subtree(s)).map(j =>
      (math.max(j.startMs, s.startMs), math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    ivs.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, s.ms / 1e3 - covered / 1e3)
  }

  def selfMs(s: Span): Double = s.ms - children.getOrElse(s.id, Nil).map(_.ms).sum

  /** Per-layer self time (ms), summed over spans. */
  def selfByLayer: Map[String, Double] =
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(selfMs).sum }

  /** Listener counts of the jobs attributed directly to each layer's spans. */
  def countsByLayer: Map[String, Counts] =
    spans.groupBy(_.layer).map { case (l, ss) => l -> counts(jobsOf(ss)) }

  /** One row per span, with the listener counts of its own jobs. */
  def spanRows: Seq[scala.collection.Map[String, Any]] = spans.map { s =>
    val c = counts(jobsOf(Seq(s)))
    scala.collection.immutable.ListMap(
      "id" -> s.id, "layer" -> s.layer, "name" -> s.name, "parent" -> s.parent,
      "op" -> s.op, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "dur_ms" -> s.ms, "self_ms" -> selfMs(s), "jobs" -> c.jobs,
      "stages" -> c.stages, "tasks" -> c.tasks, "cpu_s" -> c.cpuS,
      "shuffle_write_mb" -> c.shuffleWriteMb, "spill_mb" -> c.spillMb,
      "input_mb" -> c.inputMb, "input_records" -> c.inputRecords)
  }

  /** The per-layer self-time table, one line per layer. */
  def table(wallMs: Double): Seq[String] = {
    val self = selfByLayer
    val cnt = countsByLayer
    f"${"layer"}%-12s ${"self_ms"}%10s ${"share"}%7s ${"jobs"}%6s ${"stages"}%6s ${"tasks"}%7s ${"cpu_s"}%8s" +:
      self.toSeq.sortBy(-_._2).map { case (l, ms) =>
        val c = cnt.getOrElse(l, Counts.zero)
        f"$l%-12s $ms%10.1f ${ms / wallMs}%7.3f ${c.jobs}%6d ${c.stages}%6d ${c.tasks}%7d ${c.cpuS}%8.2f"
      }
  }
}
