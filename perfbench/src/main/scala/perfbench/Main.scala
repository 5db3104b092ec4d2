package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point; `run.py` builds the classpath and
  * launches it. One invocation runs one workload for one seed and prints,
  * as its last two stdout lines, the full run record and then the
  * one-line result.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --root DIR --work DIR [--commit C] [--source S]
  *   perfbench.Main --dump-oracle FILE --root DIR --work DIR
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, root: String, work: String,
                        commit: String, source: String,
                        dumpOracle: Option[String])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m.getOrElse("workload", ""), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1",
      m("root"), m("work"), m.getOrElse("commit", "unknown"),
      m.getOrElse("source", "unknown"), m.get("dump-oracle"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val code =
      try {
        o.dumpOracle match {
          case Some(f) => MixWorkload.dumpOracle(f); 0
          case None => new Runner(o).run()
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] run failed: $e")
          e.printStackTrace()
          1
      }
    System.out.flush()
    sys.exit(code)
  }
}

/** One timed stretch of an op: wall time, the client thread's CPU time, and
  * the wall-clock window in which the op's executor stages completed. */
final case class Timed(ms: Double, cpuMs: Double, fromMs: Long, toMs: Long)

/** Starts timing at construction; `stop()` reads the stretch so far. */
final class Stopwatch {
  private val ns0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis()
  private val cpu0 = Stopwatch.threads.getCurrentThreadCpuTime
  def elapsedMs: Double = (System.nanoTime() - ns0) / 1e6
  def stop(): Timed = Timed(elapsedMs,
    (Stopwatch.threads.getCurrentThreadCpuTime - cpu0) / 1e6, ms0,
    System.currentTimeMillis())
}

object Stopwatch {
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
}

/** Per-op outcome: the timed stretches (the op's own output checks fall
  * outside them) and whether every check held. */
final case class OpResult(ok: Boolean, parts: Seq[Timed]) {
  def ms: Double = parts.map(_.ms).sum
}

/** One workload: program-side preparation (part of set-up) and a timed op. */
trait Workload {
  /** Untimed input generation, before any set-up; excluded from setup_s. */
  def generate(): Unit = ()
  /** Warm-up, timed as part of each set-up: by default one tiny survey
    * through the write path, so class loading and code generation happen
    * before the first timed op. */
  def warmup(spark: SparkSession): Unit = Warmup.run(spark, work)
  protected def work: File
  /** Program-side preparation, timed as part of each set-up. */
  def prepare(spark: SparkSession): Unit = ()
  /** Untimed output check of the whole workload, once per run, before the
    * timed loop; returns (checks attempted, checks failed). */
  def verify(spark: SparkSession): (Int, Int) = (0, 0)
  /** Forget the per-op records of the warm-up ops. */
  def reset(): Unit = ()
  /** One timed operation. */
  def op(spark: SparkSession, i: Int, spans: Spans): OpResult
  /** Workload metrics named after what they measure (record line). */
  def record(ops: Seq[OpResult]): Map[String, Any]
  /** Traced-run extras: probes and the workload's own layer metrics, from
    * the spans of the traced ops. */
  def layers(spark: SparkSession, rep: TraceReport, spans: Seq[Span],
             tracedOps: Set[Int]): Map[String, Any] = Map.empty
  def inputBytes: Long = 64L << 20
}

final class Runner(o: Main.Opts) {
  private val nproc = Runtime.getRuntime.availableProcessors()
  private val work = new File(o.work)
  private val rec = new Recorder
  private var spark: SparkSession = _

  private def confs: Seq[(String, String)] = Seq(
    // the engine confs graft.Bench runs with
    "spark.sql.shuffle.partitions" -> nproc.toString,
    "spark.sql.files.openCostInBytes" -> "131072",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "4096",
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    // every file the run writes stays inside the checkout
    "spark.local.dir" -> new File(work, "spark-local").getPath,
    "spark.sql.warehouse.dir" -> new File(work, "warehouse").getPath,
    "graft.scratch.dir" -> new File(work, "scratch").getPath)

  private def startSession(): SparkSession = {
    val b = SparkSession.builder().master(s"local[$nproc]").appName("perfbench")
    confs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.addSparkListener(rec)
    s
  }

  private def workload: Workload = o.workload match {
    case "seismic_survey" => new SurveyWorkload(o.seed, work)
    case "store_slices"   => new SliceWorkload(o.seed, work)
    case "operator_mix"   => new MixWorkload(o.seed, new File(o.root), work)
    case w => throw new IllegalArgumentException(
      s"unknown workload '$w' (seismic_survey, store_slices, operator_mix)")
  }

  private def freeDiskFloor: Long = 2L << 30

  /** Fewest timed ops in a run, and in each half of a traced run, so that
    * every median has three samples even when one op takes most of
    * `--seconds` (a seismic_survey cycle does). */
  private val minTimedOps = 3

  private def checkDisk(): Unit = {
    val free = work.getUsableSpace
    if (free < freeDiskFloor)
      throw new IllegalStateException(
        s"free disk ${free >> 20} MB under the ${freeDiskFloor >> 20} MB floor")
  }

  /** Runs ops until `seconds` have passed. Each op releases the library
    * scratch it registered; a failing op counts as failed and the loop goes
    * on. */
  private def loop(w: Workload, seconds: Double, minOps: Int,
                   spansFor: Int => Spans): Seq[OpResult] = {
    val out = mutable.ArrayBuffer.empty[OpResult]
    val t0 = System.nanoTime()
    while (out.size < minOps || (System.nanoTime() - t0) / 1e9 < seconds) {
      checkDisk()
      val snap = graft.core.TempDirs.snapshot()
      val i = out.size
      val spans = spansFor(i)
      spans.setOp(i)
      val sw = new Stopwatch
      out += (try w.op(spark, i, spans)
        catch {
          case e: Exception =>
            System.err.println(s"[perfbench] op $i failed: $e")
            OpResult(ok = false, Seq(sw.stop()))
        })
      graft.core.TempDirs.releaseSince(snap)
    }
    out.toSeq
  }

  /** CPU per op: the client thread's plus the executors' for the stages
    * that completed inside the op's timed stretches. Unlike latency, it does
    * not grow when the host lends the CPUs to other guests. */
  private def opCpuMs(ops: Seq[OpResult]): Seq[Double] = {
    PerfbenchBus.drain(spark.sparkContext)
    ops.map(_.parts.map(p => p.cpuMs + rec.cpuMsBetween(p.fromMs, p.toMs)).sum)
  }

  private def scratchLive(): Long =
    graft.core.TempDirs.liveBytes().getOrElse(
      throw new IllegalStateException("library scratch could not be measured"))

  private def oldGen =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.MemoryPoolMXBean])
      .find(p => p.getType == java.lang.management.MemoryType.HEAP &&
        (p.getName.contains("Old") || p.getName.contains("Tenured")))

  private val t00 = System.nanoTime()
  private def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t00) / 1e9}%.2f s: $what")

  def run(): Int = {
    work.mkdirs()
    val w = workload
    val tGen = System.nanoTime()
    w.generate()
    val genS = (System.nanoTime() - tGen) / 1e9
    val jvmStartS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    // set-up: session start, warm-up and the workload's preparation, several
    // times; setup_s is their median
    val nSetups = if (o.trace) 1 else 3
    val setups = (1 to nSetups).map { _ =>
      if (spark != null) spark.stop()
      val snap = graft.core.TempDirs.snapshot()
      val t0 = System.nanoTime()
      spark = startSession()
      w.warmup(spark)
      w.prepare(spark)
      val s = (System.nanoTime() - t0) / 1e9
      graft.core.TempDirs.releaseSince(snap)
      s
    }
    phase(s"set-up done: ${setups.map(x => f"$x%.2f").mkString(", ")} s")
    val (vAttempted, vFailed) = w.verify(spark)
    phase("checks done")
    // untimed ops for 3 s, at least one: their checks count, their latency
    // does not (after the set-ups the JIT is still compiling the op's code
    // paths, and the first store_slices ops read 15-30% slower than later ones)
    val warm = loop(w, 3.0, 1, _ => Spans.Off)
    w.reset()
    phase(s"${warm.size} warm-up ops done")

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val record = mutable.LinkedHashMap.empty[String, Any]
    var attempted = vAttempted + warm.size
    var failed = vFailed + warm.count(!_.ok)
    val cpu0 = Host.cpuTicks()
    var cpu1 = cpu0
    if (!o.trace) {
      oldGen.foreach(_.resetPeakUsage())
      val ops = loop(w, o.seconds, minTimedOps, _ => Spans.Off)
      cpu1 = Host.cpuTicks()
      val heapMb = oldGen.map(_.getPeakUsage.getUsed / 1e6).getOrElse(0.0)
      attempted += ops.size
      failed += ops.count(!_.ok)
      val lat = ops.map(_.ms).sorted
      metrics("setup_s") = (Stats.median(setups), "s")
      metrics("op_ms_p50") = (Stats.median(lat), "ms")
      metrics("op_cpu_ms_p50") = (Stats.median(opCpuMs(ops)), "ms")
      record ++= w.record(ops)
      record("op_count") = ops.size
      record("op_ms") = ops.map(o => math.rint(o.ms * 10) / 10)
      record("heap_peak_mb") = heapMb
    } else {
      // odd ops run with spans, even ops without, so JIT and host drift
      // fall on both alike; the ratio of their medians is the tracing
      // overhead
      PerfbenchBus.drain(spark.sparkContext)
      rec.clear()
      val tracer = new Tracer(spark.sparkContext)
      val ops = loop(w, o.seconds, 2 * minTimedOps, i => if (i % 2 == 1) tracer else Spans.Off)
      cpu1 = Host.cpuTicks()
      PerfbenchBus.drain(spark.sparkContext)
      val rep = new TraceReport(tracer.spans.toSeq, rec)
      val traced = ops.indices.filter(_ % 2 == 1).map(ops)
      val plain = ops.indices.filter(_ % 2 == 0).map(ops)
      val wallMs = traced.map(_.ms).sum
      attempted += ops.size
      failed += ops.count(!_.ok)
      val n = traced.size.toDouble
      val loopCounts = rep.counts(rep.jobsOf(tracer.spans.toSeq))
      val gap = tracer.spans.filter(_.parent < 0).map(rep.driverGapS).sum
      metrics("trace.overhead_ratio") =
        (Stats.median(traced.map(_.ms)) / Stats.median(plain.map(_.ms)), "ratio")
      metrics("loop.jobs_per_op") = (loopCounts.jobs / n, "count")
      metrics("loop.stages_per_op") = (loopCounts.stages / n, "count")
      metrics("loop.tasks_per_op") = (loopCounts.tasks / n, "count")
      metrics("loop.cpu_s_per_op") = (loopCounts.cpuS / n, "s")
      metrics("loop.driver_gap_share") = (gap * 1e3 / wallMs, "ratio")
      metrics("loop.shuffle_write_mb_per_op") = (loopCounts.shuffleWriteMb / n, "MB")
      metrics("loop.input_mb_per_op") = (loopCounts.inputMb / n, "MB")
      record("loop.spill_mb_per_op") = loopCounts.spillMb / n
      // a layer's figures are recorded only on the workloads that call it
      rep.selfByLayer.foreach { case (l, ms) => record(s"$l.self_share") = ms / wallMs }
      rep.countsByLayer.foreach { case (l, c) => record(s"$l.jobs_per_op") = c.jobs / n }
      Probes.ibmKernels(spark).foreach { case (k, v) => metrics(k) = (v, "ns") }
      val layers = w.layers(spark, rep, tracer.spans.toSeq,
        ops.indices.filter(_ % 2 == 1).toSet)
      record ++= layers
      val named = (record.keys ++ metrics.keys).toSeq
      record("moves") = Layers.moves.filter { case (k, _) => named.exists(_.startsWith(k)) }
      record("traced_ops") = traced.size
      record("untraced_ops") = plain.size
      val spansFile = new File(work, s"out/spans-${o.workload}-${o.seed}.jsonl")
      spansFile.getParentFile.mkdirs()
      java.nio.file.Files.writeString(spansFile.toPath,
        rep.spanRows.map(Out.json).mkString("", "\n", "\n"))
      record("spans_file") = spansFile.getPath
      println("[perfbench] per-layer self time, traced loop " +
        f"(${wallMs / 1e3}%.2f s, ${traced.size} ops):")
      rep.table(wallMs).foreach(l => println("[perfbench]   " + l))
    }
    // share of the loop's CPU time the hypervisor gave to other guests
    record("loop_steal_share") =
      (cpu1(7) - cpu0(7)).toDouble / math.max(1L, cpu1.sum - cpu0.sum)
    phase("loop done")
    val device = Probes.device(new File(work, "out"), w.inputBytes)
    if (o.trace) device.foreach { case (k, v) => metrics(k) = (v, "MB/s") }

    // every op released its scratch; anything still registered is a leak
    val live = scratchLive()
    spark.stop()
    phase("session stopped")
    if (live != 0L)
      throw new IllegalStateException(s"library scratch still holds $live bytes")

    record ++= Seq(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "seconds" -> o.seconds, "nproc" -> nproc, "commit" -> o.commit,
      "source" -> o.source, "confs" -> confs.toMap,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / 1e6,
      "loadavg" -> Host.loadAvg(), "mem_available_mb" -> Host.memAvailableMb(),
      "device" -> device, "jvm_start_s" -> jvmStartS, "input_gen_s" -> genS,
      "setup_samples_s" -> setups, "attempted" -> attempted, "failed" -> failed,
      "failed_ops_ratio" -> failed.toDouble / math.max(1, attempted))
    println("[perfbench] record " + Out.json(record))
    println(Out.json(Map("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) })))
    0
  }
}

/** JSON output, through the Jackson mapper Spark already ships. */
object Out {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def json(v: Any): String = mapper.writeValueAsString(v)
}

object Layers {
  /** Which record metric, and so which gated metric, each layer metric
    * should move, and on which workload. */
  val moves: Map[String, String] = Map(
    "sources." -> ("ingest_mb_s and survey_s (op_ms_p50) on seismic_survey; " +
      "setup_s on store_slices; nothing on operator_mix"),
    "functions.ibm_decode" -> "ingest_mb_s (op_ms_p50) on seismic_survey",
    "functions.ibm_encode" -> "export_mb_s (op_ms_p50) on seismic_survey",
    "ingestion." -> "ingest_mb_s (op_ms_p50) on seismic_survey; setup_s on store_slices",
    "storage.bytes_written_mb" -> "ingest_mb_s and store_bytes_ratio on seismic_survey",
    "storage.files_written" -> "ingest_mb_s and store_bytes_ratio on seismic_survey",
    "storage.open_ms" -> "slice_ms_p50 (op_ms_p50) on store_slices; survey_s on seismic_survey",
    "storage.rows_read" -> "slice_ms_p50 and slice_ms_p90 (op_ms_p50) on store_slices",
    "storage.mb_read" -> "slice_ms_p50 and slice_ms_p90 (op_ms_p50) on store_slices",
    "storage.self_share" -> ("slice_ms_p50 and slice_ms_p90 (op_ms_p50) on store_slices; " +
      "survey_s (op_ms_p50) on seismic_survey"),
    "storage.jobs_per_op" -> "slice_ms_p50 and slice_ms_p90 (op_ms_p50) on store_slices",
    "operators." -> "slice_ms_p50 and slice_ms_p90 (op_ms_p50) on store_slices; mix_s on operator_mix",
    "export." -> "export_mb_s (op_ms_p50) on seismic_survey",
    "mix." -> "mix_s (op_ms_p50, op_cpu_ms_p50) on operator_mix",
    "llm." -> "mix_s (op_ms_p50, op_cpu_ms_p50) on operator_mix",
    "loop." -> "op_ms_p50 and op_cpu_ms_p50 on the run's workload",
    "device." -> "nothing: ceilings for the MB/s figures")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }
}

object Host {
  def loadAvg(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** The aggregate `cpu` line of /proc/stat (user .. steal), in ticks. */
  def cpuTicks(): Array[Long] =
    try java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat"))
      .get(0).trim.split("\\s+").slice(1, 9).map(_.toLong)
    catch { case _: Exception => new Array[Long](8) }

  def memAvailableMb(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try src.getLines().find(_.startsWith("MemAvailable:"))
        .map(_.trim.split("\\s+")(1).toLong / 1024).getOrElse(-1L)
      finally src.close()
    } catch { case _: Exception => -1L }
}
