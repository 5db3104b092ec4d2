package perfbench

import java.io.{File, RandomAccessFile}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Mdio
import graft.ingestion.GridOverrides
import graft.schema.TemplateRegistry
import graft.sources.SegyRead.StandardFields

/** The library calls of the write path, shared by the `seismic_survey`
  * workload, the `store_slices` preparation and the warm-up. */
object SurveyPath {
  def read(spark: SparkSession, file: File): DataFrame =
    spark.read.format("segy").option("fields", "inline,crossline").load(file.getPath)

  def ingest(spark: SparkSession, file: File, store: File) =
    Mdio.segyToMdio(spark, read(spark, file),
      TemplateRegistry.instance.get("PostStack3DTime"), GridOverrides(),
      store.getPath, ordinal = Seq("inline", "crossline"), valueCol = "samples")

  /** Masked export of inlines [ilLo, ilHi] in (inline, crossline) order. */
  def exportBox(h: graft.storage.MdioDatasetHandle, out: File, s: Survey,
             ilLo: Int, ilHi: Int): Unit =
    Mdio.mdioToStandardSegy(h, out.getPath,
      mask = col("inline").between(ilLo, ilHi),
      dims = Seq("inline", "crossline"),
      fieldCols = Seq(StandardFields.Inline -> "inline",
        StandardFields.Crossline -> "crossline"),
      orderKeys = Seq("inline", "crossline"), samplesCol = "samples",
      nSamples = s.ns, sampleInterval = s.sampleIntervalUs,
      textHeader = graft.`export`.SegyHeaders.sanitizeTextHeader(
        Seq("C 1 PERFBENCH EXPORT")))

  def dirBytes(f: File): (Long, Int) =
    if (f.isFile) (f.length(), 1)
    else Option(f.listFiles()).toSeq.flatten.map(dirBytes)
      .foldLeft((0L, 0)) { case ((a, b), (c, d)) => (a + c, b + d) }

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete(): Unit
  }
}

/** Per-cycle measurements of one scan → ingest → open → export. */
final case class Cycle(ingestS: Double, exportS: Double, timed: Timed,
                       storeBytes: Long, storeFiles: Int, exportBytes: Long,
                       ok: Boolean)

/** `seismic_survey`: the write path end to end over a seeded survey. */
final class SurveyWorkload(seed: Long, protected val work: File)
    extends Workload {
  val survey = new Survey(seed, nIl = SurveyWorkload.nIl, nXl = SurveyWorkload.nXl,
    ns = SurveyWorkload.ns)
  private val file = new File(work, s"in/survey-$seed.sgy")
  private val cycles = mutable.ArrayBuffer.empty[Cycle]
  // the export box: half of the inlines, at a seeded offset
  private val ilLo = survey.il0 + (Survey.mix(seed) & 0xffff).toInt % (survey.nIl / 2)
  private val ilHi = ilLo + survey.nIl / 2 - 1

  override def inputBytes: Long = survey.fileBytes

  override def generate(): Unit = {
    file.getParentFile.mkdirs()
    survey.write(file)
  }

  override def reset(): Unit = cycles.clear()

  def op(spark: SparkSession, i: Int, spans: Spans): OpResult = {
    val c = SurveyWorkload.cycle(spark, survey, file, work, i, ilLo, ilHi, spans)
    cycles += c
    OpResult(c.ok, Seq(c.timed))
  }

  def record(ops: Seq[OpResult]): Map[String, Any] = {
    val cs = cycles.toSeq
    val mb = survey.fileBytes / 1e6
    Map(
      "survey" -> Map("inlines" -> survey.nIl, "crosslines" -> survey.nXl,
        "samples" -> survey.ns, "live_traces" -> survey.nLive,
        "segy_mb" -> mb, "format" -> "IBM32"),
      "samples" -> cs.size,
      "ingest_mb_s" -> Stats.median(cs.map(c => mb / c.ingestS)),
      "export_mb_s" -> Stats.median(cs.map(c => c.exportBytes / 1e6 / c.exportS)),
      "survey_s" -> Stats.median(cs.map(_.timed.ms / 1e3)),
      "store_bytes_ratio" -> Stats.median(cs.map(_.storeBytes.toDouble / survey.fileBytes)))
  }

  override def layers(spark: SparkSession, rep: TraceReport, spans: Seq[Span],
                      tracedOps: Set[Int]): Map[String, Any] = {
    val mb = survey.fileBytes / 1e6
    // full read + decode of the survey, outside the loop
    val decodeS = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      graft.Bench.fullCount(SurveyPath.read(spark, file))
      (System.nanoTime() - t0) / 1e9
    })
    val tasks = SurveyPath.read(spark, file).rdd.getNumPartitions
    val storeMb = Stats.median(cycles.toSeq.map(_.storeBytes / 1e6))
    SurveyWorkload.layerMetrics(rep, spans, mb, storeMb, decodeS) ++ Map(
      "sources.decode_s" -> decodeS,
      "sources.read_mb_s" -> mb / decodeS,
      "sources.tasks" -> tasks,
      "sources.tasks_per_core" -> tasks.toDouble / Runtime.getRuntime.availableProcessors(),
      "storage.bytes_written_mb" -> storeMb,
      "storage.files_written" -> Stats.median(cycles.toSeq.map(_.storeFiles.toDouble)))
  }
}

object SurveyWorkload {
  // 32 x 32 cells, 10% dead, 1000 IBM32 samples: ~3.9 MB of SEG-Y
  val nIl = 32
  val nXl = 32
  val ns = 1000

  def cycle(spark: SparkSession, s: Survey, file: File, work: File, i: Int,
            ilLo: Int, ilHi: Int, spans: Spans): Cycle = {
    val store = new File(work, s"out/survey-store-$i")
    val out = new File(work, s"out/survey-export-$i.sgy")
    out.getParentFile.mkdirs()
    try {
      val sw = new Stopwatch
      val scanned = spans("sources", "scan") {
        graft.Bench.fullCount(SurveyPath.read(spark, file).select("inline", "crossline"))
      }
      val t1 = System.nanoTime()
      val r = spans("ingestion", "segyToMdio") { SurveyPath.ingest(spark, file, store) }
      val t2 = System.nanoTime()
      val h = spans("storage", "open") { Mdio.openMdio(spark, store.getPath) }
      val t3 = System.nanoTime()
      spans("export", "mdioToStandardSegy") { SurveyPath.exportBox(h, out, s, ilLo, ilHi) }
      val t4 = System.nanoTime()
      val timed = sw.stop()
      val (storeBytes, storeFiles) = SurveyPath.dirBytes(store)
      val ok = check(s, file, out, scanned, r, h, ilLo, ilHi)
      Cycle((t2 - t1) / 1e9, (t4 - t3) / 1e9, timed, storeBytes,
        storeFiles, out.length(), ok)
    } finally {
      SurveyPath.delete(store)
      out.delete()
    }
  }

  /** Trace and live-cell counts, sidecar statistics against the closed
    * form, and sampled exported traces byte-equal to the input's. */
  def check(s: Survey, file: File, out: File, scanned: Long,
            r: graft.ingestion.IngestPipeline.IngestResult,
            h: graft.storage.MdioDatasetHandle, ilLo: Int, ilHi: Int): Boolean = {
    val errs = mutable.ArrayBuffer.empty[String]
    if (scanned != s.nLive) errs += s"scan counted $scanned traces, expected ${s.nLive}"
    if (r.nTraces != s.nLive) errs += s"ingest saw ${r.nTraces} traces, expected ${s.nLive}"
    if (r.nCells != s.nLive) errs += s"ingest saw ${r.nCells} live cells, expected ${s.nLive}"
    val side = h.schema.variables.head.metadata.flatMap(_.statsV1)
    val want = s.stats
    side match {
      case None => errs += "sidecar carries no statistics"
      case Some(st) =>
        if (st.count != want.count || st.sum != want.sum ||
            st.sumSquares != want.sumSquares || st.min != want.min || st.max != want.max)
          errs += s"sidecar stats $st differ from the closed form $want"
    }
    val boxCells = s.liveCells.filter { c =>
      val il = (c >>> 32).toInt; il >= ilLo && il <= ilHi
    }
    val nOut = (out.length() - 3600) / s.traceBytes
    if (out.length() != 3600 + boxCells.length.toLong * s.traceBytes)
      errs += s"export holds $nOut traces (${out.length()} bytes), expected ${boxCells.length}"
    else {
      val ex = new RandomAccessFile(out, "r")
      val in = new RandomAccessFile(file, "r")
      try {
        var t = 0
        while (t < boxCells.length && errs.size < 5) {
          val il = (boxCells(t) >>> 32).toInt; val xl = boxCells(t).toInt
          val (gil, gxl, got) = s.readTrace(ex, t)
          val (_, _, orig) = s.readTrace(in, s.traceIndex((il, xl)))
          if (gil != il || gxl != xl) errs += s"export trace $t is ($gil, $gxl), expected ($il, $xl)"
          else if (!java.util.Arrays.equals(got, orig))
            errs += s"export payload at ($il, $xl) differs from the input trace"
          t += 61
        }
      } finally { ex.close(); in.close() }
    }
    errs.foreach(e => System.err.println(s"[perfbench] seismic_survey check: $e"))
    errs.isEmpty
  }

  /** The named layer metrics of the write path, from the traced loop. */
  def layerMetrics(rep: TraceReport, spans: Seq[Span], segyMb: Double,
                   storeMb: Double, decodeS: Double): Map[String, Any] = {
    def named(layer: String) = spans.filter(_.layer == layer)
    def med(xs: Seq[Double]) = Stats.median(xs)
    val scans = named("sources"); val ingests = named("ingestion")
    val opens = named("storage"); val exports = named("export")
    def block(prefix: String, ss: Seq[Span], readBase: Double): Map[String, Any] = {
      val cs = ss.map(rep.countsUnder)
      Map(s"$prefix.jobs" -> med(cs.map(_.jobs.toDouble)),
        s"$prefix.stages" -> med(cs.map(_.stages.toDouble)),
        s"$prefix.driver_gap_s" -> med(ss.map(rep.driverGapS)),
        s"$prefix.cpu_s" -> med(cs.map(_.cpuS)),
        s"$prefix.shuffle_write_mb" -> med(cs.map(_.shuffleWriteMb)),
        s"$prefix.spill_mb" -> med(cs.map(_.spillMb)),
        s"$prefix.input_read_ratio" -> med(cs.map(_.inputMb / readBase)))
    }
    Map("sources.scan_s" -> med(scans.map(_.ms / 1e3)),
      "ingestion.self_s" -> med(ingests.map(_.ms / 1e3 - decodeS)),
      "storage.open_ms" -> med(opens.map(_.ms))) ++
      block("ingestion", ingests, segyMb) ++
      block("export", exports, storeMb)
  }
}

/** Untimed-loop warm-up shared by every workload's set-up: one tiny survey
  * through scan, ingest, open and export, so class loading and code
  * generation of the write path happen before any timed op. */
object Warmup {
  def run(spark: SparkSession, work: File): Unit = {
    val s = new Survey(seed = 0, nIl = 8, nXl = 8, ns = 50)
    val f = new File(work, "in/warmup.sgy")
    f.getParentFile.mkdirs()
    if (!f.exists()) s.write(f)
    val c = SurveyWorkload.cycle(spark, s, f, work, -1, s.il0, s.il0 + 3, Spans.Off)
    require(c.ok, "warm-up survey failed its checks")
  }
}
