package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Mdio
import graft.operators.Selection

/** `store_slices`: the read path. The store is ingested during set-up; the
  * timed loop runs labeled and positional slices at seeded positions, each
  * materialised on the driver and checksummed against the closed form. */
final class SliceWorkload(seed: Long, protected val work: File)
    extends Workload {
  val survey = new Survey(seed, nIl = SurveyWorkload.nIl, nXl = SurveyWorkload.nXl,
    ns = SurveyWorkload.ns)
  private val file = new File(work, s"in/survey-$seed.sgy")
  private val store = new File(work, "out/slices-store")
  private var handle: graft.storage.MdioDatasetHandle = _
  private val rnd = new scala.util.Random(seed)

  private val recs = mutable.ArrayBuffer.empty[SliceWorkload.SliceRec]

  override def inputBytes: Long = survey.fileBytes

  override def generate(): Unit = {
    file.getParentFile.mkdirs()
    survey.write(file)
  }

  /** The store ingest below already runs the write path. */
  override def warmup(spark: SparkSession): Unit = ()

  override def prepare(spark: SparkSession): Unit = {
    SurveyPath.delete(store)
    val r = SurveyPath.ingest(spark, file, store)
    require(r.nTraces == survey.nLive,
      s"store ingest saw ${r.nTraces} traces, expected ${survey.nLive}")
    handle = Mdio.openMdio(spark, store.getPath)
  }

  private val box = 16
  private val window = 100

  override def reset(): Unit = recs.clear()

  /** One op is one slice of each kind, in a seeded order. */
  def op(spark: SparkSession, i: Int, spans: Spans): OpResult = {
    val res = rnd.shuffle(SliceWorkload.kinds).map(runSlice(i, _, spans))
    OpResult(res.forall(_._1), res.map(_._2))
  }

  /** One slice: planned (operators), read and materialised (storage), and
    * checksummed; the timed stretch ends before the closed-form check. */
  private def runSlice(i: Int, kind: String, spans: Spans): (Boolean, Timed) = {
    val s = survey
    val il = s.il0 + rnd.nextInt(s.nIl - box)
    val xl = s.xl0 + rnd.nextInt(s.nXl - box)
    val j0 = rnd.nextInt(s.ns - window)
    val boxSel = Seq("inline" -> Selection.Range(il, il + box - 1),
      "crossline" -> Selection.Range(xl, xl + box - 1))
    val samples: Column = col("samples")
    val (cells, build, sj0, sn): (Seq[(Int, Int)], () => DataFrame, Int, Int) = kind match {
      case "inline" =>
        ((s.xl0 until s.xl0 + s.nXl).map(x => (il, x)),
          () => handle.sel("inline" -> Selection.Point(il)), 0, s.ns)
      case "crossline" =>
        ((s.il0 until s.il0 + s.nIl).map(x => (x, xl)),
          () => handle.sel("crossline" -> Selection.Point(xl)), 0, s.ns)
      case "box" =>
        (for (a <- il until il + box; b <- xl until xl + box) yield (a, b),
          () => handle.sel(boxSel: _*), 0, s.ns)
      case "isel" =>
        // position il - il0 along the store's sorted inline coordinate
        ((s.xl0 until s.xl0 + s.nXl).map(x => (il, x)),
          () => handle.isel("inline" -> Selection.IPoint((il - s.il0).toLong)), 0, s.ns)
      case "time_window" =>
        (for (a <- il until il + box; b <- xl until xl + box) yield (a, b),
          () => handle.sel(boxSel: _*), j0, window)
    }
    val sampleCol = if (sn == s.ns) samples else slice(samples, sj0 + 1, sn)
    val sw = new Stopwatch
    val df = spans("operators", s"plan_$kind") {
      val d = build().select(col("inline"), col("crossline"), sampleCol.as("s"))
      d.queryExecution.executedPlan
      d
    }
    val planMs = sw.elapsedMs
    val rows = spans("storage", s"read_$kind") { df.collect() }
    var sum = 0L
    rows.foreach(r => sum += Survey.traceChecksum(r.getLong(0), r.getLong(1),
      r.getSeq[Float](2)))
    val timed = sw.stop()
    val (wantRows, wantSum) = s.expectedChecksum(cells, sj0, sn)
    val ok = rows.length == wantRows && sum == wantSum
    if (!ok) System.err.println(s"[perfbench] store_slices check: $kind op $i " +
      s"returned ${rows.length} rows (checksum $sum), expected $wantRows ($wantSum)")
    recs += SliceWorkload.SliceRec(i, kind, planMs, timed.ms, rows.length)
    (ok, timed)
  }

  def record(ops: Seq[OpResult]): Map[String, Any] = {
    val ms = recs.toSeq.map(_.ms)
    Map("samples" -> ms.size,
      "slice_ms_p50" -> Stats.median(ms),
      "slice_ms_p90" -> Stats.pct(ms, 0.9),
      "slice_ms_p90_samples_beyond" -> ms.count(_ > Stats.pct(ms, 0.9)),
      "store_bytes_ratio" -> SurveyPath.dirBytes(store)._1.toDouble / survey.fileBytes)
  }

  override def layers(spark: SparkSession, rep: TraceReport, spans: Seq[Span],
                      tracedOps: Set[Int]): Map[String, Any] = {
    val traced = recs.toSeq.filter(r => tracedOps(r.op))
    val opens = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      Mdio.openMdio(spark, store.getPath)
      (System.nanoTime() - t0) / 1e6
    }
    val perKind = SliceWorkload.kinds.flatMap { k =>
      val mine = traced.filter(_.kind == k)
      val reads = spans.filter(_.name == s"read_$k").map(rep.countsUnder)
      val rowsRead = reads.map(_.inputRecords).sum.toDouble
      val rowsOut = mine.map(_.rows).sum.toDouble
      Seq(s"operators.slice_${k}_ms_p50" -> Stats.median(mine.map(_.ms)),
        s"storage.rows_read_per_row_returned.$k" -> rowsRead / math.max(1.0, rowsOut),
        s"storage.mb_read_per_slice.$k" -> reads.map(_.inputMb).sum / math.max(1, reads.size))
    }
    Map("storage.open_ms" -> Stats.median(opens),
      "operators.plan_ms" -> Stats.median(traced.map(_.planMs))) ++ perKind
  }
}

object SliceWorkload {
  /** Per-slice record: op, kind, plan time, total latency, rows returned. */
  final case class SliceRec(op: Int, kind: String, planMs: Double, ms: Double,
                            rows: Long)

  val kinds: Seq[String] = Seq("inline", "crossline", "box", "isel", "time_window")
}
