package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** `operator_mix`: a fixed list of registered queries over the sf0.1 fixture
  * tables kept in `perfbench/fixtures/sf0.1`, stratified across the
  * operators, functions and llm modules. One op is one pass over the list,
  * each query timed through `graft.Bench.fullCount`; the seed sets the query
  * order of every pass. */
final class MixWorkload(seed: Long, root: File, protected val work: File)
    extends Workload {
  private val sfDir = new File(root, "perfbench/fixtures/sf0.1").getPath
  private val rnd = new scala.util.Random(seed)
  private val expected: Map[String, (Long, String)] = MixWorkload.loadExpected(
    new File(root, "perfbench/expected/operator_mix.json"))
  private val recs = mutable.ArrayBuffer.empty[(String, Double)]

  /** Two of `graft.Bench`'s untimed warm-up queries that read the fixtures
    * and are not in the list: the aggregate and text paths. */
  override def warmup(spark: SparkSession): Unit =
    MixWorkload.warmupQueries.foreach { q =>
      val n = graft.Bench.fullCount(graft.SparkEntry.queries(q)(spark, sfDir))
      require(n > 0, s"warm-up query $q returned no rows")
    }

  override def inputBytes: Long =
    Option(new File(sfDir).listFiles()).toSeq.flatten.map(_.length()).sum

  /** Every query's full result, hashed, against the DuckDB-derived
    * expectation (untimed, once per run). */
  override def verify(spark: SparkSession): (Int, Int) = {
    val bad = MixWorkload.queries.count { case (q, _) =>
      val (rows, hash) = Canon.hash(graft.SparkEntry.queries(q)(spark, sfDir))
      val want = expected(q)
      val ok = rows == want._1 && hash == want._2
      if (!ok) System.err.println(s"[perfbench] operator_mix check: $q returned " +
        s"$rows rows (hash $hash), expected ${want._1} (${want._2})")
      !ok
    }
    (MixWorkload.queries.size, bad)
  }

  override def reset(): Unit = recs.clear()

  /** One pass over the list, in a seeded order; each query's row count is
    * checked. */
  def op(spark: SparkSession, i: Int, spans: Spans): OpResult = {
    val sw = new Stopwatch
    val bad = rnd.shuffle(MixWorkload.queries).count { case (q, module) =>
      val tq = System.nanoTime()
      val n = spans(module, q) {
        graft.Bench.fullCount(graft.SparkEntry.queries(q)(spark, sfDir))
      }
      recs += q -> (System.nanoTime() - tq) / 1e6
      if (n != expected(q)._1) System.err.println(
        s"[perfbench] operator_mix check: $q counted $n rows, expected ${expected(q)._1}")
      n != expected(q)._1
    }
    OpResult(bad == 0, Seq(sw.stop()))
  }

  def record(ops: Seq[OpResult]): Map[String, Any] =
    Map("samples" -> ops.size, "mix_s" -> Stats.median(ops.map(_.ms / 1e3)),
      "query_ms_p50" -> recs.groupBy(_._1).map { case (q, xs) =>
        q -> Stats.median(xs.map(_._2).toSeq) })

  override def layers(spark: SparkSession, rep: TraceReport, spans: Seq[Span],
                      tracedOps: Set[Int]): Map[String, Any] = {
    val passes = tracedOps.size.toDouble
    Seq("operators", "functions", "llm").flatMap { m =>
      val ss = spans.filter(_.layer == m)
      Seq(s"mix.$m.s" -> ss.map(_.ms / 1e3).sum / passes,
        s"mix.$m.jobs" -> rep.counts(rep.jobsOf(ss)).jobs / passes,
        s"mix.$m.driver_gap_s" -> ss.map(rep.driverGapS).sum / passes)
    }.toMap
  }
}

object MixWorkload {
  /** (query, module it exercises). Excludes the SEG-Y families (measured by
    * the other workloads) and the streaming queries (trigger-timed). Every
    * result is small, so hashing it for the check stays cheap. */
  val queries: Seq[(String, String)] = Seq(
    "q_select" -> "operators", "q_histogram" -> "operators",
    "q_trace_stack" -> "functions", "q_stats_hist" -> "functions",
    "q_simhash" -> "llm", "q_dedup_exact" -> "llm")

  val warmupQueries: Seq[String] = Seq("q_stats", "q_keywords")

  def loadExpected(f: File): Map[String, (Long, String)] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    queries.map { case (q, _) =>
      val e = node.get(q)
      require(e != null, s"no expectation for $q in $f")
      q -> (e.get("rows").asLong(), e.get("hash").asText())
    }.toMap
  }

  /** The oracle SQL of the listed queries, for `derive_expected.py`. */
  def dumpOracle(out: String): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val body = queries.map { case (q, m) => q -> Map("module" -> m, "sql" -> sql(q)) }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      Out.json(scala.collection.immutable.ListMap(body: _*)) + "\n")
  }
}
