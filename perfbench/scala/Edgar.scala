package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.ModelGraph
import graft.io.{Materializer, TsvReader}
import graft.quality.Checks

/** One generated quarter (`gen_edgar.py` output) and what a load of it must
  * produce.
  */
final class Quarter(val dir: String) {
  val expected: JsonNode = new ObjectMapper().readTree(Paths.get(dir, "expected.json").toFile)
  val tables: Seq[String] = Seq("sub", "tag", "num", "pre")

  def int(path: String*): Long = path.foldLeft(expected)(_.path(_)).asLong()

  /** Data lines in each TSV (the header excluded). */
  lazy val rowsRead: Map[String, Long] = tables.map { t =>
    val lines = Files.lines(Paths.get(dir, s"$t.txt"))
    try t -> (lines.count() - 1) finally lines.close()
  }.toMap

  lazy val inputBytes: Long = tables.map(t => Files.size(Paths.get(dir, s"$t.txt"))).sum

  def violations: Map[String, Long] =
    expected.path("violations").properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
}

/** The reference's batch job over one quarter: `COPY INTO` the four TSVs,
  * build staging → dims → facts and the document model, write the document
  * view to a noop sink, and run the quality suite. Each call into the engine
  * is one timed [[Op]] and, when tracing, one span.
  */
final class QuarterLoad(spark: SparkSession, tr: Tracer, q: Quarter, warehouse: String) {
  val landDir = s"$warehouse/raw"
  val modelDir = s"$warehouse/models"
  private val materializer = new Materializer(spark, modelDir, clusterPartitions = 4)

  var raw: Map[String, DataFrame] = Map.empty
  var models: Map[String, DataFrame] = Map.empty
  var report: Seq[Checks.CheckResult] = Nil

  /** The calls of a quarter load: the landing, each model's
    * materialization (one span each under `graph.run` when tracing), the
    * document write and the quality suite, each one timed [[Op]]. A step
    * that throws ends the load and counts itself and the steps after it as
    * one failed op each.
    */
  def run(): Seq[Op] = {
    val ops = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
    def op[T](kind: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val out = tr.span(kind)(body)
      ops.add(Op(kind, (System.nanoTime() - t0) / 1e6, ok = true))
      out
    }
    val steps: Seq[(String, () => Unit)] = Seq(
      "io.land" -> (() =>
        raw = op("io.land")(TsvReader.readAll(spark, q.dir, landTo = Some(landDir)))),
      "graph.run" -> (() => models = tr.span("graph.run")(ModelGraph.edgar(spark, rowCap = None)
        .run(raw, (m, df) => op(s"models.${m.name}")(materializer(m, df)))(spark))),
      "models.json_doc" -> (() => op("models.json_doc")(models("financial_statements_json")
        .write.format("noop").mode("overwrite").save())),
      "quality.report" -> (() => report = op("quality.report")(Checks.report(
        Checks.edgarSuite(raw("sub"), raw("tag"), raw("num"), raw("pre"))))))
    var broken = false
    steps.foreach { case (kind, step) =>
      if (broken) ops.add(Op(kind, 0, ok = false))
      else try step()
      catch {
        case e: Exception =>
          System.err.println(s"$kind failed: $e")
          ops.add(Op(kind, 0, ok = false))
          broken = true
      }
    }
    ops.asScala.toSeq
  }

  /** Compares the load's outputs with the generator's record; returns one
    * message per wrong output.
    */
  def verify(): Seq[String] = {
    val wrong = collection.mutable.ArrayBuffer.empty[String]
    def expect(what: String, got: Any, want: Any): Unit =
      if (got != want) wrong += s"$what: got $got, expected $want"
    q.tables.foreach { t =>
      val landed = raw(t).count()
      expect(s"rows read $t", q.rowsRead(t), q.int("rows_read", t))
      expect(s"rows landed $t", landed, q.int("rows_landed", t))
      expect(s"rows dropped $t", q.rowsRead(t) - landed, q.int("malformed", t))
    }
    val planted = q.violations
    report.foreach(r => expect(s"violations ${r.name}", r.violations, planted.getOrElse(r.name, 0L)))
    expect("quality checks", report.size, 36)
    Seq("fct_balanceSheet", "fct_IncomeStatement", "fct_Cashflows").foreach { f =>
      val row = spark.read.parquet(s"$modelDir/$f")
        .agg(count(lit(1)), sum(col("FCT_VALUE")).cast("decimal(38,2)").cast("string"))
        .head()
      expect(s"$f rows", row.getLong(0), q.int("facts", f, "rows"))
      expect(s"$f FCT_VALUE sum", row.getString(1),
        q.expected.path("facts").path(f).path("fct_value_sum").asText())
    }
    val docs = models("financial_statements_json")
      .agg(count(lit(1)), sum(size(col("financial_data")))).head()
    expect("json documents", docs.getLong(0), q.int("json_docs"))
    expect("json elements", docs.getLong(1), q.int("json_elements"))
    wrong.toSeq
  }

  /** Bytes of data files under a directory (checksums and markers excluded). */
  def bytesUnder(dir: String): Long = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter { p: Path =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
      }.map(p => Files.size(p)).sum
      finally s.close()
    }
  }

  /** Per-layer metrics of a traced load. */
  def layers(t: RoundTrace): Map[String, Double] = {
    val landed = q.tables.map(raw(_).count()).sum
    val read = q.rowsRead.values.sum
    val landBytes = bytesUnder(landDir).toDouble
    val matBytes = bytesUnder(modelDir).toDouble
    val facts = Seq("fct_balanceSheet", "fct_IncomeStatement", "fct_Cashflows")
    val factRows = facts.map(f => spark.read.parquet(s"$modelDir/$f").count()).sum
    val graph = t.named("graph.run")
    val modelSpans = t.spans.filter(s => s.name.startsWith("models.") && s.name != "models.json_doc")
    Map(
      "io.land_s" -> t.totalSec("io.land"),
      "io.rows_read" -> read.toDouble,
      "io.rows_landed" -> landed.toDouble,
      "io.rows_dropped" -> (read - landed).toDouble,
      "io.land_bytes_written" -> landBytes,
      "io.materialize_bytes_written" -> matBytes,
      "io.storage_bytes_per_input_byte" -> (landBytes + matBytes) / q.inputBytes,
      "graph.run_s" -> t.totalSec("graph.run"),
      "graph.self_s" -> graph.map(t.selfNs).sum / 1e9,
      "graph.overlap_ratio" -> modelSpans.map(_.durNs).sum.toDouble / graph.map(_.durNs).sum,
      "models.stg_num_s" -> t.totalSec("models.stg_num"),
      "models.fct_balanceSheet_s" -> t.totalSec("models.fct_balanceSheet"),
      "models.fct_IncomeStatement_s" -> t.totalSec("models.fct_IncomeStatement"),
      "models.fct_Cashflows_s" -> t.totalSec("models.fct_Cashflows"),
      "models.json_doc_s" -> t.totalSec("models.json_doc"),
      "models.fct_rows_out" -> factRows.toDouble,
      "models.fct_rows_per_source_row" -> factRows.toDouble / raw("num").count(),
      "quality.report_s" -> t.totalSec("quality.report"),
      "quality.checks" -> report.size.toDouble,
      "quality.violations" -> report.map(_.violations).sum.toDouble)
  }
}

/** `edgar_quarter`: the quarter load in a fresh JVM, as the nightly job
  * runs it. Set-up opens the quarter's files (lazy reads, no job); the first
  * measured load is the cold one.
  */
final class EdgarWorkload(tr: Tracer, a: Args) extends Workload {
  private val quarter = new Quarter(a.data)
  private var load: QuarterLoad = _
  private var lastOk = false

  def setup(spark: SparkSession): Unit = {
    load = new QuarterLoad(spark, tr, quarter, s"${a.work}/warehouse")
    TsvReader.readAll(spark, quarter.dir).foreach { case (_, df) => df.schema }
  }

  def round(): Seq[Op] = {
    val ops = load.run()
    lastOk = ops.forall(_.ok)
    ops
  }

  /** A load's unit of latency is one fact-table build, as dbt reports it:
    * the three facts are one builder with a different statement type, and
    * are built concurrently in the graph's last wave.
    */
  override def latencyOps(ops: Seq[Op]): Seq[Op] =
    ops.filter(_.kind.startsWith("models.fct_"))

  override def checkRound(): Int =
    if (!lastOk) 0
    else {
      val msgs = load.verify()
      msgs.foreach(m => System.err.println(s"wrong output: $m"))
      msgs.size
    }

  def layers(t: RoundTrace): Map[String, Double] = load.layers(t)
}
