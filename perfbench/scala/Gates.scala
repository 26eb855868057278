package perfbench

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry

/** `operator_gates`: a fixed slice of the operator battery, each entry run
  * through `SparkEntry.queries(name)` on the battery's own fixed tables
  * (`data/sf0.001`, so the inputs do not depend on the seed). A round is
  * one pass over the slice; set-up only opens the tables, so the first pass
  * is the cold one, as in a fresh battery JVM.
  *
  * Each entry's rows are collected (gate outputs are a few rows of
  * counters or pairs) and, after the round, their order-free hash is
  * compared with `gates_expected.json`. With `-Dperfbench.record=true` the
  * hashes are recorded there instead.
  */
final class Gates(tr: Tracer, a: Args) extends Workload {
  import Gates._

  private val expectedFile = Paths.get(a.data).getParent.resolveSibling("gates_expected.json")
  private val record = sys.props.get("perfbench.record").contains("true")
  private val expected: Map[String, String] =
    if (record || !Files.exists(expectedFile)) Map.empty
    else new ObjectMapper().readTree(expectedFile.toFile).properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap
  private var spark: SparkSession = _
  private var outputs = Seq.empty[(String, Array[Row])]
  private val recorded = collection.mutable.LinkedHashMap.empty[String, String]

  def setup(session: SparkSession): Unit = {
    spark = session
    Tables.foreach(t => graft.Tables(spark, a.data, t).schema)
  }

  def round(): Seq[Op] = {
    val results = Slice.map { e =>
      val t0 = System.nanoTime()
      val rows = try Some(tr.span(s"operators.$e")(SparkEntry.queries(e)(spark, a.data).collect()))
      catch { case ex: Exception => System.err.println(s"$e failed: $ex"); None }
      (Op(e, (System.nanoTime() - t0) / 1e6, rows.isDefined), rows.map(e -> _))
    }
    outputs = results.flatMap(_._2)
    results.map(_._1)
  }

  override def checkRound(): Int = outputs.count { case (e, rows) =>
    val h = outputHash(rows)
    if (record) recorded.get(e) match {
      case Some(first) if first != h =>
        System.err.println(s"$e is not deterministic: $first then $h"); true
      case _ => recorded(e) = h; false
    }
    else if (expected.get(e).contains(h)) false
    else {
      System.err.println(s"wrong output: $e hash $h, expected ${expected.getOrElse(e, "none")}")
      true
    }
  }

  override def checkEnd(): Int = {
    if (record) Files.write(expectedFile,
      recorded.map { case (e, h) => s"""  "$e": "$h"""" }
        .mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8"))
    0
  }

  def layers(t: RoundTrace): Map[String, Double] =
    Slice.map(e => s"operators.${e}_s" -> t.totalSec(s"operators.$e")).toMap
}

object Gates {
  /** Overhead-bound gate entries: many small jobs, concurrent gate arms. */
  val Slice: Seq[String] = Seq("mine_bitext_pairs", "dedup_clusters_lsh_check", "edgar_fact_composed")
  /** The battery tables the slice reads. */
  val Tables: Seq[String] = Seq("embeddings", "documents", "orders", "customer", "lineitem")

  /** Order-free SHA-256 of an entry's output rows. */
  def outputHash(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    ServeWorkload.canonical(rows).foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }
}
