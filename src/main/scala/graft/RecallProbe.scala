package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Measured ANN recall vs the exact baseline, per tier, at any scale —
  * the r15 verdict's task #1 evidence tool: the recall/agreement gates'
  * floors are geometry-DERIVED (`min(cap, nProbe/cells)`, see
  * [[Similarity.autoNProbe]]), and this main records the geometry's
  * MEASURED slack at each corpus size so "the N^(-1/6) probed-fraction
  * claim survives at 10×" is a number in COVERAGE.md, not an
  * extrapolation. A diagnostic, not a gate — the gates themselves are
  * `annRecallInvariants` / `pqInvariants` / `ivfLifecycleInvariants` /
  * `bitextIvfInvariants`.
  *
  * Usage: `runMain graft.RecallProbe <sfDir> [tiers]` — prints one JSON
  * line: the auto-sized geometry, per-tier recall@10 against
  * [[Similarity.bruteForceTopK]] (the DuckDB-verified exact baseline at
  * battery scales) over the standard every-100th query panel, the
  * derived floors the battery gates use, and — for tier `bitext` — the
  * argmax agreement of the IVF margin miner with the exact one and that
  * gate's floor. The brute arm is O(Q·N); with the panel fixed by the
  * `% 100` rule, Q = N/100 keeps the probe linear-ish up to sf1 (4M scored
  * pairs).
  */
object RecallProbe {

  def recallOf(brute: org.apache.spark.sql.DataFrame,
               approx: org.apache.spark.sql.DataFrame): Double = {
    val b = brute.select(col("q_id"), col("neighbor_id"))
    val hits = approx.select(col("q_id"), col("neighbor_id"))
      .join(b, Seq("q_id", "neighbor_id"), "left_semi").count()
    hits.toDouble / math.max(1L, b.count())
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val wanted = if (args.length > 1) args(1).split(",").map(_.trim).toSet
                 else Set("ivf", "ivf_quantized", "pq", "pq256", "ivfpq", "lsh",
                   "quantized", "bitext")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-recall-probe")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val e = Tables(spark, sfDir, "embeddings")
    val n = e.count()
    val k = 10
    val cells = Similarity.autoCells(n)
    val fraction = Similarity.autoNProbe(cells).toDouble / cells
    val brute = Similarity.bruteForceTopK(e, k,
      dim = Some(Tables.EmbeddingDim))
      .select(col("q_id"), col("neighbor_id")).localCheckpoint()
    // SPARK_GRAFT_RERANK overrides the quantized tiers' rerankFactor — the
    // knob the recall-vs-R calibration sweeps
    val rr = sys.env.get("SPARK_GRAFT_RERANK").map(_.toInt)
    val tiers: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "ivf" -> (() => Similarity.ivfTopKKMeans(e, k, iters = 3)),
      "ivf_quantized" -> (() => Similarity.ivfQuantizedTopK(e, k, iters = 3,
        rerankFactor = rr.getOrElse(4))),
      "pq" -> (() => Similarity.pqTopK(e, k,
        rerankFactor = rr.getOrElse(8))),
      "pq256" -> (() => Similarity.pqTopK(e, k, m = 8, ks = 256,
        rerankFactor = rr.getOrElse(8))),
      "ivfpq" -> (() => Similarity.ivfPqTopK(e, k,
        rerankFactor = rr.getOrElse(8))),
      "lsh" -> (() => Similarity.lshTopK(e, k)),
      "quantized" -> (() => Similarity.quantizedTopK(e, k,
        rerankFactor = rr.getOrElse(4))))
    val rec = tiers.filter(t => wanted(t._1)).map { case (name, f) =>
      name -> recallOf(brute, f())
    }
    val js = rec.map { case (nm, r) => f""""$nm":$r%.4f""" }.mkString(",")
    // the caps are the battery gates' fixed-geometry floors
    val floors = Seq("ivf" -> 0.5, "ivf_quantized" -> 0.9, "ivfpq" -> 0.7)
      .map { case (nm, cap) => f""""$nm":${math.min(cap, fraction)}%.4f""" }
      .mkString(",")
    val bitext = if (!wanted("bitext")) "" else {
      def argmax(d: org.apache.spark.sql.DataFrame): Map[Long, Long] =
        d.select(col("q_id"), col("tgt_id")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val exact = argmax(Similarity.marginBitextPairs(e, k = 4,
        Some(Tables.EmbeddingDim)))
      val approx = argmax(Similarity.marginBitextPairsIvf(e, k = 4))
      val agree = exact.count { case (q, t) => approx.get(q).contains(t) }
        .toDouble / math.max(exact.size, 1)
      val bCells = Similarity.autoCells(e.filter(col("vec_id") % 2 === 1).count())
      val bProbe = Similarity.autoNProbe(bCells)
      f""","bitext":{"cells":$bCells,"nProbe":$bProbe,"agreement":$agree%.4f,""" +
        f""""floor":${math.min(0.85, bProbe.toDouble / bCells)}%.4f}"""
    }
    println(s"""{"sf":"$sfDir","n":$n,"k":$k,"cells":$cells,""" +
      f""""fraction":$fraction%.4f,"recall":{$js},"floors":{$floors}$bitext}""")
    spark.stop()
  }
}
