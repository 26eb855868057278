package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One timed call into the engine and whether it completed. */
final case class Op(kind: String, ms: Double, ok: Boolean)

/** One round of a workload: its wall time, its calls, and (traced rounds
  * only) what the tracer and listener recorded.
  */
final case class RoundOut(traced: Boolean, wallNs: Long, ops: Seq[Op],
                          trace: Option[RoundTrace])

trait Workload {
  /** One set-up pass on a fresh session; the benchmark times a cold one
    * and [[Main.WarmSetups]] more, and keeps the state of the last.
    */
  def setup(spark: SparkSession): Unit
  /** Untimed work after the last set-up, before the first round. */
  def warmUp(): Unit = ()
  /** One round of the workload's fixed unit of work. */
  def round(): Seq[Op]
  /** The operations whose median latency is `op_p50_ms`. */
  def latencyOps(ops: Seq[Op]): Seq[Op] = ops
  /** Output checks after a round (untimed): the number of wrong outputs. */
  def checkRound(): Int = 0
  /** Output checks after the last round (untimed). */
  def checkEnd(): Int = 0
  /** Per-layer metrics of one traced round. */
  def layers(t: RoundTrace): Map[String, Double]
  /** Per-layer metrics taken from the untraced rounds of a traced run
    * (from its traced rounds when it ran no other).
    */
  def untracedLayers(rounds: Seq[RoundOut]): Map[String, Double] = Map.empty
}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      data: String, work: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("data"), need("work"))
  }
}

/** Runs one workload: set-up, a measured window of rounds, output checks,
  * and one JSON result line on stdout.
  *
  * Set-up runs once cold (the JVM's first session) and then
  * [[WarmSetups]] times more, each on a new SparkSession (the previous one
  * stopped): `setup_s` is the median of the warm set-ups, the cold one is
  * the per-layer `setup.cold_s`. The window runs rounds until `--seconds`
  * of round time is spent, at least one round.
  *
  * `peak_mem_mb` is sampled by a [[MemoryWatch]] after set-up and after
  * the first round, outside the timed sections: the same work in every run,
  * whereas the number of later rounds follows the machine's speed (and
  * Spark's retained query state grows with the requests served).
  *
  * Untraced runs (`--trace 0`) print the end-to-end metrics. Traced runs
  * trace the first round and then every other one: traced rounds give the
  * per-layer metrics; when untraced rounds ran too, the ratio of the two
  * kinds' median round times is the tracing overhead (otherwise `run.py`
  * compares with earlier untraced runs of the same workload).
  */
object Main {
  val WarmSetups = 5
  /** Local cores the engine gets, whatever the machine has. */
  val Cores = 4

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(a: Args, tr: Tracer): Workload = a.workload match {
    case "edgar_quarter" => new EdgarWorkload(tr, a)
    case "serve_browse"  => new ServeWorkload(tr, a)
    case "operator_gates" => new Gates(tr, a)
    case other => sys.error(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val memory = new MemoryWatch
    val tracer = new Tracer(s"${a.workload}-seed${a.seed}-${System.currentTimeMillis()}")
    val w = workload(a, tracer)
    var spark: SparkSession = null
    val setupS = (0 to WarmSetups).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(a)
      w.setup(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext
    try {
      w.warmUp()
      memory.sample()
      val listener = if (a.trace) {
        val l = new SpanListener
        sc.addSparkListener(l)
        Some(l)
      } else None
      def settle(): Option[Map[Long, Counts]] = listener.map { l =>
        SpanListener.quiesce(sc)
        l.drain()
      }

      val rounds = ArrayBuffer.empty[RoundOut]
      var measuredNs = 0L
      var wrong = 0
      while (measuredNs < a.seconds * 1000000000L || rounds.isEmpty) {
        val traced = a.trace && rounds.size % 2 == 0
        settle()
        tracer.drain()
        tracer.enabled = traced
        val t0 = System.nanoTime()
        val ops = w.round()
        val wall = System.nanoTime() - t0
        tracer.enabled = false
        measuredNs += wall
        val counts = settle()
        val spans = tracer.drain()
        if (rounds.isEmpty) memory.sample()
        rounds += RoundOut(traced, wall, ops,
          if (traced) counts.map(RoundTrace(spans, _)) else None)
        wrong += w.checkRound()
      }
      wrong += w.checkEnd()

      val ops = rounds.flatMap(_.ops)
      val attempted = math.max(1, ops.size)
      val failed = ops.count(!_.ok) + wrong
      val untraced = rounds.filter(!_.traced).toSeq
      val metrics: Seq[(String, Double, String)] =
        if (!a.trace) {
          val okMs = w.latencyOps(ops.toSeq).filter(_.ok).map(_.ms)
          Seq(
            ("setup_s", Stats.median(setupS.tail), "s"),
            ("round_s", Stats.median(untraced.map(_.wallNs / 1e9)), "s"),
            ("op_p50_ms", if (okMs.isEmpty) 0.0 else Stats.median(okMs.toSeq), "ms"),
            ("peak_mem_mb", memory.peakMb, "MB"))
        } else {
          val traces = rounds.flatMap(_.trace).toSeq
          val perRound = traces.map(t => w.layers(t) ++ Metrics.sparkCounters(t))
          val names = perRound.flatMap(_.keys).distinct
          val medians = names.map(n => n -> Stats.median(perRound.flatMap(_.get(n)))).toMap
          val tracedWall = Stats.median(rounds.filter(_.traced).map(_.wallNs / 1e9).toSeq)
          val overhead =
            if (untraced.isEmpty) Map.empty[String, Double]
            else Map("trace.overhead_ratio" ->
              (tracedWall / Stats.median(untraced.map(_.wallNs / 1e9)) - 1))
          val extra = w.untracedLayers(if (untraced.nonEmpty) untraced else rounds.toSeq) ++
            overhead ++ Map(
            "trace.round_s" -> tracedWall,
            "setup.cold_s" -> setupS.head,
            "ops_failed_ratio" -> failed.toDouble / attempted)
          writeSpans(a, traces)
          Metrics.perLayer.filter(n => n._1 != "trace.overhead_ratio" || overhead.nonEmpty)
            .map { case (n, u) => (n, extra.getOrElse(n, medians.getOrElse(n, 0.0)), u) }
        }
      Console.out.println(s"perfbench ${a.workload} seed=${a.seed} trace=${a.trace} " +
        s"setups=${setupS.map(s => f"$s%.2f").mkString(",")} " +
        s"rounds=${rounds.map(r => f"${r.wallNs / 1e9}%.2f").mkString(",")} " +
        s"live_mb=${memory.samples.map(b => f"${b / 1048576.0}%.0f").mkString(",")} " +
        s"ops=${ops.size} failed=$failed java=${sys.props("java.version")} spark=${spark.version}")
      Console.out.println(resultJson(failed == 0, attempted, failed, metrics))
      Console.out.flush()
    } finally spark.stop()
  }

  private def writeSpans(a: Args, traces: Seq[RoundTrace]): Unit = {
    val out = java.nio.file.Paths.get(a.work, s"trace-${a.workload}-seed${a.seed}.jsonl")
    val lines = traces.flatMap(_.toJsonLines)
    java.nio.file.Files.write(out, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  def resultJson(correct: Boolean, attempted: Int, failed: Int,
                 metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      val value = if (v.isNaN || v.isInfinite) "0.0" else v.toString
      s""""$n": {"value": $value, "unit": "$u"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}
