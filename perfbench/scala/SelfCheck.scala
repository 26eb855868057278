package perfbench

import org.apache.spark.sql.SparkSession

import graft.serve.ResultCache

/** Unit checks for the metric extractors: the percentile rule, self time,
  * listener attribution and cache-eviction arithmetic. Exits non-zero on
  * the first failure. Run with `python3 perfbench/run.py --selfcheck`.
  */
object SelfCheck {
  private var failures = 0

  private def check(what: String, got: Any, want: Any): Unit =
    if (got == want) println(s"ok   $what")
    else { println(s"FAIL $what: got $got, expected $want"); failures += 1 }

  def percentiles(): Unit = {
    val xs = (1 to 100).map(_.toDouble)
    check("median of 1..100", Stats.median(xs), 50.5)
    check("median of odd count", Stats.median(Seq(3.0, 1.0, 2.0)), 2.0)
    check("nearest-rank p95 of 1..100", Stats.percentile(xs, 95), 95.0)
    check("nearest-rank p50 of 1..100", Stats.percentile(xs, 50), 50.0)
    check("nearest-rank p99.9 of 1..100", Stats.percentile(xs, 99.9), 100.0)
    check("tail with 200 samples", Stats.tailPercentile(200), Some(95.0))
    check("tail with 199 samples", Stats.tailPercentile(199), Some(90.0))
    check("tail with 1000 samples", Stats.tailPercentile(1000), Some(99.0))
    check("tail with 10000 samples", Stats.tailPercentile(10000), Some(99.9))
    check("tail with 20 samples", Stats.tailPercentile(20), Some(50.0))
    check("tail with 19 samples", Stats.tailPercentile(19), None)
  }

  def selfTime(): Unit = {
    def s(id: Long, a: Long, b: Long, parent: Long = 1) = Span(id, s"s$id", parent, "t", a, b)
    val p = s(1, 0, 100, parent = 0)
    check("self time without children", Stats.selfTimeNs(p, Nil), 100L)
    check("self time, overlapping children",
      Stats.selfTimeNs(p, Seq(s(2, 10, 30), s(3, 20, 50))), 60L)
    check("self time, child past the parent's end",
      Stats.selfTimeNs(p, Seq(s(2, 10, 30), s(3, 20, 50), s(4, 90, 120))), 50L)
    check("self time, nested child inside another",
      Stats.selfTimeNs(p, Seq(s(2, 0, 100), s(3, 40, 60))), 0L)
  }

  def cacheArithmetic(spark: SparkSession): Unit = {
    var now = 0L
    val cache = new ResultCache(ttlSeconds = 60, maxEntries = 2, clock = () => now)
    val before = cache.stats
    (1 to 4).foreach { i => now += 1; cache.through(spark.range(i).toDF()) }
    now += 1
    cache.through(spark.range(4).toDF()) // the newest entry: a hit
    val after = cache.stats
    check("cache misses", after._2 - before._2, 4L)
    check("cache size", after._3, 2)
    check("evictions = misses - growth", Stats.evictions(before, after), 2L)
    check("hit ratio", Stats.hitRatio(before, after), 0.2)
    now += 120 * 1000 // past the TTL: the expired entry is replaced in place
    val mid = cache.stats
    cache.through(spark.range(4).toDF())
    check("an expired entry counts as evicted", Stats.evictions(mid, cache.stats), 1L)
    cache.clear()
  }

  def attribution(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val listener = new SpanListener
    sc.addSparkListener(listener)
    val tr = new Tracer("selfcheck")
    tr.enabled = true
    SpanListener.quiesce(sc)
    listener.drain()
    tr.span("outer") {
      sc.parallelize(1 to 10, 3).count()
      // a pool created inside the span, as ModelGraph.run and
      // Tuning.concurrently create theirs: its threads inherit the span
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try pool.submit(new Runnable {
        def run(): Unit = tr.span("inner")(sc.parallelize(1 to 10, 2).count())
      }).get()
      finally pool.shutdown()
      val pool2 = java.util.concurrent.Executors.newFixedThreadPool(1)
      try pool2.submit(new Runnable {
        def run(): Unit = sc.parallelize(1 to 10, 4).count()
      }).get()
      finally pool2.shutdown()
    }
    tr.enabled = false
    sc.parallelize(1 to 10, 1).count()
    SpanListener.quiesce(sc)
    val t = RoundTrace(tr.drain(), listener.drain())
    val outer = t.named("outer").head
    val inner = t.named("inner").head
    check("inner span's parent is the outer span", inner.parent, outer.id)
    check("inner span: jobs", t.counts(inner.id).jobs, 1L)
    check("inner span: tasks", t.counts(inner.id).tasks, 2L)
    check("outer span's own jobs (pool thread without a span of its own)",
      t.counts(outer.id).jobs, 2L)
    check("outer span's own tasks", t.counts(outer.id).tasks, 7L)
    check("outer subtree: jobs", t.subtree(outer).jobs, 3L)
    check("outer subtree: stages", t.subtree(outer).stages, 3L)
    check("outer subtree: tasks", t.subtree(outer).tasks, 9L)
    check("job outside any span is unattributed", t.counts(0L).jobs, 1L)
    check("total jobs", t.total.jobs, 4L)
    check("outer span is top-level", outer.parent, 0L)
    sc.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = {
    percentiles()
    selfTime()
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selfcheck")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.local.dir", args.headOption.getOrElse("."))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      cacheArithmetic(spark)
      attribution(spark)
    } finally spark.stop()
    println(if (failures == 0) "selfcheck: all passed" else s"selfcheck: $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
