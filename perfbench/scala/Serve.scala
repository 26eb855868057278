package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.models.JsonModels
import graft.serve.{DateBetween, Engine, Eq, ResultCache}

/** One analyst request, as the reference frontend sends it. `sql` is the
  * same query as plain SQL, for the uncached comparison; None for requests
  * whose reply is not table rows.
  */
sealed trait Req { def kind: String; def sql: Option[String] }

object Req {
  val Facts: Seq[String] = Seq("fct_balanceSheet", "fct_IncomeStatement", "fct_Cashflows")
  val FactKey: Seq[String] =
    Seq("COMPANY_NAME", "FILEDDATE", "STATEMENTTYPE", "TAG", "UNITOFMEASURE", "VERSION")
  val Months: Seq[(String, String)] =
    Seq(("2024-04-01", "2024-04-30"), ("2024-05-01", "2024-05-31"), ("2024-06-01", "2024-06-30"))
  val PageRows = 50

  private def q(s: String) = s.replace("'", "''")

  /** Filtered fetch: one company's rows of one fact in one month. */
  final case class Browse(fact: String, company: String, lo: String, hi: String) extends Req {
    def kind = "browse"
    def sql = Some(s"SELECT * FROM $fact WHERE COMPANY_NAME = '${q(company)}' " +
      s"AND FILEDDATE >= DATE'$lo' AND FILEDDATE <= DATE'$hi' LIMIT 5000")
  }
  /** One page of a fact in key order. */
  final case class Page(fact: String, page: Int) extends Req {
    def kind = "page"
    def sql = Some(s"SELECT * FROM $fact ORDER BY ${FactKey.mkString(", ")} " +
      s"LIMIT $PageRows OFFSET ${page * PageRows}")
  }
  /** Ad-hoc aggregate through the SELECT-only gateway. */
  final case class Sql(query: String) extends Req {
    def kind = "sql"
    def sql = Some(query)
  }
  /** One filing's JSON document. */
  final case class Doc(adsh: String) extends Req {
    def kind = "doc"
    def sql = Some(s"SELECT * FROM financial_statements_json WHERE filing_id = '$adsh' LIMIT 5000")
  }
  final case class LineageOf(query: String) extends Req { def kind = "lineage"; def sql = None }
  final case class Widget(fact: String) extends Req { def kind = "widget"; def sql = None }
  case object Catalog extends Req { def kind = "catalog"; def sql = None }

  def companyAgg(fact: String, company: String): String =
    s"SELECT TAG, COUNT(*) AS n, SUM(FCT_VALUE) AS total FROM $fact " +
      s"WHERE COMPANY_NAME = '${q(company)}' GROUP BY TAG"
  def dailyAgg(fact: String, lo: String, hi: String): String =
    s"SELECT FILEDDATE, COUNT(DISTINCT COMPANY_NAME) AS companies, " +
      s"SUM(FCT_VALUE) AS total FROM $fact " +
      s"WHERE FILEDDATE BETWEEN DATE'$lo' AND DATE'$hi' GROUP BY FILEDDATE"
}

/** Request stream: a fixed mix of request kinds; companies, filings and
  * pages drawn by Zipf(1.1) rank, so a few keys are hot and the distinct
  * requests far outnumber the 64 cache entries.
  *
  * The access pattern (kinds, ranks, order) is the same for every seed; the
  * seed decides which company, filing and page holds each rank. So every
  * seed sees the same mix of repeats, hits and evictions, on different keys.
  */
final class RequestStream(seed: Long, companies: IndexedSeq[String], filings: IndexedSeq[String]) {
  import Req._
  private val rng = new Random(RequestStream.PatternSeed)
  private def zipfPicker(n: Int): () => Int = {
    val cum = (1 to n).scanLeft(0.0)((acc, k) => acc + 1.0 / math.pow(k, 1.1)).tail.toArray
    () => {
      val i = java.util.Arrays.binarySearch(cum, rng.nextDouble() * cum.last)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }
  private val keys = new Random(seed)
  private val companyOrder = keys.shuffle(companies)
  private val filingOrder = keys.shuffle(filings)
  private val pageOrder = keys.shuffle((0 until 40).toIndexedSeq)
  private val company = zipfPicker(companies.size)
  private val filing = zipfPicker(filings.size)
  private val pageRank = zipfPicker(40)

  private def pick[T](xs: Seq[T]): T = xs(rng.nextInt(xs.size))

  /** One request of the given kind, its keys drawn from the stream. */
  def of(kind: String): Req = kind match {
    case "browse" =>
      val (lo, hi) = pick(Months)
      Browse(pick(Facts), companyOrder(company()), lo, hi)
    case "page" => Page(pick(Facts), pageOrder(pageRank()))
    case "sql" =>
      if (rng.nextBoolean()) Sql(companyAgg(pick(Facts), companyOrder(company())))
      else { val (lo, hi) = pick(Months); Sql(dailyAgg(pick(Facts), lo, hi)) }
    case "doc" => Doc(filingOrder(filing()))
    case "lineage" => LineageOf(companyAgg(pick(Facts), companyOrder(company())))
    case "widget" => Widget(pick(Facts))
    case "catalog" => Catalog
  }

  /** `n` requests (a multiple of 20) in the mix's exact proportions, in a
    * seeded order: browse 30%, page 20%, sql 20%, doc 15%, lineage 5%,
    * widget 5%, catalog 5%.
    */
  def batch(n: Int): IndexedSeq[Req] = {
    require(n % 20 == 0, s"batch size $n is not a multiple of 20")
    val kinds = RequestStream.Mix.flatMap { case (k, pct) => Seq.fill(n * pct / 100)(k) }
    rng.shuffle(kinds).map(of).toIndexedSeq
  }
}

object RequestStream {
  val PatternSeed = 20240331L
  /** Request kinds and their shares of the traffic. The kinds are the
    * reference frontend's calls; the shares, like the Zipf exponent and the
    * client count, are assumptions, not taken from a measured trace.
    */
  val Mix: Seq[(String, Int)] = Seq("browse" -> 30, "page" -> 20, "sql" -> 20, "doc" -> 15,
    "lineage" -> 5, "widget" -> 5, "catalog" -> 5)
}

/** `serve_browse`: analysts browsing a built warehouse through one
  * [[Engine]] with a 64-entry [[ResultCache]], as a closed loop of
  * [[ServeWorkload.Clients]] client threads (each waits for its reply
  * before sending the next request). A round is
  * [[ServeWorkload.RoundRequests]] requests.
  *
  * The warehouse is built once per build of the engine, in its own JVM, by
  * [[PrepareWarehouse]]; this JVM only reads it. Set-up opens it (the fact
  * tables, and the document view over the landed raw tables) and creates the
  * engine and its cache. Before the measured rounds,
  * [[ServeWorkload.WarmupRequests]] requests warm the request path and fill
  * the cache; their time is reported as `serve.warmup_s`.
  */
final class ServeWorkload(tr: Tracer, a: Args) extends Workload {
  import ServeWorkload._

  private var spark: SparkSession = _
  private var cache: ResultCache = _
  private var engine: Engine = _
  private var stream: RequestStream = _
  private var requestNo = 0
  private val samples = ArrayBuffer.empty[(Req, Seq[String])]
  // plan and exec times of requests served in untraced measured rounds
  @volatile private var timingSplit = false
  private val plansMs = ArrayBuffer.empty[Double]
  private val execMs = ArrayBuffer.empty[Double]
  private val rounds = ArrayBuffer.empty[RoundInfo]

  def setup(session: SparkSession): Unit = {
    spark = session
    val raw = Seq("sub", "tag", "num", "pre")
      .map(t => t -> spark.read.parquet(s"${a.data}/raw/$t")).toMap
    Req.Facts.foreach(f => spark.read.parquet(s"${a.data}/models/$f").createOrReplaceTempView(f))
    JsonModels.financialStatementsJson(JsonModels.stgFinancialData(
      JsonModels.rawStgSubModified(raw("sub")), raw("num"), raw("tag"), raw("pre")))
      .createOrReplaceTempView("financial_statements_json")
    cache = new ResultCache(maxEntries = CacheEntries)
    engine = new Engine(spark, Some(cache))
    val subs = raw("sub").select("adsh", "name").collect()
    stream = new RequestStream(a.seed, subs.map(_.getString(1)).distinct.sorted.toIndexedSeq,
      subs.map(_.getString(0)).sorted.toIndexedSeq)
  }

  private var warmupS = 0.0

  override def warmUp(): Unit = {
    val t0 = System.nanoTime()
    stream.batch(WarmupRequests).foreach(serve(_, sample = false))
    warmupS = (System.nanoTime() - t0) / 1e9
  }

  /** Serves one request; returns the reply's row count. */
  private def serve(req: Req, sample: Boolean): Long = {
    import Req._
    def rows(kind: String)(make: => DataFrame): Long = tr.span(s"serve.$kind") {
      val t0 = System.nanoTime()
      val df = tr.span("serve.plan")(make)
      val t1 = System.nanoTime()
      val got = tr.span("serve.exec")(df.collect())
      val t2 = System.nanoTime()
      synchronized {
        if (timingSplit) { plansMs += (t1 - t0) / 1e6; execMs += (t2 - t1) / 1e6 }
        if (sample) samples += ((req, canonical(got)))
      }
      got.length.toLong
    }
    req match {
      case Browse(f, c, lo, hi) =>
        rows("browse")(engine.select(f, Seq(Eq("COMPANY_NAME", c), DateBetween("FILEDDATE", lo, hi))))
      case Page(f, p) =>
        rows("page")(engine.select(f, limit = PageRows, offset = p * PageRows, orderBy = FactKey))
      case Sql(query) => rows("sql")(engine.sql(query))
      case Doc(adsh) =>
        rows("doc")(engine.select("financial_statements_json", Seq(Eq("filing_id", adsh))))
      case LineageOf(query) => tr.span("serve.lineage")(engine.sqlLineage(query).collect().length.toLong)
      case Widget(f) => tr.span("serve.widget")(engine.filterWidgetSpec(f).size.toLong)
      case Catalog =>
        val names = tr.span("serve.catalog")(engine.listTables("default"))
        if (!Facts.forall(f => names.exists(_.equalsIgnoreCase(f)))) throw new IllegalStateException(
          s"catalog misses a fact table: ${names.mkString(",")}")
        names.size.toLong
    }
  }

  def round(): Seq[Op] = {
    val start = System.nanoTime()
    val before = cache.stats
    timingSplit = !tr.enabled
    val reqs = stream.batch(RoundRequests)
    val firstNo = requestNo
    requestNo += RoundRequests
    val nextIdx = new AtomicInteger(0)
    val ops = Array.ofDim[Op](RoundRequests)
    val rowsOut = new java.util.concurrent.atomic.AtomicLong(0)
    val clients = (1 to Clients).map { _ =>
      new Thread(() => {
        var i = nextIdx.getAndIncrement()
        while (i < RoundRequests) {
          val req = reqs(i)
          val sample = req.sql.isDefined && (firstNo + i) % SampleEvery == 0
          val t0 = System.nanoTime()
          val ok = try { rowsOut.addAndGet(serve(req, sample)); true }
          catch { case e: Exception => System.err.println(s"${req.kind} failed: $e"); false }
          ops(i) = Op(req.kind, (System.nanoTime() - t0) / 1e6, ok)
          i = nextIdx.getAndIncrement()
        }
      })
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
    timingSplit = false
    rounds += RoundInfo(start, System.nanoTime(), before, cache.stats, rowsOut.get())
    ops.toSeq
  }

  /** Every sampled reply must equal the same query run through `spark.sql`
    * with nothing cached (the cache is dropped first, so Spark cannot
    * substitute a persisted result).
    */
  override def checkEnd(): Int = {
    spark.catalog.clearCache()
    val bad = samples.count { case (req, got) =>
      val want = canonical(spark.sql(req.sql.get).collect())
      val same = got == want
      if (!same) System.err.println(s"wrong output: ${req.kind} ${req.sql.get}: " +
        s"${got.size} rows, expected ${want.size}")
      !same
    }
    bad
  }

  def layers(t: RoundTrace): Map[String, Double] = {
    val first = t.spans.head.startNs
    val r = rounds.find(r => r.startNs <= first && first <= r.endNs).get
    Map(
      "serve.cache_hit_ratio" -> Stats.hitRatio(r.before, r.after),
      "serve.cache_evictions" -> Stats.evictions(r.before, r.after).toDouble,
      "serve.rows_per_request" -> r.rows.toDouble / RoundRequests)
  }

  override def untracedLayers(rounds: Seq[RoundOut]): Map[String, Double] = {
    val ops = rounds.flatMap(_.ops).filter(_.ok)
    val ms = ops.map(_.ms)
    val tail = Stats.tailPercentile(ms.size)
    def p50(kind: String) = {
      val xs = ops.filter(_.kind == kind).map(_.ms)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    def medianOf(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    Map(
      "serve.warmup_s" -> warmupS,
      "serve.samples" -> ms.size.toDouble,
      "serve.qps" -> ms.size / rounds.map(_.wallNs / 1e9).sum,
      "serve.p50_ms" -> Stats.median(ms),
      "serve.tail_ms" -> tail.fold(0.0)(Stats.percentile(ms, _)),
      "serve.tail_pct" -> tail.getOrElse(0.0),
      "serve.browse_p50_ms" -> p50("browse"),
      "serve.page_p50_ms" -> p50("page"),
      "serve.sql_p50_ms" -> p50("sql"),
      "serve.doc_p50_ms" -> p50("doc"),
      "serve.plan_ms_p50" -> medianOf(plansMs.toSeq),
      "serve.exec_ms_p50" -> medianOf(execMs.toSeq),
      "serve.widget_ms_p50" -> p50("widget"),
      "serve.lineage_ms_p50" -> p50("lineage"),
      "serve.catalog_ms_p50" -> p50("catalog"))
  }
}

object ServeWorkload {
  /** Cache counters around one measured round. */
  final case class RoundInfo(startNs: Long, endNs: Long, before: (Long, Long, Int),
                             after: (Long, Long, Int), rows: Long)

  val Clients = 2
  val CacheEntries = 64
  val RoundRequests = 20
  val WarmupRequests = 60
  val SampleEvery = 5

  /** Order-free form of a reply: each row as text, arrays sorted (the
    * document model's `collect_list` has no order), rows sorted.
    */
  def canonical(rows: Array[Row]): Seq[String] = {
    def norm(v: Any): String = v match {
      case r: Row => r.toSeq.map(norm).mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(norm).sorted.mkString("[", ",", "]")
      case null => "null"
      case x => x.toString
    }
    rows.map(norm).toSeq.sorted
  }
}

/** Builds the warehouse `serve_browse` reads: one quarter load (land,
  * models, document view, quality suite) of a generated quarter, checked
  * against the generator's record. Exits non-zero when a check fails.
  *
  * Usage: PrepareWarehouse QUARTER_DIR WAREHOUSE_DIR
  */
object PrepareWarehouse {
  def main(argv: Array[String]): Unit = {
    val Array(quarterDir, warehouse) = argv
    val spark = SparkSession.builder().master("local[4]").appName("perfbench-prepare")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$warehouse.tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val failures = try {
      val load = new QuarterLoad(spark, new Tracer("prepare"), new Quarter(quarterDir), warehouse)
      val ops = load.run()
      if (!ops.forall(_.ok)) Seq("quarter load failed") else load.verify()
    } finally spark.stop()
    failures.foreach(m => System.err.println(s"wrong output: $m"))
    if (failures.nonEmpty) sys.exit(1)
  }
}
