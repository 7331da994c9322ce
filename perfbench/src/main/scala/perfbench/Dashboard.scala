package perfbench

import graft.api.{HttpApi, PgWireServer, Translator}
import graft.storage.SeriesStore
import graft.sydraql.{CompileOptions, Engine, Parser, Validator}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import scala.collection.mutable

/** A read template: the query in both dialects, the route class it must
  * take, its expected columns and rows (from the model).
  */
final case class Tmpl(name: String, cls: String, route: String, cols: Seq[String],
    sydraql: String, sql: Option[String], range: Option[(Long, Long, Long)], want: Seq[Seq[Cell]])

/** One executed read: which template, over which client, latency, verdict. */
final case class Done(t: Tmpl, http: Boolean, ms: Double, ok: Boolean, op: Long)

/** Closed-loop read clients shared by the read workloads: one HTTP client
  * and one pgwire connection, each on its own thread, each cycling through
  * its template list and checking every answer.
  */
final class Readers(store: SeriesStore) {
  private val failures = new java.util.concurrent.atomic.AtomicInteger()

  def exec(c: Either[HttpClient, PgClient], t: Tmpl, tracer: Option[Tracer]): Done = {
    val op = tracer.map(_.newOp()).getOrElse(0L)
    def call(): Answer = c match {
      case Left(h) => t.range match {
        case Some((id, lo, hi)) => h.range(id, lo, hi)
        case None => h.sydraql(t.sydraql)
      }
      case Right(p) => p.query(t.sql.get)
    }
    val span = if (c.isLeft) "api.http" else "api.pgwire"
    val t0 = Common.nowNs()
    val ans =
      try tracer.fold(call())(tr => tr.inOp(op)(tr.span(span)(call())))
      catch { case e: Throwable => Answer(Nil, Nil, None, Some(e.toString)) }
    val ms = (Common.nowNs() - t0) / 1e6
    val problem = ans.error
      .orElse(if (c.isLeft && !ans.route.contains(t.route)) Some(s"route ${ans.route}, expected ${t.route}") else None)
      .orElse(if (ans.columns != t.cols) Some(s"columns ${ans.columns}, expected ${t.cols}") else None)
      .orElse(Check.diff(t.want, ans.rows))
    problem.foreach { p =>
      if (failures.incrementAndGet() <= 10)
        System.err.println(s"[perfbench] ${t.name} over ${if (c.isLeft) "http" else "pgwire"}: $p")
    }
    Done(t, c.isLeft, ms, problem.isEmpty, op)
  }

  /** Both clients, whole cycles of their lists, until `budgetS` has passed
    * (at least `minCycles` each). Returns the reads and the throughput:
    * each client's reads over its own wall, summed, so a client idling
    * while the other finishes its cycle does not count.
    */
  def loop(httpList: Seq[Tmpl], pgList: Seq[Tmpl], budgetS: Double, minCycles: Int,
      tracer: Option[Tracer], http: HttpClient, pg: PgClient): (Seq[Done], Double) = {
    val deadline = Common.nowNs() + (budgetS * 1e9).toLong
    def client(list: Seq[Tmpl], c: Either[HttpClient, PgClient]) = {
      val t0 = Common.nowNs()
      val out = mutable.ArrayBuffer[Done]()
      var cycles = 0
      while (cycles < minCycles || Common.nowNs() < deadline) {
        list.foreach(t => out += exec(c, t, tracer))
        cycles += 1
      }
      (out.toSeq, out.size / ((Common.nowNs() - t0) / 1e9))
    }
    val ex = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val f1 = ex.submit(() => client(httpList, Left(http)))
      val f2 = ex.submit(() => client(pgList, Right(pg)))
      val ((d1, r1), (d2, r2)) = (f1.get(), f2.get())
      (d1 ++ d2, r1 + r2)
    } finally ex.shutdown()
  }

  /** The direct path of a traced read, replayed in the benchmark process:
    * translate (pgwire), parse, validate, `Engine.executeOnStore`, forced
    * optimized and physical plans, collect.
    */
  def direct(d: Done, tr: Tracer): Option[(String, Double, Long, Long)] =
    if (d.t.range.isDefined) None
    else tr.inOp(d.op) {
      val q =
        if (d.http) d.t.sydraql
        else tr.span("api.translate")(Translator.translate(d.t.sql.get)) match {
          case Translator.Success(s) => s
          case f => throw new IllegalStateException(s"${d.t.name}: $f")
        }
      val ast = tr.span("sydraql.parse")(Parser.parse(q))
      tr.span("sydraql.validate")(Validator.validate(ast))
      val res = tr.span("engine.execute")(Engine.executeOnStore(store, q, CompileOptions()))
      tr.span("plan.optimize")(res.df.queryExecution.optimizedPlan)
      tr.span("plan.physical")(res.df.queryExecution.executedPlan)
      val rows = tr.span("exec.collect")(res.df.collect())
      val files = Readers.filesRead(res.df)
      Some((res.stats.route, (res.stats.parseUs + res.stats.validateUs) / 1e3, files, rows.length.toLong))
    }
}

object Readers {
  private object Helper extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** Files the executed plan's file scans opened (their `numFiles` metric). */
  def filesRead(df: org.apache.spark.sql.DataFrame): Long =
    Helper.collect(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum

  /** Latency metrics per route class, with a p95 only from 200 samples,
    * and the median of every (template, client) pair.
    */
  def classMetrics(done: Seq[Done]): Seq[Metric] =
    Seq("served", "scan", "range").flatMap { cls =>
      val xs = done.filter(_.t.cls == cls).map(_.ms)
      if (xs.isEmpty) Nil
      else Seq(Metric(s"${cls}_p50_ms", Common.median(xs), "ms"),
        Metric(s"${cls}_samples", xs.size.toDouble, "count")) ++
        (if (xs.size >= 200) Seq(Metric(s"${cls}_p95_ms", Common.quantile(xs, 0.95), "ms")) else Nil)
    } ++ done.groupBy(d => (d.t.name, d.http)).toSeq.sortBy(_._1).map { case ((n, h), ds) =>
      Metric(s"template.$n.${if (h) "http" else "pgwire"}_p50_ms", Common.median(ds.map(_.ms)), "ms")
    }

  /** The per-layer metrics of a traced read phase: `done` are the traced
    * round trips, `untraced` the same reads without tracing.
    */
  def layerMetrics(tr: Tracer, done: Seq[Done], untraced: Seq[Done],
      direct: Seq[(Done, (String, Double, Long, Long))]): Seq[Metric] = {
    val spans = tr.allSpans.groupBy(_.op)
    def spanMs(op: Long, names: String*): Double =
      spans.getOrElse(op, Nil).filter(s => names.contains(s.name)).map(_.ms).sum
    def overhead(http: Boolean): Double = {
      val per = direct.filter(_._1.http == http).groupBy(_._1.t.name).map { case (_, ds) =>
        val rt = Common.median(done.filter(d => d.http == http && d.t.name == ds.head._1.t.name).map(_.ms))
        rt - Common.median(ds.map { case (d, _) =>
          spanMs(d.op, "api.translate", "engine.execute", "plan.optimize", "plan.physical", "exec.collect")
        })
      }
      if (per.isEmpty) 0.0 else Common.median(per)
    }
    def med(name: String, scale: Double = 1.0): Double = {
      val xs = tr.perOp(name)
      if (xs.isEmpty) 0.0 else Common.median(xs) * scale
    }
    val ops = direct.map(_._1.op)
    // one count per (template, client) pair: the route structure of a
    // cycle, independent of how many cycles the run made
    val routes = direct.map { case (d, r) => (d.t.name, d.http) -> r._1 }.toMap.values.toSeq
    Seq(
      Metric("api.http.overhead_ms", overhead(http = true), "ms"),
      Metric("api.pgwire.overhead_ms", overhead(http = false), "ms"),
      Metric("api.translate_us", med("api.translate", 1e3), "us"),
      Metric("sydraql.parse_us", med("sydraql.parse", 1e3), "us"),
      Metric("sydraql.validate_us", med("sydraql.validate", 1e3), "us"),
      Metric("sydraql.route_compile_ms",
        Common.median(direct.map { case (d, (_, pv, _, _)) => spanMs(d.op, "engine.execute") - pv }), "ms"),
      Metric("sydraql.route.served", routes.count(_.startsWith("served:cells")).toDouble, "count"),
      Metric("sydraql.route.hybrid", routes.count(_.startsWith("served:hybrid")).toDouble, "count"),
      Metric("sydraql.route.raw", routes.count(_ == "raw").toDouble, "count"),
      Metric("plan.optimize_ms", med("plan.optimize"), "ms"),
      Metric("plan.physical_ms", med("plan.physical"), "ms"),
      Metric("exec.collect_ms", med("exec.collect"), "ms"),
      Metric("storage.records_read_per_row_returned", Common.median(direct.map { case (d, (_, _, _, rows)) =>
        tr.countsOf(d.op).recordsRead.toDouble / math.max(1L, rows)
      }), "ratio"),
      Metric("storage.bytes_read", Tracer.medianCount(tr, ops)(_.bytesRead.toDouble), "bytes"),
      Metric("storage.files_read", Common.median(direct.map(_._2._3.toDouble)), "count"),
      Metric("trace.overhead_pct",
        (Common.median(done.map(_.ms)) / Common.median(untraced.map(_.ms)) - 1.0) * 100, "%")) ++
      execMetrics(tr, ops)
  }

  /** Listener counts, median per operation. */
  def execMetrics(tr: Tracer, ops: Seq[Long]): Seq[Metric] = {
    def m(name: String, unit: String)(f: OpCounts => Double) = Metric(name, Tracer.medianCount(tr, ops)(f), unit)
    Seq(
      m("exec.jobs", "count")(_.jobs.toDouble),
      m("exec.stages", "count")(_.stages.toDouble),
      m("exec.tasks", "count")(_.tasks.toDouble),
      m("exec.task_cpu_s", "s")(_.cpuNs / 1e9),
      m("exec.shuffle_read_bytes", "bytes")(_.shuffleRead.toDouble),
      m("exec.shuffle_write_bytes", "bytes")(_.shuffleWrite.toDouble),
      m("exec.spill_bytes", "bytes")(_.spill.toDouble),
      m("exec.gc_s", "s")(_.gcMs / 1e3))
  }
}

/** `dashboard_read`: a static 30-day store, two closed-loop clients (HTTP
  * and pgwire) cycling through fixed template lists. See README.md.
  */
object Dashboard {
  val Days = 6
  val Step = 60
  val Outages = 3
  val Hosts = 8
  val SetupReps = 2

  def templates(m: Model, seed: Long, rangeIds: Map[SeriesKey, Long]): (Seq[Tmpl], Seq[Tmpl]) = {
    val rnd = new scala.util.Random(seed ^ 0x5eedL)
    val day = Gen.Day
    val d0 = Gen.Origin + (1 + rnd.nextInt(Days - 5)) * day
    val d1 = d0 + 4 * day
    def host() = s"h${rnd.nextInt(Hosts)}"
    def scanDay() = Gen.Origin + rnd.nextInt(Days - 2) * day
    val win = s"time >= $d0 and time < $d1"

    // served: aligned day buckets with avg/count/p50
    val t1 = {
      val ps = m.select(Some("cpu"), d0, d1)
      val rows = ps.groupBy(p => Model.bucket(p.t, day)).toSeq.sortBy(_._1).map { case (b, g) =>
        Seq(Num(b.toDouble), Num(Model.avg(g)), Num(g.size.toDouble), Quant(Model.sortedValues(g), 0.5))
      }
      val sel = "time_bucket(86400, time) as b, avg(value) as av, count() as n, percentile_approx(value, 0.5) as p50"
      val rest = s"$win group by time_bucket(86400, time) order by b"
      Tmpl("day_buckets", "served", "served:cells:td", Seq("b", "av", "n", "p50"),
        s"select $sel from cpu where $rest", Some(s"SELECT $sel FROM cpu WHERE $rest"), None, rows)
    }
    // served: p95 per host
    val t2 = {
      val ps = m.select(Some("mem"), d0, d1)
      val rows = ps.groupBy(_.key.host).toSeq.sortBy(_._1).map { case (h, g) =>
        Seq(Str(h), Quant(Model.sortedValues(g), 0.95), Num(Model.avg(g)))
      }
      val sel = "tag.host as h, percentile_approx(value, 0.95) as p95, avg(value) as av"
      val rest = s"$win group by tag.host order by h"
      Tmpl("host_p95", "served", "served:cells:tdtag", Seq("h", "p95", "av"),
        s"select $sel from mem where $rest", Some(s"SELECT $sel FROM mem WHERE $rest"), None, rows)
    }
    // served: one-host drill-down
    val t3 = {
      val h = host()
      val g = m.select(Some("disk"), d0, d1, _ == h)
      val sel = "percentile_approx(value, 0.95) as p95, avg(value) as av, count() as n"
      val rest = s"$win and tag.host = '$h'"
      Tmpl("host_drilldown", "served", "served:cells:tdtag", Seq("p95", "av", "n"),
        s"select $sel from disk where $rest", Some(s"SELECT $sel FROM disk WHERE $rest"), None,
        Seq(Seq(Quant(Model.sortedValues(g), 0.95), Num(Model.avg(g)), Num(g.size.toDouble))))
    }
    // served: selector-less fleet average (no FROM, so HTTP only)
    val t4 = {
      val g = m.select(None, d0, d1)
      Tmpl("fleet_avg", "served", "served:cells:td", Seq("av", "n"),
        s"select avg(value) as av, count() as n where $win", None, None,
        Seq(Seq(Num(Model.avg(g)), Num(g.size.toDouble))))
    }
    // hybrid: ragged window, cells inside, raw edges
    val t5 = {
      val (lo, hi) = (d0 + 5 * 3600, d1 - 7 * 3600)
      val g = m.select(Some("cpu"), lo, hi)
      val sel = "avg(value) as av, count() as n, percentile_approx(value, 0.5) as p50"
      val rest = s"time >= $lo and time < $hi"
      Tmpl("ragged_window", "served", "served:hybrid:td", Seq("av", "n", "p50"),
        s"select $sel from cpu where $rest", Some(s"SELECT $sel FROM cpu WHERE $rest"), None,
        Seq(Seq(Num(Model.avg(g)), Num(g.size.toDouble), Quant(Model.sortedValues(g), 0.5))))
    }
    // raw: fill(previous) over 30-minute buckets of one series, two days
    val t6 = {
      val (h, lo) = (host(), scanDay())
      val hi = lo + 2 * day
      val byB = m.select(Some("net"), lo, hi, _ == h).groupBy(p => Model.bucket(p.t, 1800))
      val rows = if (byB.isEmpty) Nil else {
        var prev: Cell = Null
        (byB.keys.min to byB.keys.max by 1800L).map { b =>
          byB.get(b).foreach(g => prev = Num(Model.avg(g)))
          Seq(Num(b.toDouble), prev)
        }
      }
      val sel = "time_bucket(1800, time) as b, avg(value) as av"
      val rest = s"time >= $lo and time < $hi and tag.host = '$h' group by time_bucket(1800, time) fill(previous) order by b"
      Tmpl("fill_previous", "scan", "raw", Seq("b", "av"),
        s"select $sel from net where $rest", Some(s"SELECT $sel FROM net WHERE $rest"), None, rows)
    }
    // raw: rate and delta per hour of one series, one day
    val t7 = {
      val (h, lo) = (host(), scanDay())
      val rows = m.select(Some("cpu"), lo, lo + day, _ == h).groupBy(p => Model.bucket(p.t, 3600))
        .toSeq.sortBy(_._1).map { case (b, g) =>
          val (d, r) = Model.deltaRate(g)
          Seq(Num(b.toDouble), r, d)
        }
      val sel = "time_bucket(3600, time) as b, rate(value) as r, delta(value) as d"
      val rest = s"time >= $lo and time < ${lo + day} and tag.host = '$h' group by time_bucket(3600, time) order by b"
      Tmpl("rate_delta", "scan", "raw", Seq("b", "r", "d"),
        s"select $sel from cpu where $rest", Some(s"SELECT $sel FROM cpu WHERE $rest"), None, rows)
    }
    // raw: regex tag selector with a value predicate, one day
    val t8 = {
      val lo = scanDay()
      val re = "^h[0-3]$".r
      val g = m.select(Some("mem"), lo, lo + day, h => re.findFirstIn(h).isDefined, _ > 50.0)
      val sel = "count() as n, avg(value) as av"
      val rest = s"time >= $lo and time < ${lo + day} and tag.host =~ '^h[0-3]$$' and value > 50.0"
      Tmpl("regex_value", "scan", "raw", Seq("n", "av"),
        s"select $sel from mem where $rest", Some(s"SELECT $sel FROM mem WHERE $rest"), None,
        Seq(Seq(Num(g.size.toDouble), if (g.isEmpty) Null else Num(Model.avg(g)))))
    }
    // range: one series over one hour (inclusive end, as the API defines it)
    val t9 = {
      val key = SeriesKey("cpu", host())
      val lo = scanDay() + 3600 * rnd.nextInt(24)
      val rows = m.select(Some(key.name), lo, lo + 3601, _ == key.host).sortBy(_.t)
        .map(p => Seq(Num(p.t.toDouble), Num(p.v)))
      Tmpl("range_hour", "range", "range", Seq("ts", "value"), "", None,
        Some((rangeIds(key), lo, lo + 3600)), rows)
    }
    // each template runs on one client; the fleet average has no FROM,
    // so the SQL translator cannot carry it and it stays on HTTP
    (Seq(t1, t4, t6, t9), Seq(t2, t3, t5, t7, t8))
  }

  def run(spark: SparkSession, a: Args, sessionS: Double): Result = {
    val keys = Gen.keys(Gen.Metrics, Hosts)
    val (start, end) = (Gen.Origin, Gen.Origin + Days * Gen.Day)
    // set-up, several times: the last build is the one served
    val builds = (1 to SetupReps).map { i =>
      val root = a.work.resolve(s"store$i")
      val b = Stores.build(spark, root, a.seed, keys, start, end, Step, Outages)
      if (i < SetupReps) Common.deleteTree(root)
      Common.log(f"store build $i: append ${b.appendS}%.2f s, skip index ${b.skipS}%.2f s, cells ${b.cellsS}%.2f s")
      b
    }
    val store = builds.last.store
    val model = Stores.model(a.seed, keys, start, end, Step, Outages)
    val rangeIds = store.scan().filter(col("series") === "cpu")
      .select(col("tags")("host"), col("series_id")).distinct().collect()
      .map(r => SeriesKey("cpu", r.getString(0)) -> r.getLong(1)).toMap
    val (httpList, pgList) = templates(model, a.seed, rangeIds)
    val missed = (httpList ++ pgList).filterNot(t => Check.selfCheck(t.want)).map(_.name)
    val selfCheckOk = missed.isEmpty
    if (!selfCheckOk) System.err.println(s"[perfbench] self-check failed for ${missed.mkString(", ")}")
    Common.log(s"model and templates ready (${model.size} points)")

    val api = new HttpApi(store)
    val pgs = new PgWireServer(store)
    val httpPort = api.start(0)
    val pgPort = pgs.start(0)
    val http = new HttpClient(httpPort)
    val pg = new PgClient(pgPort)
    val readers = new Readers(store)
    try {
      val (warm, _) = readers.loop(httpList, pgList, 0, 1, None, http, pg)
      Common.log("warm-up done")
      val c0 = Common.cpuSeconds()
      val t0 = Common.nowNs()
      val (plain, rate) = readers.loop(httpList, pgList, if (a.trace) a.seconds / 2.0 else a.seconds,
        1, None, http, pg)
      val wall = (Common.nowNs() - t0) / 1e9
      val cpu = Common.cpuSeconds() - c0
      Common.log(s"measured ${plain.size} reads in $wall s")
      var all = warm ++ plain

      val layer = if (!a.trace) Nil else {
        val tr = new Tracer(spark.sparkContext)
        tr.start()
        val (traced, _) = readers.loop(httpList, pgList, a.seconds / 2.0, 1, Some(tr), http, pg)
        val ex = java.util.concurrent.Executors.newFixedThreadPool(2)
        val direct = try {
          traced.groupBy(_.http).values.toSeq
            .map(ds => ex.submit(() => ds.flatMap(d => readers.direct(d, tr).map(d -> _))))
            .flatMap(_.get())
        } finally ex.shutdown()
        tr.stop()
        tr.write(a.work.resolve("trace.jsonl"))
        all = all ++ traced
        Readers.layerMetrics(tr, traced, plain, direct) ++ Seq(
          Metric("storage.build_append_s", Common.median(builds.map(_.appendS)), "s"),
          Metric("storage.build_skipindex_s", Common.median(builds.map(_.skipS)), "s"),
          Metric("storage.build_cells_s", Common.median(builds.map(_.cellsS)), "s"),
          Metric("storage.tier_bytes", Stores.tierBytes(store).toDouble, "bytes"),
          Metric("storage.files_per_hour", Stores.filesPerHour(store), "count"))
      }

      val e2e = Seq(
        Metric("setup_s", sessionS + Common.median(builds.map(_.totalS)), "s"),
        Metric("op_gmean_ms", Common.gmeanOfMedians(plain.groupBy(d => (d.t.name, d.http)).values.map(_.map(_.ms))), "ms"),
        Metric("ops_per_s", rate, "1/s"),
        Metric("cpu_ms_per_op", cpu * 1e3 / plain.size, "ms"))
      val detail = Readers.classMetrics(plain) ++ Seq(
        Metric("op_p50_ms", Common.median(plain.map(_.ms)), "ms"),
        Metric("peak_rss_mb", Common.peakRssMb(), "MB"),
        Metric("read_qps", rate, "queries/s"),
        Metric("bytes_per_point", (Stores.segmentBytes(store) + Stores.tierBytes(store)).toDouble / model.size, "bytes"),
        Metric("store_points", model.size.toDouble, "count"),
        Metric("segment_bytes", Stores.segmentBytes(store).toDouble, "bytes"),
        Metric("tier_bytes", Stores.tierBytes(store).toDouble, "bytes"))
      Result(all.size, all.count(!_.ok), if (a.trace) layer else e2e, detail, selfCheckOk)
    } finally {
      pg.close()
      pgs.stop()
      api.stop()
    }
  }
}
