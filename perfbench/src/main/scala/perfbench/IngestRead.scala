package perfbench

import graft.api.HttpApi
import graft.storage.{Maintenance, SeriesStore}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `ingest_and_read`: one closed-loop HTTP client writes NDJSON batches to
  * `/api/v1/ingest` with time advancing, reads the freshest day and a
  * sealed day after every batch, and compacts the touched hours every
  * [[IngestRead.BatchesPerRound]] batches. See README.md.
  */
object IngestRead {
  val Hosts = 4
  val Metrics = Seq("cpu", "mem")
  val BaseDays = 2
  val BaseStep = 60
  /** Seconds of time one batch covers, and the spacing of its points. */
  val Window = 500L
  val LiveStep = 2L
  /** Points of earlier batches re-sent, with new values, by every second batch. */
  val Resend = 400
  val BatchesPerRound = 2
  val SetupReps = 2

  /** One operation: `kind` is ingest, append (traced twin), compact,
    * verify or the read's route class; `name` tells the reads apart.
    */
  private final case class Op(kind: String, ms: Double, ok: Boolean, op: Long, points: Int = 0,
      bytes: Int = 0, name: String = "")

  def run(spark: SparkSession, a: Args, sessionS: Double): Result = {
    val keys = Gen.keys(Metrics, Hosts)
    val (start, live) = (Gen.Origin, Gen.Origin + BaseDays * Gen.Day)
    val builds = (1 to SetupReps).map { i =>
      val root = a.work.resolve(s"store$i")
      val b = Stores.build(spark, root, a.seed, keys, start, live, BaseStep, outages = 1)
      if (i < SetupReps) Common.deleteTree(root)
      Common.log(f"store build $i: append ${b.appendS}%.2f s, skip index ${b.skipS}%.2f s, cells ${b.cellsS}%.2f s")
      b
    }
    val store = builds.last.store
    // the traced run appends every batch a second time, directly, into a twin
    val twin = if (a.trace) Some(Stores.build(spark, a.work.resolve("twin"), a.seed, keys, start, live,
      BaseStep, outages = 1).store) else None
    val model = Stores.model(a.seed, keys, start, live, BaseStep, outages = 1)

    val rnd = new scala.util.Random(a.seed ^ 0x1a57L)
    val levels = keys.map(k => k -> (20.0 + 60.0 * rnd.nextDouble())).toMap
    var batchNo = 0
    val acked = mutable.ArrayBuffer[Pt]() // the last two batches' new points, for re-sending
    val touched = mutable.Set[Long]()

    /** The next batch: every series' points over the next window, plus on
      * every third batch [[Resend]] earlier points with new values.
      */
    def nextBatch(): Seq[Pt] = {
      batchNo += 1
      val lo = live + (batchNo - 1) * Window
      val fresh = for (k <- keys; t <- lo until lo + Window by LiveStep)
        yield Pt(k, t, levels(k) + 3.0 * rnd.nextGaussian(), batchNo)
      val again = if (batchNo % 2 != 0) Nil else
        rnd.shuffle(acked.toSeq).take(Resend).map(p => p.copy(v = p.v + 1.0 + rnd.nextDouble(), ver = batchNo))
      acked ++= fresh
      if (acked.size > 2 * fresh.size) acked.remove(0, acked.size - 2 * fresh.size)
      fresh ++ again
    }

    def ndjson(ps: Seq[Pt]): String = ps.map { p =>
      s"""{"series":"${p.key.name}","ts":${p.t},"value":${p.v},"tags":{"host":"${p.key.host}"}}"""
    }.mkString("\n")

    val sealedDay = start + rnd.nextInt(BaseDays) * Gen.Day
    def reads(lo: Long, hi: Long): Seq[Tmpl] = {
      val day = Model.bucket(lo, Gen.Day)
      val fresh = model.select(Some("cpu"), day, day + Gen.Day)
      val win = model.select(Some("mem"), lo, hi)
      val sealedPts = model.select(Some("cpu"), sealedDay, sealedDay + Gen.Day)
      Seq(
        Tmpl("fresh_day", "served", "served:cells:td", Seq("av", "n", "s"),
          s"select avg(value) as av, count() as n, sum(value) as s from cpu where time >= $day and time < ${day + Gen.Day}",
          None, None, Seq(Seq(Num(Model.avg(fresh)), Num(fresh.size.toDouble), Num(Model.sum(fresh))))),
        Tmpl("fresh_window", "scan", "raw", Seq("n", "s", "mx"),
          s"select count() as n, sum(value) as s, max(value) as mx from mem where time >= $lo and time < $hi",
          None, None, Seq(Seq(Num(win.size.toDouble), if (win.isEmpty) Null else Num(Model.sum(win)),
            if (win.isEmpty) Null else Num(win.map(_.v).max)))),
        Tmpl("sealed_day_hosts", "served", "served:cells:tdtag", Seq("h", "p95", "n"),
          s"select tag.host as h, percentile_approx(value, 0.95) as p95, count() as n from cpu " +
            s"where time >= $sealedDay and time < ${sealedDay + Gen.Day} group by tag.host order by h",
          None, None, sealedPts.groupBy(_.key.host).toSeq.sortBy(_._1).map { case (h, g) =>
            Seq(Str(h), Quant(Model.sortedValues(g), 0.95), Num(g.size.toDouble))
          }))
    }

    val api = new HttpApi(store)
    val port = api.start(0)
    val http = new HttpClient(port)
    val readers = new Readers(store)
    var selfCheckOk = true

    def ingestOne(tr: Option[Tracer]): Seq[Op] = {
      val ps = nextBatch()
      val body = ndjson(ps)
      val op = tr.map(_.newOp()).getOrElse(0L)
      val t0 = Common.nowNs()
      val res = try tr.fold(http.ingest(body))(t => t.inOp(op)(t.span("api.ingest")(http.ingest(body))))
        catch { case e: Throwable => Left(e.toString) }
      val ms = (Common.nowNs() - t0) / 1e6
      val ok = res == Right(ps.size.toLong)
      if (!ok) System.err.println(s"[perfbench] ingest batch $batchNo: $res")
      else {
        ps.foreach(model.add)
        ps.foreach(p => touched += Model.bucket(p.t, 3600))
      }
      val direct = for (t <- tr; tw <- twin) yield {
        val dop = t.newOp()
        val df = spark.createDataFrame(
          ps.map(p => Row(p.key.name, Map("host" -> p.key.host), p.t, p.v)).asJava, Stores.InputSchema)
        t.inOp(dop)(t.span("storage.append")(tw.append(df)))
        Op("append", 0, ok = true, dop, ps.size, body.length)
      }
      val lo = live + (batchNo - 1) * Window
      val checks = reads(lo, lo + Window)
      if (batchNo == 1) selfCheckOk = checks.forall(t => Check.selfCheck(t.want))
      val rs = checks.map { t =>
        val d = readers.exec(Left(http), t, tr)
        Op(d.t.cls, d.ms, d.ok, d.op, name = d.t.name)
      }
      Seq(Op("ingest", ms, ok, op, ps.size, body.length)) ++ direct ++ rs
    }

    def compact(tr: Option[Tracer]): Op = {
      val hours = touched.toSeq.sorted
      val op = tr.map(_.newOp()).getOrElse(0L)
      val t0 = Common.nowNs()
      val ok = try {
        tr.fold(Maintenance.compactPartitions(store, hours))(t =>
          t.inOp(op)(t.span("storage.compact")(Maintenance.compactPartitions(store, hours))))
        model.compact(hours.toSet)
        touched.clear()
        true
      } catch { case e: Throwable => System.err.println(s"[perfbench] compaction: $e"); false }
      Op("compact", (Common.nowNs() - t0) / 1e6, ok, op)
    }

    /** Whole rounds until `budgetS` has passed (at least one). */
    def loop(budgetS: Double, tr: Option[Tracer]): (Seq[Op], Double) = {
      val t0 = Common.nowNs()
      val out = mutable.ArrayBuffer[Op]()
      var rounds = 0
      while (rounds == 0 || (Common.nowNs() - t0) / 1e9 < budgetS) {
        (1 to BatchesPerRound).foreach(_ => out ++= ingestOne(tr))
        out += compact(tr)
        rounds += 1
      }
      (out.toSeq, (Common.nowNs() - t0) / 1e9)
    }

    try {
      // no warm-up: the set-up builds ran the same append and tier code
      val c0 = Common.cpuSeconds()
      val (plain, wall) = loop(if (a.trace) a.seconds / 2.0 else a.seconds, None)
      val cpu = Common.cpuSeconds() - c0
      Common.log(s"measured ${plain.size} operations in $wall s")
      var all = plain

      val layer = if (!a.trace) Nil else {
        val tr = new Tracer(spark.sparkContext)
        tr.start()
        val (traced, _) = loop(a.seconds / 2.0, Some(tr))
        tr.stop()
        tr.write(a.work.resolve("trace.jsonl"))
        all = all ++ traced.filter(_.kind != "append")
        val appends = traced.filter(_.kind == "append")
        val compactions = traced.filter(_.kind == "compact")
        val ingestRt = Common.median(traced.filter(_.kind == "ingest").map(_.ms))
        val appendMs = Common.median(tr.perOp("storage.append"))
        val written = Tracer.sumCount(tr, (appends ++ compactions).map(_.op))(_.bytesWritten.toDouble)
        Seq(
          Metric("api.ingest.overhead_ms", ingestRt - appendMs, "ms"),
          Metric("storage.append_ms", appendMs, "ms"),
          Metric("storage.append_jobs", Tracer.medianCount(tr, appends.map(_.op))(_.jobs.toDouble), "count"),
          Metric("storage.bytes_written_per_user_byte", written / appends.map(_.bytes.toDouble).sum, "ratio"),
          Metric("storage.compact_ms", Common.median(tr.perOp("storage.compact")), "ms"),
          Metric("storage.compact_bytes_rewritten",
            Tracer.medianCount(tr, compactions.map(_.op))(_.bytesWritten.toDouble), "bytes"),
          Metric("storage.build_append_s", Common.median(builds.map(_.appendS)), "s"),
          Metric("storage.build_skipindex_s", Common.median(builds.map(_.skipS)), "s"),
          Metric("storage.build_cells_s", Common.median(builds.map(_.cellsS)), "s"),
          Metric("trace.overhead_pct", (Common.median(traced.filter(_.kind != "append").map(_.ms)) /
            Common.median(plain.map(_.ms)) - 1.0) * 100, "%"))
      }

      // the segment files one hour accumulates before compaction: ingest one
      // more round's batches without compacting, then count
      val filesPerHour = if (!a.trace) Nil else {
        (1 to BatchesPerRound).foreach(_ => all ++= ingestOne(None))
        Seq(Metric("storage.files_per_hour", Stores.filesPerHour(store, touched.toSet), "count"))
      }

      // every acknowledged point readable, last-wins after a final compaction
      val finalCheck = {
        val c = compact(None)
        val got = store.scan().filter(col("time") >= live)
          .select(col("series"), col("tags")("host"), col("time"), col("value")).collect()
          .map(r => (SeriesKey(r.getString(0), r.getString(1)), r.getLong(2)) -> r.getDouble(3))
        val want = model.select(None, live, Long.MaxValue).map(p => (p.key, p.t) -> p.v)
        val ok = c.ok && got.length == want.size && got.toMap == want.toMap
        if (!ok) System.err.println(s"[perfbench] final read-back: ${got.length} rows, expected ${want.size}")
        Op("verify", 0, ok, 0L)
      }
      all = all :+ finalCheck

      val bytesPerPoint = (Stores.segmentBytes(store) + Stores.tierBytes(store)).toDouble / model.size
      val ingests = plain.filter(_.kind == "ingest")
      val e2e = Seq(
        Metric("setup_s", sessionS + Common.median(builds.map(_.totalS)), "s"),
        Metric("op_gmean_ms", Common.gmeanOfMedians(plain.groupBy(o => (o.kind, o.name)).values.map(_.map(_.ms))), "ms"),
        Metric("ops_per_s", plain.size / wall, "1/s"),
        Metric("cpu_ms_per_op", cpu * 1e3 / plain.size, "ms"))
      val detail = Seq(
        Metric("op_p50_ms", Common.median(plain.map(_.ms)), "ms"),
        Metric("peak_rss_mb", Common.peakRssMb(), "MB"),
        Metric("ingest_points_per_s", ingests.map(_.points).sum / wall, "points/s"),
        Metric("ingest_p50_ms", Common.median(ingests.map(_.ms)), "ms"),
        Metric("compact_p50_ms", Common.median(plain.filter(_.kind == "compact").map(_.ms)), "ms"),
        Metric("served_p50_ms", Common.median(plain.filter(_.kind == "served").map(_.ms)), "ms"),
        Metric("scan_p50_ms", Common.median(plain.filter(_.kind == "scan").map(_.ms)), "ms"),
        Metric("bytes_per_point", bytesPerPoint, "bytes"),
        Metric("batches", ingests.size.toDouble, "count"),
        Metric("store_points", model.size.toDouble, "count"))
      val layerAll = layer ++ filesPerHour ++
        (if (a.trace) Seq(Metric("storage.tier_bytes", Stores.tierBytes(store).toDouble, "bytes")) else Nil)
      Result(all.size, all.count(!_.ok), if (a.trace) layerAll else e2e, detail, selfCheckOk)
    } finally api.stop()
  }
}
