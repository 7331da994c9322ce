package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `batch_analytics`: the headline queries ([[Main.HeadlineQueries]]) run
  * one after another in one session, each result collected.
  *
  * A round runs every headline query once, in registry order. The corpus
  * cache that `q_pl_ngram_jaccard` fills stays warm for `q_pl_minhash_lsh`
  * inside a round (the operator has always worked that way, and every
  * recorded headline reading includes it) and is cleared between rounds,
  * so each round does the same work.
  *
  * Checking: every execution's rows are reduced to an order-free digest
  * and compared with the first round's; the first round's rows are written
  * as parquet, and `run.py` compares them with each query's DuckDB oracle
  * (`SparkEntry.oracleSql`) after the JVM exits, outside the timed region.
  */
object Batch {
  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Canonical digest of a result: rows rendered and sorted. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  private final case class Exec(name: String, wallS: Double, cpuS: Double, ok: Boolean, op: Long)

  def run(spark: SparkSession, a: Args, sessionS: Double): Result = {
    val names = Main.HeadlineQueries
    val builders = graft.SparkEntry.queries
    val sf = a.sfDir

    // set-up: open every table (listing + footers + row counts), three times
    val loadS = (1 to 3).map { _ =>
      val t0 = Common.nowNs()
      Tables.foreach(t => spark.read.parquet(s"$sf/$t.parquet").count())
      (Common.nowNs() - t0) / 1e9
    }

    val tracer = new Tracer(spark.sparkContext)
    val first = mutable.Map[String, (String, Array[Row], StructType)]()
    val execs = mutable.ArrayBuffer[Exec]()

    def runOne(name: String, round: Int, traced: Boolean): Exec = {
      val op = if (traced) tracer.newOp() else 0L
      def go(): Exec = {
        val c0 = Common.cpuSeconds()
        val t0 = Common.nowNs()
        try {
          val rows =
            if (!traced) builders(name)(spark, sf).collect()
            else {
              val df = tracer.span("query.build")(builders(name)(spark, sf))
              tracer.span("plan.optimize")(df.queryExecution.optimizedPlan)
              tracer.span("plan.physical")(df.queryExecution.executedPlan)
              tracer.span("exec.collect")(df.collect())
            }
          // collected rows carry their schema; an empty result keeps none
          def schema = rows.headOption.map(_.schema)
            .getOrElse(builders(name)(spark, sf).schema)
          val wall = (Common.nowNs() - t0) / 1e9
          val cpu = Common.cpuSeconds() - c0
          val d = digest(rows)
          val ok = first.get(name) match {
            case None => first(name) = (d, rows, schema); true
            case Some((d0, _, _)) => d0 == d
          }
          if (!ok) System.err.println(s"[perfbench] $name round $round: result differs from round 1")
          Exec(name, wall, cpu, ok, op)
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] $name round $round failed: $e")
            Exec(name, (Common.nowNs() - t0) / 1e9, Common.cpuSeconds() - c0, ok = false, op)
        }
      }
      if (traced) tracer.inOp(op)(tracer.span("query")(go())) else go()
    }

    /** Whole rounds until `budgetS` has passed; at least one. */
    def rounds(budgetS: Double, traced: Boolean): (Seq[Exec], Double) = {
      val t0 = Common.nowNs()
      val out = mutable.ArrayBuffer[Exec]()
      var round = 0
      while (round == 0 || (Common.nowNs() - t0) / 1e9 < budgetS) {
        spark.catalog.clearCache()
        round += 1
        names.foreach(n => out += runOne(n, round, traced))
      }
      (out.toSeq, (Common.nowNs() - t0) / 1e9)
    }

    // the traced run compares an untraced and a traced round: warm the JVM
    // with one round first, or the comparison is cold against warm
    if (a.trace) execs ++= rounds(0, traced = false)._1
    val (plain, plainWall) = rounds(if (a.trace) a.seconds / 2.0 else a.seconds, traced = false)
    execs ++= plain
    val plainCpu = plain.map(_.cpuS).sum

    val layer: Seq[Metric] =
      if (!a.trace) Seq.empty
      else {
        tracer.start()
        val (traced, _) = rounds(a.seconds / 2.0, traced = true)
        tracer.stop()
        execs ++= traced
        tracer.write(a.work.resolve("trace.jsonl"))
        val ops = traced.map(_.op)
        def med(n: String) = Common.median(tracer.perOp(n))
        val overhead = Common.median(traced.map(_.wallS)) / Common.median(plain.map(_.wallS)) - 1.0
        Seq(
          Metric("plan.optimize_ms", med("plan.optimize"), "ms"),
          Metric("plan.physical_ms", med("plan.physical"), "ms"),
          Metric("exec.collect_ms", med("exec.collect"), "ms"),
          Metric("trace.overhead_pct", overhead * 100, "%")) ++
          Readers.execMetrics(tracer, ops) ++
          names.flatMap { n =>
            val mine = traced.filter(_.name == n)
            Seq(Metric(s"batch.$n.wall_s", Common.median(mine.map(_.wallS)), "s"),
              Metric(s"batch.$n.cpu_s", Common.median(mine.map(_.cpuS)), "s"))
          }
      }

    // the first round's rows, for the DuckDB oracle in run.py
    val out = a.work.resolve("results")
    first.foreach { case (name, (_, rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(out.resolve(name).toString)
    }
    val oracle = Common.mapper.createObjectNode()
    graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
      .foreach { case (k, v) => oracle.put(k, v) }
    Common.write(out.resolve("oracle_sql.json"), Common.mapper.writeValueAsString(oracle))
    val perQuery = Common.mapper.createObjectNode()
    names.foreach { n =>
      val mine = execs.filter(_.name == n)
      val o = perQuery.putObject(n)
      o.put("attempted", mine.size)
      o.put("failed", mine.count(!_.ok))
    }
    Common.write(out.resolve("executions.json"), Common.mapper.writeValueAsString(perQuery))

    val setupS = sessionS + Common.median(loadS)
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("op_gmean_ms", Common.gmeanOfMedians(plain.groupBy(_.name).values.map(_.map(_.wallS * 1e3))), "ms"),
      Metric("ops_per_s", plain.size / plainWall, "1/s"),
      Metric("cpu_ms_per_op", plainCpu * 1e3 / plain.size, "ms"))
    val detail = Seq(
      Metric("op_p50_ms", Common.median(plain.map(_.wallS * 1e3)), "ms"),
      Metric("peak_rss_mb", Common.peakRssMb(), "MB"),
      Metric("batch_wall_s", plainWall / (plain.size.toDouble / names.size), "s"),
      Metric("batch_cpu_s", plainCpu / (plain.size.toDouble / names.size), "s"),
      Metric("storage.table_load_s", Common.median(loadS), "s"))
    Result(execs.size, execs.count(!_.ok), if (a.trace) layer else e2e, detail)
  }
}
