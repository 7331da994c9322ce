package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

/** The benchmark's JVM entry point, started by `run.py`:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --cpus <n> --sf <dir>
  * }}}
  *
  * Prints, in order: an `env` line (parallelism, heap, effective session
  * conf), a `detail` line (the per-path breakdowns), and last the result
  * line `{"correct", "attempted", "failed", "metrics"}`. With `--trace 0`
  * the metrics are the end-to-end set; with `--trace 1` the per-layer set
  * of [[Main.LayerMetrics]], every name present (0 where the workload does
  * not reach that layer).
  */
object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_gmean_ms" -> "ms", "ops_per_s" -> "1/s", "cpu_ms_per_op" -> "ms")

  /** Every per-layer metric, in print order, with its unit. */
  lazy val LayerMetrics: Seq[(String, String)] = Seq(
    "api.http.overhead_ms" -> "ms", "api.pgwire.overhead_ms" -> "ms",
    "api.translate_us" -> "us", "api.ingest.overhead_ms" -> "ms",
    "sydraql.parse_us" -> "us", "sydraql.validate_us" -> "us",
    "sydraql.route_compile_ms" -> "ms",
    "sydraql.route.served" -> "count", "sydraql.route.hybrid" -> "count",
    "sydraql.route.raw" -> "count",
    "plan.optimize_ms" -> "ms", "plan.physical_ms" -> "ms",
    "exec.collect_ms" -> "ms", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.task_cpu_s" -> "s",
    "exec.shuffle_read_bytes" -> "bytes", "exec.shuffle_write_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes", "exec.gc_s" -> "s",
    "storage.records_read_per_row_returned" -> "ratio", "storage.bytes_read" -> "bytes",
    "storage.files_read" -> "count", "storage.append_ms" -> "ms",
    "storage.append_jobs" -> "count", "storage.bytes_written_per_user_byte" -> "ratio",
    "storage.compact_ms" -> "ms", "storage.compact_bytes_rewritten" -> "bytes",
    "storage.files_per_hour" -> "count", "storage.tier_bytes" -> "bytes",
    "storage.build_append_s" -> "s", "storage.build_skipindex_s" -> "s",
    "storage.build_cells_s" -> "s",
    "trace.overhead_pct" -> "%") ++
    HeadlineQueries.flatMap(q => Seq(s"batch.$q.wall_s" -> "s", s"batch.$q.cpu_s" -> "s"))

  /** The headline set (`SparkEntry.benchQueries` when the benchmark was
    * defined), pinned so the workload and its metric names stay fixed.
    */
  val HeadlineQueries: Seq[String] = Seq("q_agg_group", "q_pricing_summary", "q_topk",
    "q_join_broadcast", "q_join_3way", "q_ts_bucket_agg", "q_sql_bucket_avg", "q_pl_token_stats",
    "q_pl_ngram_jaccard", "q_pl_minhash_lsh", "q_ann_brute")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toInt,
      trace = need("trace") == "1",
      work = Paths.get(need("work")).toAbsolutePath,
      cpus = m.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      sfDir = m.getOrElse("sf", ""))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val workload: (org.apache.spark.sql.SparkSession, Args, Double) => Result = a.workload match {
      case "dashboard_read" => Dashboard.run
      case "ingest_and_read" => IngestRead.run
      case "batch_analytics" => Batch.run
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    Files.createDirectories(a.work)
    val spark = Common.session(a)
    // JVM start to a ready session: the part of set-up every workload pays
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val env = Common.mapper.createObjectNode()
    env.set("env", Common.environment(spark, a))
    val steal0 = Common.stealSeconds()
    val r = try workload(spark, a, sessionS) finally spark.stop()

    println(Common.mapper.writeValueAsString(env))
    val detail = Common.mapper.createObjectNode()
    detail.set("detail", Common.metricsJson(r.detail :+ Metric("steal_s", Common.stealSeconds() - steal0, "s")))
    println(Common.mapper.writeValueAsString(detail))

    val wanted = if (a.trace) LayerMetrics else EndToEnd
    val got = r.metrics.map(m => m.name -> m).toMap
    val unknown = got.keySet -- wanted.map(_._1)
    require(unknown.isEmpty, s"metrics outside the declared set: ${unknown.toSeq.sorted.mkString(", ")}")
    val metrics = wanted.map { case (n, u) =>
      got.get(n) match {
        case Some(m) =>
          require(m.unit == u, s"$n has unit ${m.unit}, declared $u")
          m
        case None if a.trace => Metric(n, 0.0, u) // layer not reached by this workload
        case None => throw new IllegalStateException(s"end-to-end metric $n was not measured")
      }
    }
    val out = Common.mapper.createObjectNode()
    out.put("correct", r.correct)
    out.put("attempted", r.attempted)
    out.put("failed", r.failed)
    out.set("metrics", Common.metricsJson(metrics))
    println(Common.mapper.writeValueAsString(out))
    System.out.flush()
    // the program's servers leave pool threads behind after stop()
    sys.exit(0)
  }
}
