package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Command-line arguments of one benchmark run. `work` is a private
  * scratch directory inside the checkout; `cpus` is the client/Spark
  * parallelism (nproc of the machine).
  */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: Path, cpus: Int, sfDir: String)

/** One metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload hands back to [[Main]]. `metrics` are the end-to-end
  * metrics (untraced run) or the per-layer metrics (traced run); `detail`
  * holds the per-path breakdowns printed on a line of their own.
  * `correct` is false when the answer checker itself is shown not to work
  * (its self-check missed a perturbed answer); a wrong answer to an
  * operation is a failed operation, not an incorrect run.
  */
final case class Result(attempted: Long, failed: Long, metrics: Seq[Metric],
    detail: Seq[Metric] = Seq.empty, correct: Boolean = true)

object Common {
  val mapper = new ObjectMapper()

  def nowNs(): Long = System.nanoTime()

  private val t0 = System.nanoTime()

  /** Progress note on stderr, stamped with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.1f s  $msg")

  /** Process CPU seconds (all JVM threads: server, clients and Spark). */
  def cpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  /** CPU time the host took from this machine so far (steal, all CPUs):
    * its growth over a run tells a noisy neighbour from a slow program.
    */
  def stealSeconds(): Double =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try f.getLines().next().trim.split("\\s+")(8).toDouble / 100.0 finally f.close()
    } catch { case _: Throwable => 0.0 }

  /** Peak resident set of this process in MB (VmHWM). */
  def peakRssMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => 0.0 }

  /** Nearest-rank quantile of unsorted samples; NaN when empty. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
  }

  /** Median; the mean of the middle two for an even count. */
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Geometric mean, over operation types, of each type's median latency:
    * every type weighs the same however many of it a run made, and a
    * change to one type moves the figure by its share.
    */
  def gmeanOfMedians(groups: Iterable[Iterable[Double]]): Double = {
    val logs = groups.map(g => math.log(median(g))).toSeq
    math.exp(logs.sum / logs.size)
  }

  /** Bytes of every regular file under `dir` (0 when absent). */
  def dirBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val w = Files.walk(dir)
      try {
        var n = 0L
        w.forEach(p => if (Files.isRegularFile(p)) n += Files.size(p))
        n
      } finally w.close()
    }

  /** Recursive delete; missing paths are fine. */
  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val w = Files.walk(dir)
      try w.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally w.close()
    }

  /** Relative closeness for values the program computes in floating point
    * in another summation order than the model.
    */
  def close(a: Double, b: Double, rel: Double = 1e-9): Boolean =
    if (a.isNaN || b.isNaN) a.isNaN && b.isNaN
    else math.abs(a - b) <= rel * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  def metricsJson(ms: Seq[Metric]): ObjectNode = {
    val o = mapper.createObjectNode()
    ms.foreach { m =>
      val n = o.putObject(m.name)
      n.put("value", m.value)
      n.put("unit", m.unit)
    }
    o
  }

  /** The session every workload runs in: `local[cpus]`, shuffle partitions
    * = cpus, the program's own session settings (including any
    * `SPARK_GRAFT_CONF` overlay), and every scratch path inside `work`.
    */
  def session(a: Args): SparkSession = {
    val tmp = a.work.resolve("spark-local")
    Files.createDirectories(tmp)
    val b = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp.toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
    val spark = graft.SparkEntry.configure(b).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The run's environment: parallelism, master, heap and the effective
    * session conf, with the `SPARK_GRAFT_CONF` overlay keys named apart.
    */
  def environment(spark: SparkSession, a: Args): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("nproc", a.cpus)
    o.put("spark_master", spark.sparkContext.master)
    o.put("driver_heap_mb", Runtime.getRuntime.maxMemory / (1024 * 1024))
    o.put("java_version", System.getProperty("java.version"))
    o.put("spark_version", spark.version)
    val overlay = sys.env.getOrElse("SPARK_GRAFT_CONF", "")
    val keys = o.putArray("spark_graft_conf_keys")
    overlay.split(';').filter(_.contains('=')).foreach(kv => keys.add(kv.takeWhile(_ != '=').trim))
    val conf = o.putObject("session_conf")
    val all = mutable.TreeMap[String, String]() ++ spark.conf.getAll
    all.foreach { case (k, v) => conf.put(k, v) }
    o
  }

  def write(path: Path, s: String): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, s.getBytes("UTF-8"))
  }
}
