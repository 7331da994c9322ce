package perfbench

import graft.storage.{SeriesStore, SketchCells, SkipIndex}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import java.nio.file.Path

/** Builds a store from generated points through the program's own storage
  * API: `SeriesStore.append`, then the skip manifest (`SkipIndex.build`)
  * and the sketch-cell tiers (`SketchCells.build`, with a `host` tag tier).
  */
object Stores {
  final case class Built(store: SeriesStore, appendS: Double, skipS: Double, cellsS: Double) {
    def totalS: Double = appendS + skipS + cellsS
  }

  val InputSchema: StructType = StructType(Seq(
    StructField("series", StringType), StructField("tags", MapType(StringType, StringType)),
    StructField("time", LongType), StructField("value", DoubleType)))

  /** The points of `keys` over [start, end) as generated by [[Gen.series]],
    * made on the executors (the same code the model runs on the driver).
    */
  def points(spark: SparkSession, seed: Long, keys: Seq[SeriesKey], start: Long, end: Long,
      step: Int, outages: Int): org.apache.spark.sql.DataFrame = {
    val rdd = spark.sparkContext.parallelize(keys.zipWithIndex, keys.size).flatMap { case (k, i) =>
      val (ts, vs) = Gen.series(seed, i, k, start, end, step, outages)
      ts.indices.iterator.map(j => Row(k.name, Map("host" -> k.host), ts(j), vs(j)))
    }
    spark.createDataFrame(rdd, InputSchema)
  }

  def model(seed: Long, keys: Seq[SeriesKey], start: Long, end: Long, step: Int,
      outages: Int): Model = {
    val m = new Model
    keys.zipWithIndex.foreach { case (k, i) =>
      val (ts, vs) = Gen.series(seed, i, k, start, end, step, outages)
      m.addSeries(k, ts, vs, ver = 0L)
    }
    m
  }

  def build(spark: SparkSession, root: Path, seed: Long, keys: Seq[SeriesKey], start: Long,
      end: Long, step: Int, outages: Int): Built = {
    val store = new SeriesStore(spark, root.toString)
    def timed(f: => Unit): Double = { val t0 = Common.nowNs(); f; (Common.nowNs() - t0) / 1e9 }
    val appendS = timed(store.append(points(spark, seed, keys, start, end, step, outages)))
    val skipS = timed(SkipIndex.build(store, SkipIndex.dirFor(store)))
    val cellsS = timed(SketchCells.build(store, SketchCells.dirFor(store), groupTags = Seq("host")))
    Built(store, appendS, skipS, cellsS)
  }

  def segmentBytes(store: SeriesStore): Long = Common.dirBytes(Path.of(store.root, "segments"))

  def tierBytes(store: SeriesStore): Long =
    Common.dirBytes(Path.of(SkipIndex.dirFor(store))) + Common.dirBytes(Path.of(SketchCells.dirFor(store)))

  /** Median count of data files per hour partition, over `hours` (all
    * partitions when empty).
    */
  def filesPerHour(store: SeriesStore, hours: Set[Long] = Set.empty): Double = {
    val segs = Path.of(store.root, "segments").toFile
    val counts = Option(segs.listFiles()).toSeq.flatten.filter(_.getName.startsWith("hour_bucket="))
      .filter(d => hours.isEmpty || hours.contains(d.getName.stripPrefix("hour_bucket=").toLong))
      .map(d => d.listFiles().count(f => f.getName.startsWith("part-")).toDouble)
    if (counts.isEmpty) 0.0 else Common.median(counts)
  }
}
