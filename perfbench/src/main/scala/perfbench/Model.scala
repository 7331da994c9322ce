package perfbench

import scala.collection.mutable

/** One generated series: its name, its `host` tag and its points. */
final case class SeriesKey(name: String, host: String)

/** A point as the model keeps it. `ver` orders re-sent versions of the same
  * (series, time): the later acknowledged batch has the higher `ver`.
  */
final case class Pt(key: SeriesKey, t: Long, v: Double, ver: Long)

/** Seeded point generator, plain Scala. The same (seed, series) always
  * gives the same points; the program only ever sees what this emits.
  */
object Gen {
  val Day = 86400L
  /** 2024-01-01T00:00:00Z — every generated day starts on a UTC day. */
  val Origin = 1704067200L
  val Metrics = Seq("cpu", "mem", "disk", "net")
  def hosts(n: Int): Seq[String] = (0 until n).map(i => s"h$i")

  def keys(metrics: Seq[String], nHosts: Int): Seq[SeriesKey] =
    for (m <- metrics; h <- hosts(nHosts)) yield SeriesKey(m, h)

  /** One point every `step` s (per-series phase) over [start, end), minus a
    * few seeded outages of one to four hours — the gaps `fill` fills.
    */
  def series(seed: Long, idx: Int, key: SeriesKey, start: Long, end: Long, step: Int,
      outages: Int): (Array[Long], Array[Double]) = {
    val rnd = new scala.util.Random(seed * 1000003L + idx * 7919L + 17)
    val phase = rnd.nextInt(step)
    val gaps = Array.fill(outages) {
      val g0 = start + (rnd.nextDouble() * (end - start - 4 * 3600)).toLong
      (g0, g0 + 3600L * (1 + rnd.nextInt(4)))
    }
    val level = 20.0 + 60.0 * rnd.nextDouble()
    val amp = 5.0 + 10.0 * rnd.nextDouble()
    val ts = mutable.ArrayBuilder.make[Long]
    val vs = mutable.ArrayBuilder.make[Double]
    var t = start + phase
    while (t < end) {
      if (!gaps.exists { case (a, b) => t >= a && t < b }) {
        ts += t
        vs += level + amp * math.sin(2 * math.Pi * (t % Day) / Day) + 3.0 * rnd.nextGaussian()
      }
      t += step
    }
    (ts.result(), vs.result())
  }
}

/** An expected result cell. */
sealed trait Cell
/** A number the program computes exactly (up to summation order). */
final case class Num(x: Double) extends Cell
/** A `percentile_approx(q)` over `sorted`: checked against the t-digest
  * rank-error contract (merged digests, |rank - q| < 0.02, FunctionsSpec).
  */
final case class Quant(sorted: Array[Double], q: Double) extends Cell
final case class Str(s: String) extends Cell
case object Null extends Cell

/** Compares a response with the model's expected rows. */
object Check {
  val RankError = 0.02

  /** None when `got` matches, else the first difference. */
  def diff(want: Seq[Seq[Cell]], got: Seq[Seq[Any]]): Option[String] = {
    if (want.length != got.length) return Some(s"rows: want ${want.length}, got ${got.length}")
    want.zip(got).zipWithIndex.foreach { case ((w, g), r) =>
      if (w.length != g.length) return Some(s"row $r: want ${w.length} columns, got ${g.length}")
      w.zip(g).zipWithIndex.foreach { case ((wc, gc), c) =>
        if (!cellOk(wc, gc)) return Some(s"row $r col $c: want ${show(wc)}, got $gc")
      }
    }
    None
  }

  private def num(g: Any): Option[Double] = g match {
    case d: Double => Some(d)
    case l: Long => Some(l.toDouble)
    case i: Int => Some(i.toDouble)
    case s: String => s.toDoubleOption
    case _ => None
  }

  private def cellOk(w: Cell, g: Any): Boolean = w match {
    case Null => g == null
    case Str(s) => g != null && g.toString == s
    case Num(x) => num(g).exists(Common.close(x, _))
    case Quant(sorted, q) => num(g).exists { est =>
      val n = sorted.length.toDouble
      val below = lowerBound(sorted, est) / n // share of values < est
      val atOrBelow = upperBound(sorted, est) / n // share of values <= est
      q >= below - RankError && q <= atOrBelow + RankError
    }
  }

  private def lowerBound(a: Array[Double], x: Double): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (a(m) < x) lo = m + 1 else hi = m }
    lo
  }

  private def upperBound(a: Array[Double], x: Double): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (a(m) <= x) lo = m + 1 else hi = m }
    lo
  }

  private def show(c: Cell): String = c match {
    case Quant(s, q) => s"quantile $q of ${s.length} values (~${s(math.min(s.length - 1, (q * s.length).toInt))})"
    case other => other.toString
  }

  /** The answer a correct program would give: exact numbers, the exact
    * quantile for a percentile cell.
    */
  def ideal(want: Seq[Seq[Cell]]): Seq[Seq[Any]] = want.map(_.map {
    case Num(x) => x
    case Quant(s, q) => s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
    case Str(s) => s
    case Null => null
  })

  /** The checker's self-check: the ideal answer must pass, and the same
    * answer with one value moved (or, with no value to move, one row
    * added) must be flagged.
    */
  def selfCheck(want: Seq[Seq[Cell]]): Boolean = {
    val good = ideal(want)
    val cellAt = want.iterator.zipWithIndex.flatMap { case (row, r) =>
      row.iterator.zipWithIndex.collect { case (Num(_) | Quant(_, _), c) => (r, c) }
    }.toSeq.headOption
    val bad = cellAt match {
      case Some((r, c)) => good.updated(r, good(r).updated(c, perturb(want(r)(c), good(r)(c))))
      case None => good :+ Seq(0.0)
    }
    diff(want, good).isEmpty && diff(want, bad).nonEmpty
  }

  private def perturb(w: Cell, g: Any): Any = (w, g) match {
    case (Quant(s, _), _) => s.last + (s.last - s.head) + 1.0 // far past every value
    case (_, d: Double) => d * 1.001 + 1.0
    case (_, other) => other
  }
}

/** The reference model: the points the program was given (or acknowledged)
  * and the expected answer of every read template, computed without Spark.
  */
final class Model {
  private val byKey = mutable.LinkedHashMap[SeriesKey, mutable.ArrayBuffer[Pt]]()

  def add(p: Pt): Unit = byKey.getOrElseUpdate(p.key, mutable.ArrayBuffer()) += p

  def addSeries(key: SeriesKey, ts: Array[Long], vs: Array[Double], ver: Long): Unit = {
    val buf = byKey.getOrElseUpdate(key, mutable.ArrayBuffer())
    var i = 0
    while (i < ts.length) { buf += Pt(key, ts(i), vs(i), ver); i += 1 }
  }

  def keys: Seq[SeriesKey] = byKey.keys.toSeq
  def size: Long = byKey.values.map(_.size.toLong).sum

  /** Compaction of `hours`: per (series, time) in those hours only the
    * version acknowledged last survives (`Maintenance.dedupLastWins`).
    */
  def compact(hours: Set[Long]): Unit =
    byKey.values.foreach { buf =>
      val (in, out) = buf.partition(p => hours.contains(p.t - Math.floorMod(p.t, 3600L)))
      val kept = in.groupBy(_.t).values.map(_.maxBy(_.ver))
      buf.clear(); buf ++= out; buf ++= kept
    }

  /** Points matching a selector and window [lo, hi). */
  def select(metric: Option[String], lo: Long, hi: Long,
      host: String => Boolean = _ => true, value: Double => Boolean = _ => true): Seq[Pt] =
    byKey.iterator.filter { case (k, _) => metric.forall(_ == k.name) && host(k.host) }
      .flatMap(_._2.iterator.filter(p => p.t >= lo && p.t < hi && value(p.v))).toSeq
}

object Model {
  def bucket(t: Long, step: Long): Long = Math.floorDiv(t, step) * step

  def sortedValues(ps: Seq[Pt]): Array[Double] = ps.map(_.v).toArray.sorted
  def avg(ps: Seq[Pt]): Double = ps.map(_.v).sum / ps.size
  def sum(ps: Seq[Pt]): Double = ps.map(_.v).sum

  /** sydraQL `delta`/`rate`: last minus first in (time, value) order; rate
    * divides by the time span, NULL under two points or zero span.
    */
  def deltaRate(ps: Seq[Pt]): (Cell, Cell) = {
    val ord = ps.sortBy(p => (p.t, p.v))
    val (f, l) = (ord.head, ord.last)
    val d = Num(l.v - f.v)
    val r = if (ord.size >= 2 && l.t > f.t) Num((l.v - f.v) / (l.t - f.t)) else Null
    (d, r)
  }
}
