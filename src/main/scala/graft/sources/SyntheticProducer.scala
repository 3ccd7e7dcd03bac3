package graft.sources

import java.nio.file.{Files, Paths}
import java.time.LocalDate

/** Synthetic producer — the reusable generator for the reference's
  * producer CONTRACT (cf. reference `procucer/slave/main.py:18-73`,
  * re-derived): per-(kw, region) daily interest series are only available
  * in overlapping windows, each arbitrarily re-normalized (Trends scales
  * every window to max=100), and the consumer stitches consecutive
  * windows with a Q factor — the mean of value ratios over the overlap
  * dates (zeros/non-finite excluded) — multiplying the new window onto
  * the old scale and dropping the overlap.
  *
  * Everything is seeded and pure: the same arguments always produce the
  * same series, windows, and event lines — the module feeds MainSpec-
  * style app drives and arbitrary-scale local load generation
  * (`ProduceSynthetic` main).
  */
object SyntheticProducer {

  /** One daily value: weekly + slow seasonality + deterministic jitter +
    * optional outbreak multiplier. */
  def dailyValue(kw: String, region: String, day: Int,
      outbreak: (String, Range) => Boolean = (_, _) => false,
      spike: Double = 8.0): Double = {
    val base = 40.0 + 10.0 * math.sin(day / 9.0 + kw.length) +
      3.0 * math.sin(day / 2.3 + region.hashCode % 7) +
      (region.hashCode % 11).toDouble / 3.0
    val mult = if (outbreak(region, day to day)) spike else 1.0
    math.max(1.0, base) * mult
  }

  /** The full daily series for (kw, region): day index → value. */
  def series(kw: String, region: String, days: Range,
      outbreak: (String, Range) => Boolean = (_, _) => false): Seq[(Int, Double)] =
    days.map(d => d -> dailyValue(kw, region, d, outbreak))

  /** Split into overlapping windows and re-normalize each to max=100 —
    * the information the producer DESTROYS and Q-stitching recovers. */
  def windowed(s: Seq[(Int, Double)], windowLen: Int, overlap: Int)
      : Seq[Seq[(Int, Double)]] = {
    require(overlap > 0 && overlap < windowLen)
    val step = windowLen - overlap
    val starts = s.indices.by(step).takeWhile(_ < s.length)
    starts.map { i =>
      val w = s.slice(i, math.min(i + windowLen, s.length))
      val mx = w.map(_._2).max
      w.map { case (d, v) => (d, v / mx * 100.0) }
    }.filter(_.nonEmpty)
  }

  /** Q factor between two windows over their shared days: mean of
    * old/new value ratios, excluding non-finite and zero ratios
    * (reference `normalize_by_correlation` semantics). */
  def qFactor(old: Seq[(Int, Double)], next: Seq[(Int, Double)]): Double = {
    val byDay = old.toMap
    val ratios = next.collect {
      case (d, v) if byDay.contains(d) && v != 0.0 && byDay(d) != 0.0 =>
        byDay(d) / v
    }.filter(r => !r.isNaN && !r.isInfinite && r != 0.0)
    require(ratios.nonEmpty, "windows must overlap on non-zero values")
    ratios.sum / ratios.size
  }

  /** Stitch windows back into one continuous series on the FIRST
    * window's scale: each next window is multiplied by its Q factor
    * against the stitched-so-far series, overlap days dropped. */
  def qStitch(windows: Seq[Seq[(Int, Double)]]): Seq[(Int, Double)] =
    windows.reduceLeft { (acc, next) =>
      val q = qFactor(acc, next)
      val accDays = acc.map(_._1).toSet
      acc ++ next.collect {
        case (d, v) if !accDays.contains(d) => (d, v * q)
      }
    }

  /** Producer-contract JSON event lines for a daily series: `perDay`
    * intra-day samples that sum to the day's value. */
  def eventLines(kw: String, region: String, s: Seq[(Int, Double)],
      epoch: LocalDate = LocalDate.of(2020, 1, 1), perDay: Int = 2): Seq[String] =
    s.flatMap { case (day, v) =>
      (0 until perDay).map { k =>
        val date = epoch.plusDays(day - 1)
        val hh = f"${(24 / perDay) * k + 6}%02d"
        f"""{"datetime":"${date}T$hh:00:00","kw":"$kw","region":"$region","value":${v / perDay}%.6f}"""
      }
    }

  /** Write a json-dir consumable by `graft.app.Main --json-dir`. */
  def writeJsonDir(out: String, terms: Seq[String], regions: Seq[String],
      days: Range, outbreak: (String, Range) => Boolean = (_, _) => false)
      : Unit = {
    Files.createDirectories(Paths.get(out))
    val lines = for {
      kw <- terms; region <- regions
      line <- eventLines(kw, region, series(kw, region, days, outbreak))
    } yield line
    Files.write(Paths.get(s"$out/events-${days.start}-${days.end}.json"),
      String.join("\n", lines: _*).getBytes("UTF-8"))
    ()
  }
}

/** CLI: `runMain graft.sources.ProduceSynthetic <outDir> [days] [terms,csv]` —
  * the local stand-in for the reference's producer service. */
object ProduceSynthetic {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft/produced")
    val days = 1 to args.lift(1).map(_.toInt).getOrElse(120)
    val terms = args.lift(2).map(_.split(",").toSeq)
      .getOrElse(Seq("Influenza", "Fever", "Cough"))
    SyntheticProducer.writeJsonDir(out, terms, Seq("US", "IL", "FR"), days)
    println(s"wrote $out for days ${days.start}..${days.end}")
  }
}
