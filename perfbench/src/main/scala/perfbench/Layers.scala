package perfbench

/** Per-layer metrics derived from a traced run's spans and Spark jobs. */
object Layers {

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  private def unionSeconds(jobs: Seq[JobRec]): Double =
    Tracer.unionNs(jobs.map(j => (j.startMs, j.endMs))) / 1e3

  /** A layer is the span-name prefix before the first dot. */
  def selfTimes(t: Tracer): Seq[(String, Double)] = {
    val byLayer = t.spans.groupBy(_.name.takeWhile(_ != '.'))
    Metrics.SelfTimed.map { l =>
      s"$l.self_s" -> byLayer.getOrElse(l, Nil).map(t.selfSeconds).sum
    }
  }

  /** The wave phase a job ran in, from the job description `runWave` sets
    * (`wave-<id> <phase>`); jobs outside a phase read as "other".
    */
  def phaseOf(j: JobRec): String =
    if (j.description.startsWith("wave-")) j.description.dropWhile(_ != ' ').trim
    else "other"

  /** Per-phase wall (union of the phase's job intervals), task time, job
    * count and shuffle write for one wave span.
    */
  def phases(t: Tracer, wave: Span): Map[String, (Double, Double, Int, Double)] =
    t.jobsOf(wave).groupBy(phaseOf).map { case (p, js) =>
      val st = t.stagesOf(js)
      p -> (unionSeconds(js), st.map(_.runMs).sum / 1e3, js.size,
        Stats.mb(st.map(_.shuffleWriteB).sum))
    }

  /** Medians over the waves; a phase's median is over the waves it ran in. */
  def waves(t: Tracer, waves: Seq[Span], cores: Int): Seq[(String, Double)] = {
    val per = waves.map(w => phases(t, w))
    val phaseMetrics = Metrics.Phases.flatMap { p =>
      val xs = per.flatMap(_.get(p))
      Seq(s"wave.$p.wall_s" -> med(xs.map(_._1)), s"wave.$p.task_s" -> med(xs.map(_._2)),
        s"wave.$p.jobs" -> med(xs.map(_._3.toDouble)),
        s"wave.$p.shuffle_write_mb" -> med(xs.map(_._4)))
    }
    val totals = waves.map { w =>
      val js = t.jobsOf(w)
      val st = t.stagesOf(js)
      val taskS = st.map(_.runMs).sum / 1e3
      (w.seconds - unionSeconds(js), js.size.toDouble, Stats.mb(st.map(_.spillB).sum),
        taskS / (w.seconds * cores))
    }
    phaseMetrics ++ Seq("wave.driver_gap_s" -> med(totals.map(_._1)),
      "wave.jobs" -> med(totals.map(_._2)), "wave.spill_mb" -> med(totals.map(_._3)),
      "wave.busy_frac" -> med(totals.map(_._4)))
  }

  /** Median per-phase wall over the waves, for the N→4N table. */
  def phaseWalls(t: Tracer, waves: Seq[Span]): Map[String, Double] = {
    val per = waves.map(w => phases(t, w))
    Metrics.Phases.map(p => p -> med(per.flatMap(_.get(p)).map(_._1))).toMap
  }

  /** Wall, task time, shuffle write, spill and task skew of `spans`. */
  def calls(t: Tracer, spans: Seq[Span]): (Double, Double, Double, Double, Double) = {
    val per = spans.map { s =>
      val st = t.stagesOf(t.jobsOf(s))
      val windowed = st.filter(_.windowed)
      (s.seconds, st.map(_.runMs).sum / 1e3, Stats.mb(st.map(_.shuffleWriteB).sum),
        Stats.mb(st.map(_.spillB).sum),
        if (windowed.isEmpty) 1.0 else windowed.map(_.skew).max)
    }
    (med(per.map(_._1)), med(per.map(_._2)), med(per.map(_._3)), med(per.map(_._4)),
      med(per.map(_._5)))
  }
}
