package perfbench

/** Per-layer figures from a traced run. Every figure is taken per timed
  * pass and reported as the median over the timed passes. */
final class Layers(
    val trace: Trace, jobs: Map[Int, Seq[Trace#Job]],
    val timed: Range, threads: Int) {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def spansOf(pass: Int, pred: Trace#Span => Boolean): Seq[Trace#Span] =
    trace.spans.toSeq.filter(s => s.pass == pass && pred(s))

  def jobsUnder(spans: Seq[Trace#Span]): Seq[Trace#Job] =
    spans.flatMap(s => trace.subtree(s.id)).distinct
      .flatMap(id => jobs.getOrElse(id, Nil))

  /** Median over timed passes of `f` applied to the pass's spans that
    * match `pred`. */
  def perPass(pred: Trace#Span => Boolean)(
      f: Seq[Trace#Span] => Double): Double =
    median(timed.map(p => f(spansOf(p, pred))))

  def seconds(pred: Trace#Span => Boolean): Double =
    perPass(pred)(_.map(trace.seconds).sum)

  def jobSum(pred: Trace#Span => Boolean)(g: Trace#Job => Double): Double =
    perPass(pred)(ss => jobsUnder(ss).map(g).sum)

  def spark(passWalls: Seq[Double]): Seq[(String, Double, String)] = {
    val pass = (s: Trace#Span) => s.layer == "pass"
    val slot = median(timed.zip(passWalls).map { case (p, wall) =>
      jobsUnder(spansOf(p, pass)).map(_.runMs).sum / 1e3 / (wall * threads)
    })
    Seq(
      ("spark.jobs", jobSum(pass)(_ => 1.0), "count"),
      ("spark.tasks", jobSum(pass)(_.tasks.toDouble), "count"),
      ("spark.task_cpu_s", jobSum(pass)(_.cpuNs / 1e9), "s"),
      ("spark.shuffle_write_bytes", jobSum(pass)(_.shuffleWrite.toDouble),
        "bytes"),
      ("spark.spill_bytes", jobSum(pass)(_.spill.toDouble), "bytes"),
      ("spark.peak_exec_mem_mb", perPass(pass)(ss =>
        (jobsUnder(ss).map(_.peakMem) :+ 0L).max / 1048576.0), "MB"),
      ("spark.slot_busy", slot, "ratio"))
  }
}
