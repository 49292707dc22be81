package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM: set-up (repeated, median kept), one
  * cold pass, untimed warm-up passes, then timed passes for `--seconds`.
  * Writes `result.json` into `--dir` for run.py, which adds the DuckDB
  * checks and prints the final line.
  *
  * {{{
  * perfbench.Main run --workload W --seed N --seconds S --trace 0|1 --dir RUN_DIR
  * }}}
  */
object Main {
  /** Spark task threads: a constant of the benchmark, below the host's
    * core count, never read from the environment. */
  val Threads = 2
  val SetupReps = 3
  /** After the warm-up passes the run waits until the checks of the
    * cold output have finished, so they never overlap a timed pass. */
  val MaxCheckWaitSeconds = 90.0

  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect {
      case Array(k, v) => k.stripPrefix("--") -> v
    }.toMap
    if (args.headOption.contains("run")) run(opts)
    else {
      System.err.println("usage: perfbench.Main run --workload W ...")
      sys.exit(2)
    }
  }

  private def cpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private val ClockTicks = sys.props.getOrElse("perfbench.clk_tck", "100").toDouble

  /** CPU seconds of the JIT compiler threads so far, from
    * /proc/self/task. run.py starts the JVM with a fixed set of compiler
    * threads, so none ends and takes its time with it. */
  private def jitThreadsCpuS(): Double = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles())
      .getOrElse(Array.empty[java.io.File])
    tasks.iterator.map { t =>
      try {
        val comm = new String(java.nio.file.Files.readAllBytes(
          new java.io.File(t, "comm").toPath), "UTF-8").trim
        if (comm.startsWith("C1 Compiler") || comm.startsWith("C2 Compiler")) {
          val st = new String(java.nio.file.Files.readAllBytes(
            new java.io.File(t, "stat").toPath), "UTF-8")
          val f = st.substring(st.lastIndexOf(')') + 2).split(" ")
          f(11).toLong + f(12).toLong // utime, stime
        } else 0L
      } catch { case _: java.io.IOException => 0L }
    }.sum / ClockTicks
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def run(opts: Map[String, String]): Unit = {
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traceOn = opts.getOrElse("trace", "0") == "1"
    val dir = opts("dir")

    val spark = graft.Sessions.local(Threads.toString, "perfbench")
    val sessionReady = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val trace = new Trace(spark.sparkContext, traceOn)
    val ctx = Ctx(spark, trace, seed, dir)
    val w: Workload = workload match {
      case "lifecycle" => new Lifecycle(ctx)
      case "curation" => new Curation(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    println(s"# workload=$workload seed=$seed master=${spark.sparkContext.master} " +
      s"threads=$Threads heap_mb=${Runtime.getRuntime.maxMemory / (1 << 20)} " +
      s"trace=${if (traceOn) 1 else 0}")

    val setupTimes = (1 to SetupReps).map { i =>
      val t0 = System.nanoTime()
      trace.span(s"setup_$i", "setup")(w.setup(s"$dir/setup_$i"))
      (System.nanoTime() - t0) / 1e9
    }
    def gcMs(): Long = {
      import scala.jdk.CollectionConverters._
      ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum
    }

    /** `cpu` leaves out the JIT compiler threads, reported as `jit`. */
    final case class PassTime(wall: Double, cpu: Double, gc: Double, jit: Double)
    val ops = mutable.ArrayBuffer.empty[(Int, Op)]
    def onePass(p: Int): PassTime = {
      trace.pass = p
      val c0 = cpuNs(); val g0 = gcMs(); val j0 = jitThreadsCpuS()
      val t0 = System.nanoTime()
      val res = trace.span(s"pass_$p", "pass")(w.pass(p, s"$dir/pass_$p"))
      val jitS = jitThreadsCpuS() - j0
      val pt = PassTime((System.nanoTime() - t0) / 1e9,
        (cpuNs() - c0) / 1e9 - jitS, (gcMs() - g0) / 1e3, jitS)
      res.foreach(o => ops += ((p, o)))
      if (p > 0) w.cleanup(s"$dir/pass_$p")
      System.err.println(f"[perfbench] pass $p wall=${pt.wall}%.3f s " +
        f"cpu=${pt.cpu}%.3f s jit=${pt.jit}%.3f s gc=${pt.gc}%.3f s failed=${res.count(!_.ok)}")
      pt
    }

    val cold = onePass(0)
    val jitCold = jitThreadsCpuS()
    // The checks of the cold output run during the warm-up passes: the
    // workload's own on a thread of this JVM, the DuckDB ones in run.py.
    val ownChecks = scala.concurrent.Future(w.check(0))(
      scala.concurrent.ExecutionContext.global)
    var p = 1
    val checks = java.nio.file.Paths.get(s"$dir/checks.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/checks.tmp"),
      w.pythonChecks.mkString("[", ",", "]").getBytes("UTF-8"))
    java.nio.file.Files.move(java.nio.file.Paths.get(s"$dir/checks.tmp"), checks,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    while (p <= w.warmupPasses) { onePass(p); p += 1 }
    val checked = new java.io.File(s"$dir/checks.done")
    val wait0 = System.nanoTime()
    while (!checked.exists() &&
        (System.nanoTime() - wait0) / 1e9 < MaxCheckWaitSeconds)
      Thread.sleep(100)
    // A check of the cold output that fails fails every pass of that
    // operation: each later pass matched the cold output's digest.
    val checkFailed = scala.concurrent.Await.result(ownChecks,
      scala.concurrent.duration.Duration(MaxCheckWaitSeconds.toLong, "s")).filter(!_.ok)
    checkFailed.foreach(o =>
      System.err.println(s"[perfbench] CHECK FAILED ${o.name}: ${o.detail}"))
    System.err.println(f"[perfbench] checks waited ${(System.nanoTime() - wait0) / 1e9}%.3f s")
    val firstTimed = p
    val timed = mutable.ArrayBuffer.empty[PassTime]
    val timed0 = System.nanoTime()
    while (timed.size < w.minTimedPasses ||
        (System.nanoTime() - timed0) / 1e9 < seconds) {
      timed += onePass(p); p += 1
    }
    val rss = peakRssMb()
    val setupS = median(setupTimes)
    val wallS = median(timed.map(_.wall).toSeq)

    val metrics: Seq[(String, Double, String)] =
      if (!traceOn) Seq(
        ("cpu_s", median(timed.map(_.cpu).toSeq), "s"),
        ("setup_s", setupS, "s"))
      else {
        val jobs = trace.finish()
        trace.write(s"$dir/spans.jsonl")
        val layers = new Layers(trace, jobs, firstTimed until p, Threads)
        // wall times moved a quarter or more between runs on a shared
        // host, and peak RSS a tenth, so they are per-layer figures
        // (README.md, "Metrics")
        Seq(("wall_s", wallS, "s"), ("first_pass_s", cold.wall, "s"),
          ("session_s", sessionReady, "s"), ("peak_rss_mb", rss, "MB")) ++
          Kernels.measure(spark, trace) ++
          layers.spark(timed.map(_.wall).toSeq) ++
          Seq(("jvm.cold_jit_s", jitCold, "s"),
            ("jvm.jit_s", median(timed.map(_.jit).toSeq), "s"),
            ("jvm.gc_s", median(timed.map(_.gc).toSeq), "s")) ++
          Lifecycle.layerMetrics(layers, w) ++
          Curation.layerMetrics(layers, w)
      }
    System.err.println(f"[perfbench] setup reps=${setupTimes.mkString(",")} " +
      f"session=$sessionReady%.3f " +
      f"uptime=${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.3f timed_passes=${timed.size} wall_s=$wallS%.4f")

    ops.filter(!_._2.ok).take(20).foreach { case (pp, o) =>
      System.err.println(s"[perfbench] FAILED pass $pp ${o.name}: ${o.detail}")
    }
    val json = new StringBuilder("{")
    json ++= "\"ops\":{" + ops.groupBy(_._2.name).map { case (n, os) =>
      s"${Json.str(n)}:[${os.size},${os.count(!_._2.ok)}]"
    }.mkString(",") + "},"
    json ++= "\"check_failed\":[" +
      checkFailed.map(o => Json.str(o.name)).mkString(",") + "],"
    json ++= s""""threads":$Threads,"master":"${spark.sparkContext.master}","""
    json ++= s""""timed_passes":${timed.size},"wall_s":$wallS,"""
    json ++= "\"metrics\":{" + metrics.map { case (n, v, u) =>
      s""""$n":{"value":${if (v.isNaN || v.isInfinite) 0.0 else v},"unit":"$u"}"""
    }.mkString(",") + "}}"
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/result.json"),
      json.toString.getBytes("UTF-8"))
    spark.stop()
  }
}

final case class Ctx(spark: SparkSession, trace: Trace, seed: Long, dir: String)

/** One operation of a pass and whether its output checked out. */
final case class Op(name: String, ok: Boolean, detail: String = "")

trait Workload {
  /** Untimed passes after the cold pass. A fixed count keeps `attempted`
    * the same in every run. */
  def warmupPasses: Int
  /** Timed passes at least, however long `--seconds`. */
  def minTimedPasses: Int
  /** Make this workload's inputs under `dir`; the last call's inputs
    * are the ones the passes use. */
  def setup(dir: String): Unit
  /** Run every operation once, writing under `dir`. */
  def pass(p: Int, dir: String): Seq[Op]
  /** Checks of pass `p`'s outputs made after the pass, untimed. */
  def check(p: Int): Seq[Op] = Nil
  def cleanup(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  /** JSON objects describing the DuckDB checks run.py makes. */
  def pythonChecks: Seq[String] = Nil
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
