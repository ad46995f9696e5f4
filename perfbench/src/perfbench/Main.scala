package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Benchmark driver. One JVM, one Spark session at local[cores], one
  * workload. Phases:
  *  1. set-up: session start, then seeded generation and input writing,
  *     repeated [[SetupReps]] times (`setup_s` = session + median rep);
  *  2. references, untimed;
  *  3. the cold pass (`cold_s`), then ⌈seconds / passSeconds⌉ warm
  *     passes (`items_per_s` is their median rate).
  * Times are steal-adjusted ([[Stopwatch]]).
  * With `--trace 1` the recorder is registered for the cold pass and for
  * half of the (at least 4) warm passes; the others run without it, which
  * gives `trace_overhead_pct`.
  *
  * Arguments: --workload NAME --seed N --seconds S --trace 0|1 --cores N
  * --work DIR --out FILE [--scale F] [--corrupt-reference], or
  * --selftest --cores N --work DIR --out FILE.
  */
object Main {
  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, work: File, out: File, scale: Double, corrupt: Boolean, selftest: Boolean)

  def parse(a: Array[String]): Args = {
    val m = mutable.Map[String, String]()
    var i = 0
    while (i < a.length) {
      val key = a(i).stripPrefix("--")
      if (key == "corrupt-reference" || key == "selftest") { m(key) = "1"; i += 1 }
      else { require(i + 1 < a.length, s"missing value for ${a(i)}"); m(key) = a(i + 1); i += 2 }
    }
    Args(m.getOrElse("workload", ""), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1",
      m("cores").toInt, new File(m("work")), new File(m("out")),
      m.getOrElse("scale", "1").toDouble, m.contains("corrupt-reference"), m.contains("selftest"))
  }

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def main(argv: Array[String]): Unit = {
    val sw = new Stopwatch
    val a = parse(argv)
    a.work.mkdirs()
    val spark = session(a.cores, a.work)
    val sessionS = sw.stop().seconds
    val code =
      try if (a.selftest) SelfTest.run(spark, a) else { bench(spark, a, sessionS); 0 }
      finally spark.stop()
    sys.exit(code)
  }

  private def bench(spark: SparkSession, a: Args, sessionS: Double): Unit = {
    val host = Host.start()
    val w = Workload(a.workload, a.scale)
    val input = new File(a.work, "input")
    val reps = (1 to SetupReps).map { _ =>
      val sw = new Stopwatch
      w.setup(spark, input, a.seed)
      sw.stop().seconds
    }
    w.reference(a.corrupt)

    val recorder = new Recorder
    val passes = mutable.ArrayBuffer[Pass]()
    val layers = mutable.ArrayBuffer[Map[String, Double]]()
    def runPass(traced: Boolean): Pass = {
      val rec = if (traced) Some(recorder) else None
      rec.foreach { r =>
        Recorder.drain(spark.sparkContext)
        r.start(spark)
      }
      val codegen0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val p = new Pass(spark, rec)
      w.run(p)
      rec.foreach { r =>
        Recorder.drain(spark.sparkContext)
        layers += Layers.of(p, r, w.items, a.cores,
          CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegen0)
        r.stop(spark)
      }
      passes += p
      // let the ContextCleaner reclaim the pass's dropped frames outside
      // the timed calls
      System.gc()
      Thread.sleep(300)
      p
    }

    // a fixed pass count for the given --seconds, not a timed loop: every
    // run of a workload then does the same work, whatever the host's speed.
    // Traced runs order their warm passes traced, untraced, untraced,
    // traced, so that warm-up drift cancels out of trace_overhead_pct.
    val warmPasses = math.max(if (a.trace) 4 else 1, math.ceil(a.seconds / w.passSeconds).toInt)
    val cold = runPass(a.trace)
    (0 until warmPasses).foreach(k => runPass(a.trace && (k % 4 == 0 || k % 4 == 3)))
    val warm = passes.drop(1).toSeq
    def ips(ps: Seq[Pass]) = median(ps.map(p => w.items / p.seconds))

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", sessionS + median(reps), "s"),
        ("cold_s", cold.seconds, "s"),
        ("items_per_s", ips(warm), "1/s"),
        ("peak_rss_mb", Host.peakRssMb(), "MB"))
      else {
        val tracedIps = ips(warm.filter(_.traced))
        val plainIps = ips(warm.filterNot(_.traced))
        Layers.report(layers.head, layers.drop(1).toSeq) :+
          (("trace_overhead_pct", 100.0 * (plainIps - tracedIps) / plainIps, "%"))
      }

    val failures = passes.flatMap(_.failures)
    val diag = Json.obj(Seq(
      "workload" -> Json.str(w.name), "seed" -> a.seed.toString,
      "items_per_pass" -> w.items.toString, "warm_passes" -> warm.size.toString,
      "digest" -> Json.str(f"${cold.digest}%016x"),
      "digests_agree" -> passes.forall(_.digest == cold.digest).toString,
      "setup_reps_s" -> reps.mkString("[", ",", "]"),
      "pass_wall_s" -> passes.map(_.ms / 1000).mkString("[", ",", "]"),
      "pass_s" -> passes.map(_.seconds).mkString("[", ",", "]"),
      "host" -> host.finish(),
      "failures" -> failures.take(10).map(Json.str).mkString("[", ",", "]")))
    val result = Json.obj(Seq(
      "correct" -> failures.isEmpty.toString,
      "attempted" -> passes.map(_.attempted).sum.toString,
      "failed" -> passes.map(_.failed).sum.toString,
      "metrics" -> Json.obj(metrics.map { case (name, value, unit) =>
        name -> Json.obj(Seq("value" -> Json.num(value), "unit" -> Json.str(unit)))
      })))
    val out = new PrintWriter(a.out, "UTF-8")
    try { out.println(diag); out.println(result) } finally out.close()
  }
}

/** Host noise around a run, reported beside the metrics and never gated:
  * 1-minute load average at start and end, hypervisor steal share of CPU
  * time over the run (from /proc/stat), and JVM GC time.
  */
final class Host private (load0: Double, cpu0: Host.Cpu, gc0: Long) {
  def finish(): String = {
    val cpu1 = Host.cpu()
    val steal = if (cpu0.total < 0 || cpu1.total <= cpu0.total) -1.0
      else 100.0 * (cpu1.steal - cpu0.steal) / (cpu1.total - cpu0.total)
    Json.obj(Seq("loadavg_start" -> Json.num(load0), "loadavg_end" -> Json.num(Host.loadAvg()),
      "steal_pct" -> Json.num(steal), "gc_ms" -> (Pass.gcMs() - gc0).toString))
  }
}

object Host {
  def start(): Host = new Host(loadAvg(), cpu(), Pass.gcMs())

  private def read(path: String): String =
    try new String(java.nio.file.Files.readAllBytes(new File(path).toPath))
    catch { case _: Exception => "" }

  def loadAvg(): Double = read("/proc/loadavg").split(" ").headOption
    .flatMap(_.toDoubleOption).getOrElse(-1.0)

  /** Jiffies of the aggregate cpu line: stolen, busy (user, nice, system,
    * irq, softirq and steal: time the vCPUs wanted to run) and total.
    */
  final case class Cpu(steal: Long, busy: Long, total: Long)

  def cpu(): Cpu = {
    val f = read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.empty[Long])
    if (f.length > 7) Cpu(f(7), f(0) + f(1) + f(2) + f(5) + f(6) + f(7), f.sum)
    else Cpu(-1L, -1L, -1L)
  }

  /** The JVM's peak resident set (VmHWM) in MB. */
  def peakRssMb(): Double = read("/proc/self/status").linesIterator
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
}

/** Wall time with the hypervisor's steal taken out: the elapsed time times
  * one minus the share of busy vCPU time that was stolen meanwhile. On a
  * shared host this keeps another tenant's load from reading as a change
  * in the program; the raw wall time is kept beside it.
  */
final class Stopwatch {
  private val t0 = System.nanoTime()
  private val c0 = Host.cpu()
  var wallS = 0.0
  var stolenShare = 0.0

  def stop(): Stopwatch = {
    wallS = (System.nanoTime() - t0) / 1e9
    val c1 = Host.cpu()
    val busy = c1.busy - c0.busy
    stolenShare = if (c0.steal < 0 || busy <= 0) 0.0 else (c1.steal - c0.steal).toDouble / busy
    this
  }

  def seconds: Double = wallS * (1 - stolenShare)
}

/** Just enough JSON writing for the benchmark's two output lines. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
