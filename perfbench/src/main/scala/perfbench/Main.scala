package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** A workload: its seeded inputs (written once, untimed), the set-up it
  * needs before the first op (timed as `setup_s`, run several times into
  * fresh directories, the last one kept) and the closed loop it then runs
  * for the run's seconds. */
trait Workload {
  def writeInputs(dir: String): Unit
  def setUp(dir: String): Unit
  def loop(): Unit
  /** Bytes on disk of the workload's stores and indexes at the end of
    * the loop, per row they hold. */
  def stateBytesPerRow(): Double
}

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --result <file> [--spans <file>]`. Writes
  * the result object (see run.py for the contract) to `--result`. */
object Main {

  val Workloads: Seq[String] = Seq("dashboard", "batch")

  /** The modules whose calls the workloads make, in report order. */
  val Modules: Seq[String] = Seq("Pipeline", "IsolationForest", "AlertStore", "Alerts",
    "Benchmarking", "Reports", "TextAnalysis", "MinHashLsh", "Dedup",
    "IncrementalDedup", "Ivf", "AdaptiveAnn")

  val SetupReps = 3

  final case class Metric(name: String, value: Double, unit: String)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val work = new File(opt("work"))
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .appName(s"perfbench-$workload")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    phase("session")
    try {
      val ctx = new Ctx(spark, seed, seconds, work, trace)
      val w: Workload = workload match {
        case "dashboard" => new Dashboard(ctx)
        case "batch"     => new Batch(ctx)
      }
      w.writeInputs(new File(work, "input").getAbsolutePath)
      phase("inputs")
      val setups = (0 until SetupReps).map { i =>
        val dir = new File(work, s"setup-$i")
        val t0 = System.nanoTime()
        w.setUp(dir.getAbsolutePath)
        val secs = (System.nanoTime() - t0) / 1e9
        if (i > 0) Disk.delete(new File(work, s"setup-${i - 1}"))
        phase(s"setup-$i")
        secs
      }
      w.loop()
      phase("loop")
      val metrics =
        if (trace) perLayer(ctx, opt.get("spans").map(new File(_)))
        else endToEnd(ctx, setups, w.stateBytesPerRow())
      report(workload, ctx, setups)
      val ops = ctx.ops
      val json = resultJson(correct = ops.forall(_.ok), attempted = ops.length,
        failed = ops.count(!_.ok), metrics)
      Files.write(new File(opt("result")).toPath, json.getBytes(UTF_8))
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        spark.stop()
        sys.exit(1)
    }
    spark.stop()
    phase("stop")
    // the result is on disk and Spark is stopped: do not wait for
    // lingering non-daemon threads
    sys.exit(0)
  }

  /** Progress line: seconds since the JVM started. */
  private def phase(name: String): Unit = {
    val up = System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    println(f"[perfbench] phase $name done at ${up / 1000.0}%.1f s")
  }

  /** The ops the timings are taken over: every successful op except the
    * first of each kind in the run, which warms up the JIT, Spark's code
    * generation cache and the file-system caches for that kind. */
  def timed(ops: Seq[Op]): Seq[Op] = {
    val firsts = ops.groupBy(_.kind).values.map(_.head).toSet
    ops.filter(o => o.ok && !firsts.contains(o))
  }

  def endToEnd(ctx: Ctx, setups: Seq[Double], bytesPerRow: Double): Seq[Metric] = {
    val good = timed(ctx.ops.toSeq)
    require(good.nonEmpty, "no operation succeeded")
    val secs = good.map(_.seconds)
    Seq(
      Metric("setup_s", Stats.median(setups), "s"),
      Metric("op_p50_s", Stats.quantile(secs, 0.5), "s"),
      Metric("op_p90_s", Stats.quantile(secs, 0.9), "s"),
      Metric("items_per_s", good.map(_.items).sum / secs.sum, "1/s"),
      Metric("peak_rss_mb", peakRssMb(), "MB"),
      Metric("disk_bytes_per_row", bytesPerRow, "B"))
  }

  def perLayer(ctx: Ctx, spansFile: Option[File]): Seq[Metric] = {
    PerfbenchBus.drain(ctx.spark.sparkContext)
    val spans = ctx.tracer.spans
    val layers = Trace.layers(spans, ctx.listener.workOf)
    val perModule = Modules.flatMap { m =>
      val l = layers.getOrElse(m, LayerStats(0, 0, 0, 0, 0, 0, 0))
      def per(x: Double): Double = if (l.calls == 0) 0.0 else x / l.calls
      Seq(
        Metric(s"$m.calls", l.calls.toDouble, "count"),
        Metric(s"$m.self_s", per(l.selfS), "s"),
        Metric(s"$m.jobs", per(l.jobs.toDouble), "count"),
        Metric(s"$m.driver_gap_s", per(l.driverGapS), "s"),
        Metric(s"$m.shuffle_write_bytes", per(l.shuffleWriteBytes.toDouble), "B"),
        Metric(s"$m.spill_bytes", per(l.spillBytes.toDouble), "B"),
        Metric(s"$m.records_read", per(l.recordsRead.toDouble), "count"))
    }
    val queries = spans.filter(s => s.module == "AlertStore" && s.name == "queryRange")
    val returned = queries.map(s => math.max(0L, s.rows)).sum
    val examined = queries.map(s => ctx.listener.workOf(s.id).recordsRead).sum
    val self = Trace.selfSeconds(spans)
    val (opSpans, moduleSpans) = spans.partition(_.module == "op")
    val opS = opSpans.map(s => s.end - s.start).sum / 1000.0
    val moduleS = moduleSpans.map(s => self(s.id)).sum
    spansFile.foreach(f => Files.write(f.toPath,
      spans.map(s => spanJson(s, ctx.listener.workOf(s.id))).mkString("", "\n", "\n")
        .getBytes(UTF_8)))
    perModule ++ Seq(
      Metric("AlertStore.records_read_per_row",
        if (returned == 0) 0.0 else examined.toDouble / returned, "ratio"),
      Metric("Ivf.recall_at_10", ctx.notes.getOrElse("Ivf.recall_at_10", 0.0), "ratio"),
      Metric("IncrementalDedup.planted_dup_recall",
        ctx.notes.getOrElse("IncrementalDedup.planted_dup_recall", 0.0), "ratio"),
      Metric("IncrementalDedup.fresh_false_flag_frac",
        ctx.notes.getOrElse("IncrementalDedup.fresh_false_flag_frac", 0.0), "ratio"),
      Metric("trace.overhead_frac", overheadFrac(ctx.ops.toSeq), "ratio"),
      Metric("trace.module_share", if (opS == 0) 0.0 else moduleS / opS, "ratio"))
  }

  /** Tracing overhead from the traced and untraced cycles of one traced
    * run, warm-up cycle excluded: per op kind, the traced median over the
    * untraced median, weighted by how often each kind ran. */
  def overheadFrac(ops: Seq[Op]): Double = {
    val pairs = ops.filter(o => o.ok && o.cycle > 0).groupBy(_.kind).toSeq.flatMap { case (_, os) =>
      val (t, u) = os.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some((os.length * Stats.median(t.map(_.seconds)),
        os.length * Stats.median(u.map(_.seconds))))
    }
    val base = pairs.map(_._2).sum
    if (base == 0) 0.0 else pairs.map(_._1).sum / base - 1.0
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(sys.error("VmHWM not found in /proc/self/status"))

  /** Human-readable lines before the result: sample counts and the tail
    * each op kind can resolve, realised shares and workload notes. */
  def report(workload: String, ctx: Ctx, setups: Seq[Double]): Unit = {
    def f(x: Double) = f"$x%.4f"
    println(s"[perfbench] $workload seed=${ctx.seed} setup_s=${setups.map(f).mkString(",")}")
    val good = timed(ctx.ops.toSeq)
    val tail = Stats.tailPercentile(good.length)
    val failed = ctx.ops.count(!_.ok)
    println(s"[perfbench] ops=${ctx.ops.length} failed=$failed " +
      s"failed_frac=${f(Stats.failedFrac(ctx.ops.length, failed))} timed=${good.length} " +
      s"resolvable_tail=${tail.map(p => s"p$p=" + f(Stats.quantile(good.map(_.seconds), p / 100.0))).getOrElse("none")}")
    ctx.ops.foreach(o => println(f"[perfbench] op ${o.kind} ${o.seconds}%.4f ok=${o.ok}"))
    good.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, os) =>
      val s = os.map(_.seconds).toSeq
      println(s"[perfbench]   $k n=${os.length} p50=${f(Stats.median(s))} " +
        s"max=${f(s.max)}")
    }
    ctx.notes.foreach { case (k, v) => println(s"[perfbench] $k=${f(v)}") }
  }

  private def num(x: Double): String = {
    require(!x.isNaN && !x.isInfinite, s"non-finite metric value $x")
    x.toString
  }

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def resultJson(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[Metric]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map(m => s"""${str(m.name)}: {"value": ${num(m.value)}, "unit": ${str(m.unit)}}""")
        .mkString(", ") + "}}"

  private def spanJson(s: Span, w: SpanWork): String =
    s"""{"id": ${s.id}, "parent": ${s.parent}, "module": ${str(s.module)}, """ +
      s""""name": ${str(s.name)}, "start_ms": ${num(s.start)}, "end_ms": ${num(s.end)}, """ +
      s""""rows": ${s.rows}, "jobs": ${w.jobs.length}, """ +
      s""""shuffle_write_bytes": ${w.shuffleWriteBytes}, "spill_bytes": ${w.spillBytes}, """ +
      s""""records_read": ${w.recordsRead}}"""
}
