package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.SQLExecution

/** One timed operation of a workload's closed loop. `items` is the work
  * it completed (requests, input rows); `cycle` is the loop cycle it ran
  * in and `traced` marks ops run with spans open. */
final case class Op(kind: String, seconds: Double, items: Long, ok: Boolean,
    cycle: Long, traced: Boolean)

/** Everything a workload needs while it runs: the session, its seed, the
  * run's scratch directory, the tracer and the op log. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val work: File, val traceMode: Boolean) {

  val tracer = new Tracer(spark.sparkContext, enabled = false)
  val listener = new SpanListener
  val ops = mutable.ArrayBuffer.empty[Op]
  /** Numbers a workload reports beside the op log: realised shares,
    * recall, byte counts. Printed in the report, some become metrics. */
  val notes = mutable.LinkedHashMap.empty[String, Double]
  private var cycles = 0L
  private var loopStartNs = 0L

  def startLoop(): Unit = loopStartNs = System.nanoTime()

  def elapsed: Double = (System.nanoTime() - loopStartNs) / 1e9

  def timeUp: Boolean = elapsed >= seconds

  /** Cycles the loop must run before it may stop: a traced run needs a
    * warm-up cycle, then one traced and one untraced. */
  def minCycles: Int = if (traceMode) 3 else 1

  /** Run one cycle of the loop (a round of requests, a batch pass). In a
    * traced run the first cycle warms up untraced and then every other
    * cycle is traced, so the untraced ones measure the tracing overhead
    * on the same data in the same run. */
  def cycle(body: => Unit): Unit = {
    val traced = traceMode && cycles % 2 == 1
    if (traced) spark.sparkContext.addSparkListener(listener)
    tracer.enabled = traced
    try body
    finally {
      tracer.enabled = false
      if (traced) {
        PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
      cycles += 1
    }
  }

  /** Time `timed` as one op; then run its output check untimed. An
    * exception or a failed check marks the op failed. */
  def op[T](kind: String, items: Long)(timed: => T)(check: T => Boolean): Unit = {
    val t0 = System.nanoTime()
    val result = Try(tracer.span("op", kind)(timed))
    val secs = (System.nanoTime() - t0) / 1e9
    val ok = result.flatMap(r => Try(check(r))) match {
      case Success(true) => true
      case Success(false) =>
        Console.err.println(s"[perfbench] check failed: $kind"); false
      case Failure(e) =>
        Console.err.println(s"[perfbench] $kind failed: $e"); false
    }
    ops += Op(kind, secs, items, ok, cycles, tracer.enabled)
  }

  /** A module call inside an op. */
  def call[T](module: String, name: String)(body: => T): T =
    tracer.span(module, name)(body)

  def dir(name: String): String = new File(work, name).getAbsolutePath
}

object Sink {

  /** Full materialisation that also fingerprints the output: every row of
    * the executed plan, presentation sort included, is projected to an
    * UnsafeRow and hashed, the same per-row work as the noop sink plus one
    * hash. Never `count()`, which lets Catalyst prune computed columns.
    * Returns (rows, order-insensitive digest). */
  def digest(df: DataFrame): (Long, Long) = {
    val qe = df.queryExecution
    val schema = df.schema
    SQLExecution.withNewExecutionId(qe, Some("perfbench digest")) {
      qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        var n = 0L
        var h = 0L
        it.foreach { r => n += 1; h += proj(r).hashCode().toLong }
        Iterator((n, h))
      }.collect()
    }.foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }
}

object Disk {
  def bytes(f: File): Long =
    if (java.nio.file.Files.isSymbolicLink(f.toPath)) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)

  def bytes(path: String): Long = bytes(new File(path))

  def delete(f: File): Unit = org.apache.commons.io.FileUtils.deleteQuietly(f)
}
