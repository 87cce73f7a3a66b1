package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{IncrementalDedup, Pipeline}
import graft.sources.Tables

/** Conf overrides stay inside the operator that needs them: a second
  * thread on the same session never sees them, and no operator source
  * sets or unsets session conf. */
class ConfScopeSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}

  private val keys = Seq(
    "spark.sql.adaptive.enabled",
    "spark.sql.optimizer.runtime.bloomFilter.maxNumItems",
    "spark.sql.optimizer.runtime.bloomFilter.maxNumBits")

  /** Every distinct value of `keys` a second thread reads while the main
    * thread runs detectAllShared (which plans its checkpoint with AQE
    * off) and writeBucketBloom sized past the Bloom conf maxima. */
  private def seenWhileRunning(): Set[Seq[Option[String]]] = {
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Seq[Option[String]]]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() =>
      while (!stop.get) seen.add(keys.map(spark.conf.getOption)))
    reader.start()
    try {
      Pipeline.detectAllShared(spark, sf).collect()
      val path = java.nio.file.Files.createTempDirectory("conf-scope-spec").toString
      IncrementalDedup.saveSignatures(Tables.documents(spark, sf), path)
      IncrementalDedup.writeBucketBloom(spark, path, expectedDocs = 1000000L)
    } finally {
      stop.set(true)
      reader.join()
    }
    seen.asScala.toSet
  }

  test("a concurrent reader never sees an operator's conf overrides") {
    val before = keys.map(spark.conf.getOption)
    assert(seenWhileRunning() === Set(before))
  }

  test("non-default caller values are neither overridden nor reset") {
    val explicit = keys.map(k => k -> spark.conf.getAll.get(k))
    val custom = Seq("false", "5000000", "100000000")
    try {
      keys.zip(custom).foreach { case (k, v) => spark.conf.set(k, v) }
      assert(seenWhileRunning() === Set(custom.map(Some(_))))
    } finally explicit.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("no operator source sets or unsets session conf") {
    val dir = java.nio.file.Paths.get("src/main/scala/graft/operators")
    val walk = java.nio.file.Files.walk(dir)
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(files.nonEmpty, s"no operator sources under ${dir.toAbsolutePath}")
    val call = """\.conf\.(set|unset)\(""".r
    val hits = files.flatMap { f =>
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if call.findFirstIn(line).isDefined => s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, hits.mkString("operators change session conf:\n", "\n", ""))
  }
}
