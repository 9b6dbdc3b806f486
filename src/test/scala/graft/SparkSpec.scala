package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Shared-session ScalaTest base. One session per suite. */
trait SparkSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = GraftSession.local(4)

  def withTempDir[T](f: String => T): T = {
    val dir = Files.createTempDirectory("graft-test").toFile
    try f(dir.getAbsolutePath)
    finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  /** Spark jobs `body` starts, counted by a listener; a sentinel
    * job run after it drains the (in-order) listener bus. */
  def jobsOf[T](body: => T): (Int, T) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID.toString
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("graft.probe")))
          .foreach(jobs.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.probe", tag)
      val out = try body finally sc.setLocalProperty("graft.probe", s"$tag-end")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.probe", null)
      val deadline = System.currentTimeMillis + 30000
      while (!jobs.contains(s"$tag-end") && System.currentTimeMillis < deadline)
        Thread.sleep(10)
      assert(jobs.contains(s"$tag-end"), "listener bus never drained")
      (jobs.asScala.count(_ == tag), out)
    } finally sc.removeSparkListener(listener)
  }

  /** Two renderings of one operator (a driver tier and its budget-0
    * distributed tier) give the same answer: the same schema,
    * nullability and metadata included, and the same rows in order.
    * Rows compare as rendered, so a NaN equals itself and `-0.0`
    * differs from `0.0`. `sorted` sorts both sides' rendered rows
    * first, for operators whose row order is unspecified. A failure
    * names the first differing row. */
  def assertSameAnswer(what: String, actual: DataFrame, expected: DataFrame,
                       sorted: Boolean = false): Unit = {
    assert(actual.schema == expected.schema,
      s"$what: schema\n  actual   ${actual.schema}\n  expected ${expected.schema}")
    def rows(d: DataFrame) = {
      val r = d.collect().map(_.toString).toSeq
      if (sorted) r.sorted else r
    }
    val (a, e) = (rows(actual), rows(expected))
    val at = a.zipAll(e, "(none)", "(none)").indexWhere { case (x, y) => x != y }
    assert(at < 0, s"$what: row $at of ${a.size} vs ${e.size} differs:\n" +
      s"  actual   ${a.lift(at).getOrElse("(none)")}\n  expected ${e.lift(at).getOrElse("(none)")}")
  }

  /** Canonical-form equality, mirroring the reference's assert_equal
    * (/root/reference/tests/test_hive_dataset.py:15-40): same column
    * set, same schema, same rows ignoring row and column order. */
  def assertSameData(actual: DataFrame, expected: DataFrame): Unit = {
    assert(actual.columns.sorted.toSeq == expected.columns.sorted.toSeq,
      s"column sets differ: ${actual.columns.toSeq} vs ${expected.columns.toSeq}")
    val cols = actual.columns.sorted.toSeq
    def canon(df: DataFrame): Seq[Row] =
      df.select(cols.map(org.apache.spark.sql.functions.col): _*)
        .collect().toSeq.sortBy(_.toString)
    val (a, e) = (canon(actual), canon(expected))
    assert(a == e, s"data differs:\n  actual:   $a\n  expected: $e")
  }
}
