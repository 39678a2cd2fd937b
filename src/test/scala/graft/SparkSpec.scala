package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** The Spark jobs started while `body` ran. The listener bus is drained
    * before and after, so every job of `body` is counted and no earlier
    * one is. */
  def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.graft.Bus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.graft.Bus.drain(spark.sparkContext)
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** The table dirs a reader of `store` can see: every directory in its
    * root except the `.`-prefixed stage and swap dirs. */
  def storeTables(store: graft.tables.TableStore): Set[String] = {
    val root = new org.apache.hadoop.fs.Path(store.path(""))
    root.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(root)
      .filter(_.isDirectory).map(_.getPath.getName).filterNot(_.startsWith(".")).toSet
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // no .crc sidecars: avoids the RawLocalFileSystem checksum-rename race
      // in streaming state-store commits under /tmp
      .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
