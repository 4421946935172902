package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one JVM-wide session — Spark's
  * getOrCreate caches it across suites, keeping the test run fast).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"

  /** A fresh copy of [[sf]] in a temp dir: same data, but no per-dir
    * process cache (Tables, Memo, Checkpoint fingerprints) has seen it. */
  def freshSfCopy(prefix: String): java.io.File = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix)
    for (f <- new java.io.File(sf).listFiles())
      java.nio.file.Files.copy(f.toPath, tmp.resolve(f.getName))
    tmp.toFile
  }

  /** Runs `body` and returns, for every SQL execution it caused that
    * scans parquet under `dir`, the set of table names that execution
    * scanned (file name minus `.parquet`). Drains the async listener
    * bus before and after, so no stray or late event is miscounted. */
  def scansUnder[T](dir: String)(body: => T): (T, Seq[Set[String]]) = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val scans = new java.util.concurrent.ConcurrentLinkedQueue[Set[String]]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val tables = qe.analyzed.collect { case r: LogicalRelation => r.relation }
          .collect { case h: HadoopFsRelation => h.location.rootPaths }.flatten
          .map(_.toUri.getPath).filter(_.startsWith(dir))
          .map(p => new java.io.File(p).getName.stripSuffix(".parquet")).toSet
        if (tables.nonEmpty) scans.add(tables)
      }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    org.apache.spark.GraftListenerBusDrain.drain(spark.sparkContext, 60000)
    spark.listenerManager.register(listener)
    try {
      val out = body
      org.apache.spark.GraftListenerBusDrain.drain(spark.sparkContext, 60000)
      import scala.jdk.CollectionConverters._
      (out, scans.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
