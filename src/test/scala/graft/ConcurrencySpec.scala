package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Round-14 optimization internals: the warm pass and the Verify dump
  * now run queries concurrently, which is only sound if the shared
  * machinery builds each shared thing exactly once under contention.
  * These tests drive Memo / Checkpoint / Tables from many threads and
  * assert single-build semantics and read-relation identity.
  */
class ConcurrencySpec extends SparkSpec {

  private def onPool[T](n: Int, timeout: Duration = Duration.Inf)(work: Int => T): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      Await.result(
        Future.sequence((0 until n).map(i => Future(work(i)))), timeout)
    } finally pool.shutdown()
  }

  test("Memo builds a contended key exactly once and every caller gets the same frame") {
    val built = new AtomicInteger(0)
    val tag = s"concSpec:${System.nanoTime()}"
    val frames = onPool(16) { _ =>
      Memo(spark, sf, tag) {
        built.incrementAndGet()
        Tables(spark, sf, "nation").select(col("n_nationkey"))
      }
    }
    assert(built.get == 1, s"memo build ran ${built.get} times under contention")
    assert(frames.forall(_ eq frames.head), "callers saw different memoized frames")
  }

  test("Checkpoint builds a contended artifact exactly once (one writer, one training run)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-conc-ckpt").toString
    Checkpoint.rootOverride = Some(tmp)
    try {
      val before = Checkpoint.builds.get
      val rows = onPool(12) { _ =>
        Checkpoint(spark, sf, "conc_probe")(42L) {
          Tables(spark, sf, "region").select(col("r_regionkey"))
        }.count()
      }
      assert(Checkpoint.builds.get - before == 1,
        s"expected exactly 1 build, saw ${Checkpoint.builds.get - before}")
      assert(rows.distinct.size == 1, "readers disagreed on the artifact")
    } finally Checkpoint.rootOverride = None
  }

  test("Tables returns one cached read relation per (session, dir, table)") {
    val a = Tables(spark, sf, "customer")
    val b = Tables(spark, sf, "customer")
    assert(a eq b, "same session+dir+table must share one read relation")
    val s2 = spark.newSession()
    val c = Tables(s2, sf, "customer")
    assert(!(a eq c), "a different session must not share the relation object")
    assert(a.schema == c.schema && a.count() == c.count(),
      "cached and fresh relations must read identical data")
  }

  test("concurrent distinct Memo keys don't serialize through each other's builds") {
    val tags = (0 until 8).map(i => s"concSpecMulti:$i:${System.nanoTime()}")
    val counts = onPool(8) { i =>
      Memo(spark, sf, tags(i))(
        Tables(spark, sf, "nation").filter(col("n_nationkey") >= i)).count()
    }
    assert(counts.zipWithIndex.forall { case (n, i) => n == counts.head - i },
      s"per-key results wrong under concurrency: $counts")
  }

  test("concurrent fingerprints of overlapping table sets scan each table exactly once") {
    val dir = freshSfCopy("graft-conc-fp")
    try {
      val d = dir.getPath
      // four overlapping windows over all ten tables, two threads each
      val sets = (0 until 4).map(k => Tables.all.slice(2 * k, 2 * k + 4))
      // a deadlock shows as a timeout here, not as a hung suite
      val (fps, scans) = scansUnder(d)(onPool(8, Duration(5, "min")) { i =>
        Checkpoint.tableFingerprint(spark, d, sets(i % 4): _*)
      })
      val scanned = scans.flatMap(_.toSeq)
      assert(scanned.sorted == Tables.all.sorted,
        s"every table must be scanned exactly once across all threads: $scans")
      for (i <- 0 until 8)
        assert(fps(i) == Checkpoint.tableFingerprint(spark, sf, sets(i % 4): _*),
          s"thread $i got a fingerprint that differs from an uncontended one")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }
}
