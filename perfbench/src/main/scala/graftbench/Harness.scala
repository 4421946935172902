package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.graftbench.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types.StructType

/** One request of a workload: a registered query (`kind` = "query",
  * `body` = its name) or a restricted COUNT(*) statement (`kind` = "sql"). */
final case class Request(id: String, kind: String, stage: String, body: String)

/** A traced interval on the run clock (ns since the harness started). */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long, label: String)

/** Span recorder. Spans stay in memory and are written when the run ends;
  * with `on` false every call is a plain pass-through. */
final class Tracer(t0: Long) {
  @volatile var on = false
  val spans = ArrayBuffer[Span]()
  private var next = 0
  def now: Long = System.nanoTime() - t0
  def add(parent: Int, name: String, start: Long, end: Long, label: String): Int =
    spans.synchronized {
      next += 1
      spans += Span(next, parent, name, start, end, label)
      next
    }
  /** Runs `body` inside a span; the span id is -1 when tracing is off. */
  def span[T](name: String, parent: Int, label: String = "")(body: Int => T): T =
    if (!on) body(-1)
    else {
      val id = spans.synchronized { next += 1; next }
      val s = now
      try body(id)
      finally spans.synchronized { spans += Span(id, parent, name, s, now, label) }
    }
}

/** Execution-layer counters plus the memo build events a traced run turns
  * into spans. Attached only while tracing. */
final class ExecCounters(epoch0Ms: Long) extends SparkListener {
  val jobs = new java.util.concurrent.atomic.AtomicLong
  val stages = new java.util.concurrent.atomic.AtomicLong
  val tasks = new java.util.concurrent.atomic.AtomicLong
  val cpuNs = new java.util.concurrent.atomic.AtomicLong
  val gcMs = new java.util.concurrent.atomic.AtomicLong
  val shuffleRead = new java.util.concurrent.atomic.AtomicLong
  val shuffleWrite = new java.util.concurrent.atomic.AtomicLong
  val spill = new java.util.concurrent.atomic.AtomicLong
  /** memo job group -> end of its last job (run clock, ns) */
  val memoEnd = TrieMap[String, Long]()
  /** memo job group -> summed task CPU (ns) */
  val memoCpu = TrieMap[String, Long]()
  private val stageGroup = TrieMap[Int, String]()
  private val jobGroup = TrieMap[Int, String]()

  private def rel(ms: Long): Long = (ms - epoch0Ms) * 1000000L

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "cpu_ns" -> cpuNs.get, "gc_ms" -> gcMs.get, "shuffle_read" -> shuffleRead.get,
    "shuffle_write" -> shuffleWrite.get, "spill" -> spill.get)

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("graft-memo\u0000")).foreach { g =>
        jobGroup.put(j.jobId, g)
        j.stageInfos.foreach(si => stageGroup.put(si.stageId, g))
      }
  }
  override def onJobEnd(j: SparkListenerJobEnd): Unit =
    jobGroup.remove(j.jobId).foreach { g =>
      memoEnd.updateWith(g) { prev => Some(math.max(prev.getOrElse(0L), rel(j.time))) }
    }
  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = t.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
      stageGroup.get(t.stageId).foreach { g =>
        memoCpu.updateWith(g) { prev => Some(prev.getOrElse(0L) + m.executorCpuTime) }
      }
    }
  }
}

/** Rows and bytes a plan read from the base-table files under `root`
  * (cached memo scans read no files and are not counted). */
object BaseScans extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan, root: String): (Long, Long) = {
    val scans = collectWithSubqueries(plan) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(root)) => s
    }
    def metric(k: String) = scans.map(_.metrics.get(k).map(_.value).getOrElse(0L)).sum
    (metric("numOutputRows"), metric("filesSize"))
  }
}

/** Result of one timed request. Phase times are always measured (two
  * clock reads each); spans exist only on traced passes. */
final case class Outcome(req: Request, ns: Long, parseNs: Long, buildNs: Long,
    planNs: Long, execNs: Long, rows: Array[Row], schema: StructType,
    error: String, scanRows: Long, scanBytes: Long) {
  lazy val digest: String =
    if (rows == null) ""
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map(_.toString).sorted.foreach(s => md.update((s + "\n").getBytes(UTF_8)))
      md.digest().map(b => f"${b & 0xff}%02x").mkString
    }
}

/** Benchmark harness: cold set-up rounds, then steady-state passes over a
  * workload's requests, all through the library's public entry points.
  * Writes raw timings (and spans, when traced) as JSON; the driver script
  * turns them into metrics and checks the answers. */
object Harness {
  private val t0 = System.nanoTime()
  private val epoch0Ms = System.currentTimeMillis()
  private val tracer = new Tracer(t0)
  private lazy val registry = graft.SparkEntry.queries

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    try run(opt)
    catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] aborted: $e")
        e.printStackTrace()
        sys.exit(3)
    }
    sys.exit(0)
  }

  private def session(opt: Map[String, String]): SparkSession = {
    val cores = opt("cores")
    // Bench's session settings, plus scratch locations inside the run dir.
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
      .config("spark.sql.extensions", classOf[graft.GraftExtensions].getName)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", opt("scratch") + "/spark-local")
      .config("spark.sql.warehouse.dir", opt("scratch") + "/warehouse")
      .getOrCreate()
  }

  private def stop(spark: SparkSession): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark.stop()
  }

  private def readRequests(path: String): Seq[Request] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq.filter(_.nonEmpty).map { l =>
      val Array(id, kind, stage, body) = l.split("\t", 4)
      Request(id, kind, stage, body)
    }

  private def runRequest(spark: SparkSession, dir: String, r: Request, parent: Int): Outcome =
    tracer.span("request", parent, r.id) { rq =>
      val a = System.nanoTime()
      var (b, c, d) = (a, a, a)
      try {
        val df: DataFrame = r.kind match {
          case "query" =>
            tracer.span("build", rq)(_ => registry(r.body)(spark, dir))
          case "sql" =>
            val q = tracer.span("parse", rq)(_ => graft.query.PseudoSql.parse(r.body))
            b = System.nanoTime()
            tracer.span("build", rq)(_ =>
              graft.query.Engine.count(q, t => graft.Tables(spark, dir, t)))
        }
        c = System.nanoTime()
        tracer.span("plan", rq)(_ => df.queryExecution.executedPlan)
        d = System.nanoTime()
        val rows = tracer.span("exec", rq)(_ => df.collect())
        val e = System.nanoTime()
        val (sr, sb) =
          if (tracer.on) BaseScans(df.queryExecution.executedPlan, dir) else (0L, 0L)
        Outcome(r, e - a, b - a, c - b, d - c, e - d, rows, df.schema, null, sr, sb)
      } catch {
        case NonFatal(ex) =>
          System.err.println(s"[perfbench] request ${r.id} failed: $ex")
          Outcome(r, System.nanoTime() - a, 0, 0, 0, 0, null, null,
            String.valueOf(ex.getMessage).take(300), 0, 0)
      }
    }

  /** Adds a span for each memo build the listener saw, nested in the
    * smallest recorded span that holds it. A build ends with its last job;
    * it started its recorded build seconds earlier. */
  private def memoSpans(ctr: ExecCounters, memoBefore: Set[(String, String)],
      within: Int): Int = {
    val candidates = tracer.spans.synchronized(tracer.spans.toVector)
    val window = candidates.find(_.id == within)
    def parentOf(s: Long, e: Long): Int =
      candidates.filter(x => x.start <= s + 2000000L && x.end + 2000000L >= e &&
          window.forall(w => x.start >= w.start && x.end <= w.end))
        .sortBy(x => x.end - x.start).headOption.map(_.id).getOrElse(within)
    var n = 0
    for (((d, tag), secs) <- graft.Memo.buildSecs if !memoBefore((d, tag));
         end <- ctr.memoEnd.get(graft.Memo.cpuGroup(d, tag))) {
      val start = end - (secs * 1e9).toLong
      tracer.add(parentOf(start, end), "memo", start, end, tag)
      n += 1
    }
    n
  }

  private def run(opt: Map[String, String]): Unit = {
    val requests = readRequests(opt("requests"))
    val dirs = opt("round-dirs").split(',').toSeq
    val seconds = opt("seconds").toDouble
    val minSamples = opt("min-samples").toInt
    val maxSeconds = opt("max-seconds").toDouble
    val trace = opt("trace") == "1"
    val out = opt("out")
    graft.Memo.lineageCut = true
    val workloadSpan = tracer.add(0, "workload", 0, 0, opt("workload"))

    // ---- cold set-up rounds: session up, tables opened, memos built,
    // artifacts loaded or trained, one answer for every request ----
    val rounds = ArrayBuffer[Map[String, Any]]()
    var spark: SparkSession = null
    var answers: Seq[Outcome] = Nil
    for ((dir, i) <- dirs.zipWithIndex) {
      if (spark != null) stop(spark)
      tracer.on = trace
      val memoBefore = graft.Memo.buildSecs.keySet.toSet
      val ckptBefore = graft.Checkpoint.buildSecs.keySet.toSet
      val ckptRuns0 = graft.Checkpoint.builds.get
      val a = System.nanoTime()
      val roundStart = tracer.now
      var ctr: ExecCounters = null
      var tablesNs = 0L
      val roundId = tracer.span("round", workloadSpan, s"r${i + 1}") { rid =>
        spark = tracer.span("session", rid)(_ => session(opt))
        if (trace) {
          ctr = new ExecCounters(epoch0Ms)
          spark.sparkContext.addSparkListener(ctr)
          graft.Memo.eagerTiming = true
        }
        val tb = System.nanoTime()
        tracer.span("tables", rid)(_ => graft.Tables.all.foreach(t => graft.Tables(spark, dir, t)))
        tablesNs = System.nanoTime() - tb
        answers = requests.map(r => runRequest(spark, dir, r, rid))
        rid
      }
      val setupNs = System.nanoTime() - a
      graft.Memo.eagerTiming = false
      var memoSpanCount = 0
      var memoCpuNs = 0L
      if (trace) {
        ListenerBus.drain(spark.sparkContext)
        memoSpanCount = memoSpans(ctr, memoBefore, roundId)
        memoCpuNs = ctr.memoCpu.values.sum
        spark.sparkContext.removeSparkListener(ctr)
      }
      val newMemo = graft.Memo.buildSecs.filter { case (k, _) => !memoBefore(k) }
      val newCkpt = graft.Checkpoint.buildSecs.filter { case (k, _) => !ckptBefore(k) }
      rounds += Map(
        "seconds" -> setupNs / 1e9, "start_s" -> roundStart / 1e9,
        "tables_open_s" -> tablesNs / 1e9,
        "memo_builds" -> newMemo.size, "memo_build_s" -> newMemo.values.sum,
        "memo_cpu_s" -> memoCpuNs / 1e9, "memo_spans" -> memoSpanCount,
        "ckpt_train_runs" -> (graft.Checkpoint.builds.get - ckptRuns0),
        "ckpt_train_s" -> newCkpt.values.sum,
        "failed" -> answers.count(_.error != null),
        "request_ms" -> answers.map(o => o.req.id -> o.ns / 1e6).toMap)
      System.err.println(f"[perfbench] set-up round ${i + 1}: ${setupNs / 1e9}%.2f s")
    }
    val dir = dirs.last
    val reference = answers.map(o => o.req.id -> o).toMap

    // ---- answers of the last round, for the checks (outside any timing) ----
    val answerDir = Paths.get(out, "answers")
    Files.createDirectories(answerDir)
    val counts = ArrayBuffer[(String, Long)]()
    for (o <- answers if o.error == null) o.req.kind match {
      case "sql" => counts += o.req.id -> o.rows.head.getLong(0)
      case _ =>
        spark.createDataFrame(o.rows.toList.asJava, o.schema).coalesce(1)
          .write.mode("overwrite").parquet(answerDir.resolve(o.req.id).toString)
    }

    // ---- steady state: seeded request order per pass, closed loop. Passes
    // that start in the first third of the window only warm up (they are
    // recorded but excluded from the metrics): pass times still fall by a
    // third over the first ten or so passes after set-up. ----
    val rng = new scala.util.Random(opt("seed").toLong)
    val passes = ArrayBuffer[Map[String, Any]]()
    val wrong = scala.collection.mutable.LinkedHashSet[String]()
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    answers.filter(_.error != null).foreach(o => failed(o.req.id) = o.error)
    val sc = spark.sparkContext
    val steadyStart = System.nanoTime()
    def elapsed = (System.nanoTime() - steadyStart) / 1e9
    var samples, traced, untraced = 0
    def done = elapsed >= seconds && samples >= minSamples &&
      (!trace || (traced >= 2 && untraced >= 2))
    while (!done && elapsed < maxSeconds) {
      val warmup = elapsed < seconds / 3
      val tracedPass = trace && !warmup && (traced + untraced) % 2 == 1
      tracer.on = tracedPass
      val ctr = if (tracedPass) new ExecCounters(epoch0Ms) else null
      if (tracedPass) sc.addSparkListener(ctr)
      val order = rng.shuffle(requests)
      val passStart = tracer.now
      val a = System.nanoTime()
      val outcomes = tracer.span("pass", workloadSpan, s"p${passes.size + 1}") { pid =>
        order.map(r => runRequest(spark, dir, r, pid))
      }
      val passNs = System.nanoTime() - a
      val layers: Map[String, Any] =
        if (!tracedPass) Map.empty
        else {
          ListenerBus.drain(sc)
          sc.removeSparkListener(ctr)
          ctr.snapshot ++ Map(
            "scan_rows" -> outcomes.map(_.scanRows).sum,
            "scan_bytes" -> outcomes.map(_.scanBytes).sum)
        }
      tracer.on = false
      val reqs = outcomes.map { o =>
        // an answer that differs from the checked set-up answer is wrong
        val same = o.error == null && reference.get(o.req.id).exists(_.digest == o.digest)
        if (o.error != null) failed.getOrElseUpdate(o.req.id, o.error)
        else if (!same) wrong += o.req.id
        Map("id" -> o.req.id, "stage" -> o.req.stage, "ms" -> o.ns / 1e6,
          "parse_ms" -> o.parseNs / 1e6, "build_ms" -> o.buildNs / 1e6,
          "plan_ms" -> o.planNs / 1e6, "exec_ms" -> o.execNs / 1e6,
          "ok" -> (o.error == null), "same" -> same)
      }
      passes += Map("traced" -> tracedPass, "warmup" -> warmup, "seconds" -> passNs / 1e9,
        "start_s" -> passStart / 1e9, "requests" -> reqs, "layers" -> layers)
      if (tracedPass) traced += 1
      else if (!warmup) { untraced += 1; samples += outcomes.size }
    }

    val cacheBytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val settings = spark.conf.getAll.toSeq.sorted
      .filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" }.toMap
    tracer.spans.synchronized {
      val root = tracer.spans.indexWhere(_.id == workloadSpan)
      tracer.spans(root) = tracer.spans(root).copy(end = tracer.now)
    }
    val result = Map(
      "workload" -> opt("workload"), "seed" -> opt("seed").toLong, "trace" -> trace,
      "cores" -> opt("cores").toInt, "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "lineage_cut" -> graft.Memo.lineageCut, "settings" -> settings,
      "requests" -> requests.map(r => Map("id" -> r.id, "kind" -> r.kind,
        "stage" -> r.stage, "body" -> r.body)),
      "rounds" -> rounds, "passes" -> passes, "steady_s" -> elapsed,
      "failed" -> failed, "wrong" -> wrong.toSeq, "counts" -> counts.toMap,
      "answered" -> answers.filter(_.error == null).map(_.req.id),
      "cache_bytes" -> cacheBytes,
      "ckpt_train_runs_total" -> graft.Checkpoint.builds.get)
    Files.write(Paths.get(out, "result.json"), Json(result).getBytes(UTF_8))
    val oracle = graft.SparkEntry.oracleSql
    Files.write(Paths.get(out, "oracle.json"), Json(requests.filter(_.kind == "query")
      .flatMap(r => oracle.get(r.body).map(r.id -> _)).toMap).getBytes(UTF_8))
    if (trace) {
      val spans = tracer.spans.synchronized(tracer.spans.toVector).sortBy(_.start).map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "label" -> s.label,
          "start_ms" -> s.start / 1e6, "end_ms" -> s.end / 1e6)
      }
      Files.write(Paths.get(out, "spans.json"), Json(spans).getBytes(UTF_8))
    }
    stop(spark)
  }
}

/** Minimal JSON writer for the harness's result files. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
