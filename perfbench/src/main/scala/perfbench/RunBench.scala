package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.BenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.data.DocGen
import graft.engine.{Checkpoint, TableIO, Validate}
import graft.streaming.StreamValidate

/** Listener counters over a window opened by [[reset]]. */
final class Counters extends SparkListener {
  private var jobs, stages, tasks, shuffleWrite, spill, inputRecords = 0L
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    tasks += e.stageInfo.numTasks
    Option(e.stageInfo.taskMetrics).foreach { m =>
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.diskBytesSpilled
      inputRecords += m.inputMetrics.recordsRead
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }
  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; shuffleWrite = 0; spill = 0
    inputRecords = 0; taskMs.clear()
  }
  /** Skew is the worst stage's slowest task over its median task, among
    * stages with at least two tasks (1.0 when there are none). */
  def snapshot(): Map[String, Double] = synchronized {
    val skews = taskMs.values.filter(_.size >= 2).map { d =>
      val s = d.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }
    Map("jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
      "shuffle_write_mb" -> shuffleWrite / 1e6, "spill_mb" -> spill / 1e6,
      "input_records" -> inputRecords.toDouble,
      "task_skew" -> (if (skews.isEmpty) 1.0 else skews.max))
  }
}

/** Spans recorded around the benchmark's calls into each layer. */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var stack = List(0)
  private var next = 1
  def span[T](name: String)(f: => T): T = {
    val id = next
    next += 1
    val parent = stack.head
    stack = id :: stack
    val t0 = System.nanoTime()
    try f finally {
      stack = stack.tail
      spans += Map("id" -> id, "parent" -> parent, "name" -> name,
        "start_ns" -> t0, "end_ns" -> System.nanoTime())
    }
  }
  def all: Seq[Map[String, Any]] = spans.toSeq
}

object Json {
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}

/** One benchmark run in one JVM: set-up, warm-up, the workload's timed
  * production calls and, with `--trace 1`, the per-layer measurements.
  * Everything measured goes to the `--result` JSON; the launcher checks
  * the stored outputs against the DuckDB oracle and prints the metrics. */
object RunBench {

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors}]")
      .appName("graft-perfbench")
      // the production run's settings (graft.RunValidation)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1b")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Set-up as the launcher times it: from JVM start to a ready session
    * with the media catalog collected (the first job), then READY. */
  def setUp(input: String, work: String): (SparkSession, Map[String, String]) = {
    val spark = session(work)
    val catalog = DocGen.mediaCatalogMap(spark, input)
    println("READY")
    Console.out.flush()
    (spark, catalog)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val (spark, catalog) = setUp(opts("input"), opts("work"))
    val bench = new RunBench(spark, opts, catalog)
    val result = try bench.run() finally spark.stop()
    Files.write(Paths.get(opts("result")), Json.render(result).getBytes("UTF-8"))
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) =>
      Set("validate_verdicts", "validate_violations", "drift_stored_runs")(k) }
    Files.write(Paths.get(opts("work"), "oracle_sql.json"), Json.render(oracle).getBytes("UTF-8"))
  }
}

/** Set-up probe: one more cold start, `<input> <work>`. */
object SetupProbe {
  def main(args: Array[String]): Unit = RunBench.setUp(args(0), args(1))._1.stop()
}

object Plans extends AdaptiveSparkPlanHelper

final class RunBench(spark: SparkSession, opts: Map[String, String],
                     catalog: Map[String, String]) {
  private val workload = opts("workload")
  private val input = opts("input")
  private val work = opts("work")
  private val seconds = opts("seconds").toDouble
  private val traced = opts("trace") == "1"
  private val rows = opts("rows").toLong
  private val buckets = opts("buckets").toInt
  private lazy val reportQueries = opts("report_queries").toInt
  private val rng = new scala.util.Random(opts("seed").toLong)

  private val counters = new Counters
  private val tracer = new Tracer
  private val res = mutable.LinkedHashMap.empty[String, Any]
  private val layers = mutable.LinkedHashMap.empty[String, Double]
  private val failures = mutable.ArrayBuffer.empty[String]
  private val runs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val calib = mutable.ArrayBuffer.empty[Double]
  private var attempted = 0L
  private var dirs = 0

  private def fresh(name: String): String = {
    dirs += 1
    s"$work/out/$name-$dirs"
  }
  private def secs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
  private val t00 = System.nanoTime()
  private def note(what: String): Unit =
    System.err.println(f"[perfbench] $what at ${(System.nanoTime() - t00) / 1e9}%.1fs")
  private def span[T](name: String)(f: => T): T = if (traced) tracer.span(name)(f) else f
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  private def counted[T](f: => T): (T, Map[String, Double]) = {
    BenchBridge.drainListeners(spark.sparkContext)
    counters.reset()
    val r = f
    BenchBridge.drainListeners(spark.sparkContext)
    (r, counters.snapshot())
  }
  private def treeBytes(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val files = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.map(Files.size).sum, files.size.toLong)
    }
  }

  /** Host-calibration probe (the single-thread loop of graft.ScalingBench):
    * recorded next to the samples, never used to filter them. */
  private def calibrate(): Unit = {
    val t0 = System.nanoTime()
    var s = 0L
    var i = 0
    while (i < 100000000) { s = s * 6364136223846793005L + i; i += 1 }
    if (s == 42L) System.err.println("")
    calib += (System.nanoTime() - t0) / 1e9
  }

  def run(): Map[String, Any] = {
    if (traced) spark.sparkContext.addSparkListener(counters)
    calibrate()
    workload match {
      case "stream_arrivals" => streamWorkload()
      case _ => batchWorkload()
    }
    calibrate()
    if (traced) traceLayers()
    res ++= Seq("attempted" -> attempted, "failures" -> failures.toSeq,
      "runs" -> runs.toSeq, "calib_s" -> calib.toSeq,
      "peak_rss_mb" -> peakRssMb(), "layers" -> layers, "spans" -> tracer.all)
    res.toMap
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  // ---- Checkpoint.run, guarded against a silent no-op resume --------------

  /** One complete production run into a fresh directory. Returns the
    * directory and the wall seconds of `Checkpoint.run` alone; the guard
    * reads the lineage afterwards, outside the timing. */
  private def checkpointRun(in: String, nRows: Long, n: Int,
                            check: Boolean): (String, Double) = {
    val dir = fresh("run")
    val (done, s) = span("engine.Checkpoint.run")(secs(Checkpoint.run(spark, in, dir, n, "r1")))
    attempted += 1
    val l = TableIO.read(spark, Checkpoint.lineagePath(dir))
      .agg(sum("n_docs"), countDistinct("bucket")).head()
    val ok = done == (0 until n) && l.getLong(0) == nRows && l.getLong(1) == n
    if (!ok) failures += s"checkpoint run $dir processed buckets ${done.mkString(",")}, " +
      s"lineage docs ${l.get(0)} over ${l.get(1)} buckets; expected $nRows docs over $n buckets"
    runs += Map("dir" -> dir, "wall_s" -> s, "check" -> (check && ok))
    (dir, s)
  }

  private def storedBytesPerDoc(dir: String, parts: Seq[String], nRows: Long): Double =
    parts.map(p => treeBytes(s"$dir/$p")._1).sum.toDouble / nRows

  private def batchWorkload(): Unit = {
    // warm-up: the first run in a JVM is about twice as slow as the next
    // ones (class loading, JIT, codegen); it is not timed, and the report
    // queries read its outputs
    val (first, _) = checkpointRun(input, rows, buckets, check = true)
    note("warm")
    if (traced) {
      tracedCheckpoint(input, rows, buckets)
    } else {
      val reports = reportPlan(first, buckets)
      val t0 = System.nanoTime()
      val walls = mutable.ArrayBuffer.empty[Double]
      var last = ""
      // runs for the run's seconds and at least three times; the report
      // queries are spread between the runs, so that both kinds of sample
      // span the whole window
      val perRun = (reports.size + 2) / 3
      var asked = 0
      while (walls.size < 3 || (System.nanoTime() - t0) / 1e9 < seconds) {
        val (dir, s) = checkpointRun(input, rows, buckets, check = true)
        walls += s
        last = dir
        reports.slice(asked, asked + perRun).foreach(_())
        asked += perRun
      }
      reports.drop(asked).foreach(_())
      note("runs")
      res("docs_per_s") = walls.map(rows / _).toSeq
      res("stored_bytes_per_doc") = storedBytesPerDoc(last,
        Seq("verdicts", "violations", "rule_metrics", "lineage"), rows)
      res("reports") = reportsDone.toSeq
      res("report_dir") = first
    }
  }

  // ---- stored-report queries: closed loop, one client ---------------------

  private val severities = Seq("info", "warning", "error", "fatal")
  private val reportKinds = Seq("bucket", "all", "psi")
  private val reportsDone = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def prepareReports(dir: String): Unit = span("engine.Checkpoint.storeRunRuleMetricsSplit") {
    val parity = element_at(split(col("doc_id"), "-"), 1).cast("bigint") % 2
    Checkpoint.storeRunRuleMetricsSplit(DocGen.docs(spark, input), catalog, dir,
      when(parity === 0, "base").otherwise("cur"), Seq("base", "cur"))
  }

  /** Runs one report query; returns what the launcher checks against the
    * stored files (row count, per-rule counts or the PSI value). */
  private def report(dir: String, kind: String, sev: String, b: Int): Any = kind match {
    case "bucket" =>
      Checkpoint.storedViolations(spark, dir, sev, Some(b)).collect().length.toLong
    case "all" =>
      Checkpoint.storedViolations(spark, dir, sev).groupBy("rule_id").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    case "psi" =>
      Checkpoint.rulePsiBetweenStoredRuns(spark, dir, "base", "cur")
        .select("value").collect().head.getDouble(0)
  }

  /** Prepares the stored run for reports and warms every query shape up
    * (each severity filter compiles its own code; PSI has one shape);
    * returns the timed queries, each recording its latency and answer. */
  private def reportPlan(dir: String, n: Int): Seq[() => Unit] = {
    prepareReports(dir)
    for (k <- reportKinds; s <- if (k == "psi") severities.take(1) else severities)
      report(dir, k, s, 0)
    // every run asks each (kind, severity) pair equally often; the seed
    // fixes their order and the buckets they hit
    val pairs = for (k <- reportKinds; s <- severities) yield (k, s)
    rng.shuffle(Seq.fill(reportQueries / pairs.size)(pairs).flatten)
      .map { case (k, s) => (k, s, rng.nextInt(n)) }
      .map { case (kind, sev, b) => () =>
        attempted += 1
        val (out, s) = secs(try Right(report(dir, kind, sev, b)) catch {
          case e: Exception => Left(e.toString)
        })
        out.left.foreach(e => failures += s"report $kind/$sev/$b failed: $e")
        reportsDone += Map("kind" -> kind, "severity" -> sev, "bucket" -> b, "ms" -> s * 1000,
          "result" -> out.fold(_ => null, identity))
      }
  }

  // ---- streaming: drain of a landed backlog, then open-loop arrivals ------

  private def startStream(inDir: String, outDir: String): StreamingQuery =
    StreamValidate.verdictStream(spark, inDir, catalog)
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", s"$outDir-checkpoint")
      .outputMode("append").start()

  private def listParquet(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName)

  /** Moves a staged file into the watched directory, atomically, with its
    * modification time set to the landing time. */
  private def land(f: File, inDir: String): Unit = {
    f.setLastModified(System.currentTimeMillis())
    Files.move(f.toPath, Paths.get(inDir, f.getName), StandardCopyOption.ATOMIC_MOVE)
  }

  /** (end wall-ms, input rows, duration ms) of every data-carrying
    * micro-batch, from the query's own progress reports. */
  private def batches(q: StreamingQuery): Seq[(Long, Long, Long)] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs.get("triggerExecution").longValue()
      (start + d, p.numInputRows, d)
    }

  private def awaitRows(q: StreamingQuery, target: Long, timeoutS: Double): Unit = {
    val t0 = System.nanoTime()
    while (batches(q).map(_._2).sum < target && (System.nanoTime() - t0) / 1e9 < timeoutS) {
      q.exception.foreach(e => throw e)
      Thread.sleep(5)
    }
  }

  /** Copies the backlog into a fresh watched directory: every drain sees
    * the same files, landed before its query starts. */
  private def landBacklog(backlog: Seq[File], name: String): String = {
    val dir = fresh(name)
    new File(dir).mkdirs()
    backlog.foreach(f => Files.copy(f.toPath, Paths.get(dir, f.getName)))
    dir
  }

  private def streamWorkload(): Unit = {
    val slices = s"$input/slices"
    val backlog = listParquet(s"$slices/backlog")
    val arrivals = listParquet(s"$slices/arrive")
    val rowsOf = opts("slice_rows").split(',').map(_.toLong)
    val backlogRows = rowsOf.take(backlog.size).sum
    val arriveRows = rowsOf.drop(backlog.size).toSeq
    val periodMs = opts("arrive_period_ms").toLong

    // warm-up: a throw-away query drains the backlog and takes one arrival,
    // so the timed drains run compiled code
    val warmIn = landBacklog(backlog, "stream-warm-in")
    val wq = startStream(warmIn, fresh("stream-warm-out"))
    wq.processAllAvailable()
    land(listParquet(s"$slices/warm").head, warmIn)
    wq.processAllAvailable()
    wq.stop()
    note("warm")

    val drainOuts = mutable.ArrayBuffer.empty[String]
    val rates = mutable.ArrayBuffer.empty[Double]
    val drainWalls = mutable.ArrayBuffer.empty[Double]
    val (q, phase) = counted {
      // drains of the landed backlog, each by a fresh query, for the run's
      // seconds and at least three times; throughput is the backlog rows
      // over the trigger time of the micro-batches that drain them
      // (listing, planning, execution, sink commit). The query's start-up
      // before its first batch is reported apart, as drain_wall_s.
      val t0 = System.nanoTime()
      var q: StreamingQuery = null
      var inDir = ""
      while (drainOuts.size < 3 || (System.nanoTime() - t0) / 1e9 < seconds) {
        if (q != null) q.stop()
        inDir = landBacklog(backlog, "stream-in")
        val outDir = fresh("stream-out")
        val tStart = System.currentTimeMillis()
        q = span("streaming.StreamValidate.verdictStream")(startStream(inDir, outDir))
        span("streaming.drain")(awaitRows(q, backlogRows, 120))
        attempted += 1
        val drain = batches(q).scanLeft((0L, 0L, 0L)) { case ((_, cum, _), (end, n, d)) =>
          (end, cum + n, d) }.tail
        val drained = drain.take(drain.indexWhere(_._2 >= backlogRows) + 1)
        if (drained.isEmpty) failures += s"drain into $outDir committed ${drain.lastOption
          .fold(0L)(_._2)} rows of $backlogRows"
        else {
          drainWalls += (drained.last._1 - tStart) / 1000.0
          rates += backlogRows / (drained.map(_._3).sum / 1000.0)
        }
        drainOuts += outDir
      }
      note("drains")
      res("docs_per_s") = rates.toSeq
      res("drain_wall_s") = median(drainWalls.toSeq)
      // open loop, into the last drain's query: files land on a fixed
      // schedule, whatever the query does
      val arriveDir = inDir
      val base = System.currentTimeMillis() + periodMs
      val schedule = arrivals.indices.map(k => base + k * periodMs)
      val landed = new Array[Long](arrivals.size)
      val generator = new Thread(() => arrivals.zipWithIndex.foreach { case (f, k) =>
        val wait = schedule(k) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        land(f, arriveDir)
        landed(k) = System.currentTimeMillis()
      })
      generator.start()
      span("streaming.arrivals")(awaitRows(q, backlogRows + arriveRows.sum, 120))
      generator.join()
      note("arrivals")
      res("generator_late_ms") = schedule.indices.map(k => (landed(k) - schedule(k)).toDouble)
      // a file's rows are committed by the first batch whose cumulative row
      // count covers it (the file source takes new files in landing order)
      val cum = batches(q).scanLeft((0L, 0L)) { case ((_, c), (end, n, _)) => (end, c + n) }.tail
      val lags = arriveRows.indices.map { k =>
        val need = backlogRows + arriveRows.take(k + 1).sum
        cum.find(_._2 >= need).map(b => (b._1 - schedule(k)).toDouble).getOrElse(Double.NaN)
      }
      res("lag_ms") = lags
      q.stop()
      q
    }
    val bs = batches(q)
    attempted += arrivals.size
    if (bs.map(_._2).sum != backlogRows + arriveRows.sum)
      failures += s"stream committed ${bs.map(_._2).sum} rows of ${backlogRows + arriveRows.sum}"
    // the last query took the backlog and the arrivals: the whole input;
    // every earlier one took the backlog alone
    res("stream_out") = drainOuts.last
    res("drain_outs") = drainOuts.init.toSeq
    res("stream_files") = 1 + arrivals.size
    res("stored_bytes_per_doc") =
      treeBytes(drainOuts.last)._1.toDouble / (backlogRows + arriveRows.sum)
    if (traced) {
      streamLayers(bs)
      sparkLayers(phase)
      tracedCheckpoint(input, rows, buckets)
    }
  }

  // ---- per-layer attribution (traced run only) ----------------------------

  private def streamLayers(bs: Seq[(Long, Long, Long)]): Unit =
    layers ++= Seq("stream.batches" -> bs.size.toDouble,
      "stream.batch_s_p50" -> median(bs.map(_._3 / 1000.0)),
      "stream.rows_per_batch" -> median(bs.map(_._2.toDouble)))

  /** Listener totals of the workload's production phase. */
  private def sparkLayers(c: Map[String, Double]): Unit =
    Seq("jobs", "stages", "shuffle_write_mb", "spill_mb", "task_skew")
      .foreach(k => layers(s"spark.$k") = c(k))

  /** Production runs over the same input untraced, traced, untraced: the
    * traced one against the mean of the other two is the tracing
    * overhead, and the traced one feeds the checkpoint.* and spark.*
    * layer metrics. */
  private def tracedCheckpoint(in: String, nRows: Long, n: Int): Unit = {
    def untraced(): Double = {
      spark.sparkContext.removeSparkListener(counters)
      try checkpointRun(in, nRows, n, check = true)._2
      finally spark.sparkContext.addSparkListener(counters)
    }
    if (workload == "stream_arrivals") untraced() // warm-up: first runs in this JVM
    val before = untraced()
    val ((dir, s), c) = counted(checkpointRun(in, nRows, n, check = true))
    val after = untraced()
    layers("trace.overhead_docs_per_s") = nRows / s - nRows / ((before + after) / 2)
    // rows read from storage and cache per row of one full scan: one full
    // scan per bucket today (the catalog's rows are taken out)
    val catalogRecords = counted(DocGen.mediaCatalogMap(spark, in))._2("input_records")
    val scanRecords = counted(noop(DocGen.docs(spark, in)))._2("input_records")
    layers("checkpoint.input_read_ratio") = (c("input_records") - catalogRecords) / scanRecords
    layers("checkpoint.jobs_per_bucket") = c("jobs") / n
    layers("checkpoint.stages_per_bucket") = c("stages") / n
    layers("checkpoint.tasks_per_bucket") = c("tasks") / n
    if (workload != "stream_arrivals") sparkLayers(c)
    val wall = TableIO.read(spark, Checkpoint.lineagePath(dir)).select("wall_ms")
      .collect().map(_.getLong(0) / 1000.0).toSeq
    layers("checkpoint.bucket_s_p50") = median(wall)
    layers("checkpoint.resume_probe_s") = median((1 to 5).map { _ =>
      span("engine.Checkpoint.completedBuckets")(
        secs(Checkpoint.completedBuckets(spark, dir, Some(n), Some(in))))._2
    })
    // report reads go through TableIO the other way round from the writes
    prepareReports(dir)
    var files = 0L
    val reads = (1 to 5).map { i =>
      val df = Checkpoint.storedViolations(spark, dir, severities(i % 4), Some(i % n))
      val s = span("engine.TableIO.read")(secs(df.collect()))._2
      files += Plans.collect(df.queryExecution.executedPlan) {
        case f: FileSourceScanExec => f.metrics("numFiles").value
      }.sum
      s
    }
    layers("tableio.read_s") = median(reads)
    layers("tableio.files_read") = files.toDouble / reads.size
  }

  private def traceLayers(): Unit = {
    val catalogS = (1 to 3).map(_ => span("data.DocGen.mediaCatalogMap")(
      secs(DocGen.mediaCatalogMap(spark, input)))._2)
    layers("data.catalog_s") = median(catalogS)
    // prefix plans: the same plan cut after each layer, through the noop
    // sink; a layer's self time is the difference of medians
    val li = DocGen.lineitem(spark, input).select("l_orderkey", "l_partkey",
      "l_linenumber", "l_quantity", "l_returnflag", "l_linestatus")
    val docs = DocGen.docs(spark, input)
    val prefixes = Seq(
      "data.scan" -> li,
      "data.derive" -> docs,
      "rules.violations" -> Validate.withViolations(docs, catalog),
      "rules.declarative_violations" -> Validate.withViolationsDeclarative(docs, catalog),
      "rules.verdict" -> Validate.verdicts(docs, catalog),
      "rules.explode" -> Validate.violations(docs, catalog))
    prefixes.foreach { case (_, df) => noop(df) }
    val times = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    (1 to 3).foreach(_ => prefixes.foreach { case (name, df) =>
      times.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
        span(s"prefix.$name")(secs(noop(df)))._2
    })
    val m = times.map { case (k, v) => k -> median(v.toSeq) }
    layers("data.scan_s") = m("data.scan")
    layers("data.derive_s") = m("data.derive") - m("data.scan")
    layers("rules.violations_s") = m("rules.violations") - m("data.derive")
    layers("rules.declarative_violations_s") = m("rules.declarative_violations") - m("data.derive")
    layers("rules.verdict_s") = m("rules.verdict") - m("rules.violations")
    layers("rules.explode_s") = m("rules.explode") - m("rules.violations")
    val (_, scan) = counted(noop(li))
    // Spark's bytesRead stays near zero here (Parquet's vectored reads
    // bypass the Hadoop statistics it is taken from), so the scan's input is
    // the footer's compressed size of the column chunks the scan projects
    val projected = Plans.collect(docs.queryExecution.executedPlan) {
      case f: FileSourceScanExec => f.requiredSchema.fieldNames.toSeq
    }.flatten.toSet
    val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      spark.sessionState.newHadoopConf(),
      new org.apache.hadoop.fs.Path(s"$input/lineitem.parquet"))
    layers("data.scan_input_mb") = footer.getBlocks.asScala.flatMap(_.getColumns.asScala)
      .filter(c => projected(c.getPath.toDotString)).map(_.getTotalSize).sum / 1e6
    layers("data.fanout_shuffle_mb") = scan("shuffle_write_mb")
    layers("rules.violations_per_doc") =
      Validate.violations(docs, catalog).count().toDouble / rows

    // the write alone: cached verdicts and violations, the two tables
    // Checkpoint.run writes per bucket
    val verdicts = Validate.verdicts(docs, catalog).cache()
    val violations = Validate.violations(docs, catalog).cache()
    verdicts.count()
    violations.count()
    var written = (0L, 0L)
    val writes = (1 to 3).map { _ =>
      val dir = fresh("write")
      val s = span("engine.TableIO.write")(secs {
        TableIO.write(verdicts, s"$dir/verdicts")
        TableIO.write(violations, s"$dir/violations")
      })._2
      written = treeBytes(dir)
      s
    }
    verdicts.unpersist()
    violations.unpersist()
    layers("tableio.write_s") = median(writes)
    layers("tableio.bytes_written_mb") = written._1 / 1e6
    layers("tableio.files_written") = written._2.toDouble

    if (workload != "stream_arrivals") {
      // the stream layer on this workload's input: one backlog file drained
      val inDir = fresh("trace-stream-in")
      new File(inDir).mkdirs()
      Files.copy(Paths.get(s"$input/lineitem.parquet"), Paths.get(s"$inDir/lineitem.parquet"))
      val q = startStream(inDir, fresh("trace-stream-out"))
      span("streaming.drain")(q.processAllAvailable())
      streamLayers(batches(q))
      q.stop()
    }
    layers("host.calib_s") = median(calib.toSeq)
  }
}
