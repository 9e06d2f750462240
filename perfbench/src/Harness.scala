package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CyclicBarrier}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.GraftBenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark harness for the `graft.SparkEntry.queries` catalog.
  *
  * Runs one workload (a manifest slice of the catalog) from one or more
  * closed-loop clients on one SparkSession and writes what it saw to
  * `<out>/runs.json`; `perfbench/run.py` turns that into metrics. The
  * builders are called directly: each query run times the builder call and
  * the final noop-sink action separately.
  *
  * Phases: setup (JVM, session, warm-up scan of the fact table) → pass 1 of every client
  * (cold; each result is written to parquet for the oracle check) →
  * `--warmup` untimed passes, while the JIT compiles what pass 1 touched →
  * timed passes through the noop sink until `--seconds` have passed since
  * the timed phase began, at least `--min-warm` per client. Every pass runs
  * every query once, in an order drawn from `--seed`, the client and the
  * pass.
  *
  * With `--trace 1` a SparkListener, QueryExecutionListener and
  * StreamingQueryListener record job/stage spans and phase counters; they
  * are attached after setup and never in an untraced run.
  */
object Harness {
  /** Local property naming the span a Spark job belongs to:
    * `c<client>.p<pass>.<pos>.<query>/<build|action>`. Unlike the job
    * group it survives into streaming micro-batch threads, which set their
    * own job group. */
  val SpanKey = "graftbench.span"

  final case class Conf(
      manifest: String, workload: String, set: String, clients: Int,
      hygiene: Boolean, data: String, out: String, seconds: Double,
      seed: Long, trace: Boolean, cores: Int, warmup: Int, minWarm: Int)

  final case class Entry(query: String, module: String)

  final case class Run(
      client: Int, pass: Int, pos: Int, query: String, module: String,
      startMs: Double, buildS: Double, actionS: Double, hygieneS: Double,
      error: Option[String], dump: Option[String],
      persistedRdds: Int, persistedBytes: Long)

  def main(args: Array[String]): Unit = {
    val mainNs = System.nanoTime()
    val bootS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val conf = parse(args)
    val entries = loadManifest(conf)
    val out = Paths.get(conf.out)
    Files.createDirectories(out)

    val spark = session(conf)
    val sessionNs = System.nanoTime()
    warmUp(spark, conf.data)
    val readyNs = System.nanoTime()
    val tracer = if (conf.trace) Some(new Tracer(spark)) else None
    val clock = new Clock

    val catalog = graft.SparkEntry.queries
    val runs = new ConcurrentLinkedQueue[Run]()
    val startNs = System.nanoTime()
    // process start to the cold pass
    val startS = bootS + (startNs - mainNs) / 1e9
    val marks = new ConcurrentHashMap[String, Snapshot]()
    marks.put("start", Snapshot.take(tracer))
    @volatile var warmStartNs = 0L
    val barrier = new CyclicBarrier(conf.clients, () => {
      tracer.foreach(_.drain())
      marks.put("warm", Snapshot.take(tracer))
      tracer.foreach(_.resetHeapPeaks())
      warmStartNs = System.nanoTime()
    })
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    // pass 1 is cold and checked, the warm-up passes are untimed
    val timedFrom = 2 + conf.warmup

    def client(c: Int): Unit = {
      def pass(p: Int): Unit = {
        val order = new Random(conf.seed * 1000003L + c * 1009L + p)
          .shuffle(entries)
        order.zipWithIndex.foreach { case (e, pos) =>
          runs.add(runOne(spark, conf, clock, tracer, catalog(e.query), e,
            c, p, pos, check = p == 1))
        }
      }
      (1 until timedFrom).foreach(pass)
      barrier.await()
      var p = timedFrom
      while (p < timedFrom + conf.minWarm ||
          (System.nanoTime() - warmStartNs) / 1e9 < conf.seconds) {
        pass(p)
        p += 1
      }
    }
    val threads = (0 until conf.clients).map { c =>
      val t = new Thread(() =>
        try client(c)
        catch { case e: Throwable => failure.compareAndSet(null, e); barrier.reset() },
        s"graftbench-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    Option(failure.get).foreach(e => throw e)
    val endNs = System.nanoTime()
    tracer.foreach(_.drain())
    marks.put("end", Snapshot.take(tracer))

    val oracle = graft.SparkEntry.oracleSql
    val picked = entries.map(_.query).toSet
    val sb = new StringBuilder
    sb ++= "{\"workload\":" ++= Json.str(conf.workload)
    sb ++= ",\"set\":" ++= Json.str(conf.set)
    sb ++= s",\"clients\":${conf.clients},\"seed\":${conf.seed},\"cores\":${conf.cores}"
    sb ++= s",\"timed_from\":$timedFrom"
    // set-up ends at the first timed query: after the cold and warm-up passes
    sb ++= s",\"setup\":{\"setup_s\":${startS + (warmStartNs - startNs) / 1e9}" +
      s",\"start_s\":$startS,\"jvm_boot_s\":$bootS" +
      s",\"session_s\":${(sessionNs - mainNs) / 1e9}" +
      s",\"warmup_s\":${(readyNs - sessionNs) / 1e9}}"
    sb ++= s",\"window\":{\"start_ms\":${clock.ms(startNs)}" +
      s",\"warm_start_ms\":${clock.ms(warmStartNs)},\"end_ms\":${clock.ms(endNs)}" +
      s",\"warm_s\":${(endNs - warmStartNs) / 1e9}}"
    sb ++= ",\"marks\":" ++= marks.asScala.map { case (k, v) =>
      Json.str(k) + ":" + v.json }.mkString("{", ",", "}")
    sb ++= ",\"oracle\":" ++= oracle.filter(kv => picked(kv._1))
      .map { case (k, v) => Json.str(k) + ":" + Json.str(v) }.mkString("{", ",", "}")
    sb ++= ",\"runs\":" ++= runs.asScala.toSeq.sortBy(r => (r.client, r.pass, r.pos))
      .map(runJson).mkString("[", ",\n", "]")
    sb ++= "}\n"
    Files.write(out.resolve("runs.json"), sb.toString.getBytes(UTF_8))
    tracer.foreach(_.writeSpans(out.resolve("spans.jsonl"), runs.asScala.toSeq))
    spark.stop()
  }

  /** One query run: the builder call and the final action timed
    * separately, then hygiene. In pass 1 the final action writes the result
    * to parquet for the oracle check; later passes use Bench's noop sink. */
  def runOne(spark: SparkSession, conf: Conf, clock: Clock,
             tracer: Option[Tracer],
             fn: (SparkSession, String) => DataFrame, e: Entry,
             c: Int, p: Int, pos: Int, check: Boolean): Run = {
    val sc = spark.sparkContext
    val span = s"c$c.p$p.$pos.${e.query}"
    val dump = if (check) Some(Paths.get(conf.out, "results", s"c${c}_${e.query}").toString)
      else None
    sc.setJobGroup(span, e.query)
    sc.setLocalProperty(SpanKey, s"$span/build")
    val t0 = System.nanoTime()
    var t1 = 0L
    var error: Option[String] = None
    try {
      val df = fn(spark, conf.data)
      t1 = System.nanoTime()
      sc.setLocalProperty(SpanKey, s"$span/action")
      val w = df.write.mode("overwrite")
      dump match {
        case Some(dir) => w.parquet(dir)
        case None => w.format("noop").save()
      }
    } catch {
      case ex: Throwable => error = Some(describe(ex))
    }
    val t2 = System.nanoTime()
    if (t1 == 0L) t1 = t2
    // storage still held at query end, before hygiene drops it
    val (nRdd, nBytes) =
      if (tracer.isEmpty) (0, 0L)
      else {
        val info = sc.getRDDStorageInfo
        (info.length, info.map(i => i.memSize + i.diskSize).sum)
      }
    sc.setLocalProperty(SpanKey, null)
    sc.clearJobGroup()
    if (conf.hygiene) {
      // Bench's between-query hygiene, timed inside the pass, without its
      // System.gc(): under the build's ExplicitGCInvokesConcurrent that
      // starts a concurrent cycle overlapping the next query
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    val t3 = System.nanoTime()
    Run(c, p, pos, e.query, e.module, clock.ms(t0), (t1 - t0) / 1e9,
      (t2 - t1) / 1e9, (t3 - t2) / 1e9, error, dump.filter(_ => error.isEmpty),
      nRdd, nBytes)
  }

  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
      .linesIterator.nextOption().getOrElse("").take(300)

  def runJson(r: Run): String =
    s"""{"client":${r.client},"pass":${r.pass},"pos":${r.pos},""" +
      s""""query":${Json.str(r.query)},"module":${Json.str(r.module)},""" +
      s""""start_ms":${r.startMs},"build_s":${r.buildS},"action_s":${r.actionS},""" +
      s""""hygiene_s":${r.hygieneS},"error":${r.error.map(Json.str).getOrElse("null")},""" +
      s""""dump":${r.dump.map(Json.str).getOrElse("null")},""" +
      s""""persisted_rdds":${r.persistedRdds},"persisted_bytes":${r.persistedBytes}}"""

  def session(conf: Conf): SparkSession = {
    val spark = SparkSession.builder()
      .appName(s"graftbench-${conf.workload}")
      .master(s"local[${conf.cores}]")
      .config("spark.sql.shuffle.partitions", conf.cores.toString)
      .config("graft.stream.shufflePartitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.warehouse.dir", Paths.get(conf.out, "warehouse").toAbsolutePath.toString)
      .config("spark.local.dir", Paths.get(conf.out, "local").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Bench's warm-up, cut to one table: JVM/codegen first touch, a full
    * scan of the fact table, one tiny shuffle through the noop sink. The
    * other tables' first touch lands in pass 1. */
  def warmUp(spark: SparkSession, data: String): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    graft.Tables.lineitem(spark, data).write.mode("overwrite").format("noop").save()
    spark.range(100000).selectExpr("id % 7 AS k", "id AS v").groupBy("k").sum("v")
      .write.mode("overwrite").format("noop").save()
  }

  /** Manifest rows are `query  workload  module  tier`. The whole catalog
    * must be assigned, each query once, and every name must exist. */
  def loadManifest(conf: Conf): Seq[Entry] = {
    val rows = Files.readAllLines(Paths.get(conf.manifest), UTF_8).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\s+").toSeq)
    val bad = rows.filter(_.length != 4)
    val catalog = graft.SparkEntry.queries.keySet
    val names = rows.map(_.head)
    val dups = names.diff(names.distinct).distinct
    val unknown = names.filterNot(catalog).distinct
    val unassigned = catalog.toSeq.filterNot(names.toSet).sorted
    val workloads = Set("relational", "corpus", "train_stream")
    val modules = Set("operators", "ml", "streaming", "plans", "sources")
    val badVals = rows.filter(r => r.length == 4 &&
      (!workloads(r(1)) || !modules(r(2)) || !Set("core", "full")(r(3))))
    val problems = Seq(
      "malformed rows" -> bad.map(_.mkString(" ")),
      "listed more than once" -> dups,
      "not in SparkEntry.queries" -> unknown,
      "catalog queries not assigned" -> unassigned,
      "unknown workload, module or tier" -> badVals.map(_.mkString(" "))
    ).filter(_._2.nonEmpty)
    if (problems.nonEmpty) {
      problems.foreach { case (what, qs) =>
        System.err.println(s"manifest: $what: ${qs.mkString(", ")}") }
      sys.exit(3)
    }
    rows.filter(r => r(1) == conf.workload && (conf.set == "full" || r(3) == "core"))
      .map(r => Entry(r.head, r(2)))
  }

  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(m("manifest"), m("workload"), m.getOrElse("set", "core"),
      m.getOrElse("clients", "1").toInt, m.getOrElse("hygiene", "1") == "1",
      m("data"), m("out"), m("seconds").toDouble, m("seed").toLong,
      m.getOrElse("trace", "0") == "1", m.getOrElse("cores", "4").toInt,
      m.getOrElse("warmup", "1").toInt, m.getOrElse("min-warm", "2").toInt)
  }

  /** Epoch milliseconds with nanosecond resolution. */
  final class Clock {
    private val baseMs = System.currentTimeMillis().toDouble
    private val baseNs = System.nanoTime()
    def ms(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
  }

  /** Process-wide counters read at a phase boundary. CPU comes from the
    * OS bean and needs no listener; the rest is read only when tracing. */
  final case class Snapshot(values: Seq[(String, Double)]) {
    def json: String = values.map { case (k, v) => s"${Json.str(k)}:$v" }
      .mkString("{", ",", "}")
  }
  object Snapshot {
    def take(tracer: Option[Tracer]): Snapshot = {
      val os = ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      Snapshot(Seq("process_cpu_s" -> os.getProcessCpuTime / 1e9) ++
        tracer.map(_.counters).getOrElse(Seq.empty))
    }
  }

  /** Listeners for the traced run. Job and stage spans are kept in memory
    * and written when the run ends; process-wide counters are read at the
    * phase boundaries after a bus drain. */
  final class Tracer(spark: SparkSession) {
    private val sc = spark.sparkContext
    private val spans = new ConcurrentLinkedQueue[String]()
    private val jobs = new ConcurrentHashMap[Int, (String, String, Double)]()
    private val stageJob = new ConcurrentHashMap[Int, Int]()
    private val stageAgg = new ConcurrentHashMap[(Int, Int), Array[Double]]()
    private val n = new ConcurrentHashMap[String, java.lang.Double]()
    private def add(k: String, v: Double): Unit = n.merge(k, v, (a, b) => a + b)

    // stage aggregate slots
    private val Fields = Seq("tasks", "run_s", "cpu_s", "result_bytes",
      "scan_bytes", "scan_records", "write_bytes", "shuffle_write_bytes",
      "shuffle_read_bytes", "fetch_wait_s", "spill_bytes", "peak_exec_mem_bytes",
      "delay_s")
    private val Peak = Fields.indexOf("peak_exec_mem_bytes")

    private val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        val span = p.flatMap(x => Option(x.getProperty(SpanKey))).getOrElse("")
        val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
        jobs.put(e.jobId, (span, group, e.time.toDouble))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val (span, group, start) = jobs.getOrDefault(e.jobId, ("", "", e.time.toDouble))
        val ok = e.jobResult == JobSucceeded
        spans.add(s"""{"kind":"job","id":"job${e.jobId}","parent":${Json.str(span)},""" +
          s""""group":${Json.str(group)},"start_ms":$start,"end_ms":${e.time},"ok":$ok}""")
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        val a = stageAgg.computeIfAbsent((e.stageId, e.stageAttemptId),
          _ => new Array[Double](Fields.length))
        val info = e.taskInfo
        a.synchronized {
          a(0) += 1
          if (m != null) {
            val total = info.finishTime - info.launchTime
            val delay = math.max(0L, total - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime -
              (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
            a(1) += m.executorRunTime / 1e3
            a(2) += m.executorCpuTime / 1e9
            a(3) += m.resultSize
            a(4) += m.inputMetrics.bytesRead
            a(5) += m.inputMetrics.recordsRead
            a(6) += m.outputMetrics.bytesWritten
            a(7) += m.shuffleWriteMetrics.bytesWritten
            a(8) += m.shuffleReadMetrics.totalBytesRead
            a(9) += m.shuffleReadMetrics.fetchWaitTime / 1e3
            a(10) += m.memoryBytesSpilled + m.diskBytesSpilled
            a(Peak) = math.max(a(Peak), m.peakExecutionMemory.toDouble)
            a(12) += delay / 1e3
          }
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = e.stageInfo
        val a = Option(stageAgg.remove((s.stageId, s.attemptNumber())))
          .getOrElse(new Array[Double](Fields.length))
        val job = Option(stageJob.get(s.stageId)).map(j => s""""job${j}"""").getOrElse("null")
        val attrs = Fields.zip(a).map { case (k, v) => s""""$k":$v""" }.mkString(",")
        spans.add(s"""{"kind":"stage","id":"stage${s.stageId}.${s.attemptNumber()}",""" +
          s""""parent":$job,"start_ms":${s.submissionTime.getOrElse(0L)},""" +
          s""""end_ms":${s.completionTime.getOrElse(0L)},$attrs}""")
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit =
        if (e.getClass.getSimpleName == "SparkListenerSQLAdaptiveExecutionUpdate")
          add("aqe_replans", 1)
    }
    private val qeListener = new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit = {
        add("executions", 1)
        add("plan_s", qe.tracker.phases.values.map(_.durationMs).sum / 1e3)
      }
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    }
    private val streamListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val ops = p.stateOperators
        spans.add(s"""{"kind":"batch","run_id":${Json.str(p.runId.toString)},""" +
          s""""batch":${p.batchId},"batch_s":${Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L) / 1e3},""" +
          s""""commit_s":${ops.map(_.commitTimeMs).sum / 1e3},""" +
          s""""state_rows":${ops.map(_.numRowsTotal).sum},""" +
          s""""state_bytes":${ops.map(_.memoryUsedBytes).sum}}""")
      }
    }
    GraftBenchBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)

    def drain(): Unit = GraftBenchBridge.drainListenerBus(sc)

    def resetHeapPeaks(): Unit = ManagementFactory.getMemoryPoolMXBeans.asScala
      .foreach(_.resetPeakUsage())

    def counters: Seq[(String, Double)] = {
      val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      val (compiles, meanMs) = GraftBenchBridge.codegenCompiles
      val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum
      Seq(
        "gc_s" -> gcs.map(_.getCollectionTime).sum / 1e3,
        "jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
        "heap_peak_bytes" -> heapPeak.toDouble,
        "codegen_compiles" -> compiles.toDouble,
        "codegen_mean_s" -> meanMs / 1e3) ++
        Seq("executions", "plan_s", "aqe_replans").map(k =>
          k -> Option(n.get(k)).map(_.doubleValue).getOrElse(0.0))
    }

    /** Writes every span: per query run a root `query` span with its
      * `<module>.build` and `action` children, then the job, stage and
      * micro-batch records the listeners kept. */
    def writeSpans(path: Path, runs: Seq[Run]): Unit = {
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
      spark.streams.removeListener(streamListener)
      val querySpans = runs.flatMap { r =>
        val id = s"c${r.client}.p${r.pass}.${r.pos}.${r.query}"
        val built = r.startMs + r.buildS * 1e3
        val end = built + r.actionS * 1e3
        def span(kind: String, sid: String, parent: String, s: Double, e: Double) =
          s"""{"kind":${Json.str(kind)},"id":${Json.str(sid)},"parent":$parent,""" +
            s""""query":${Json.str(r.query)},"start_ms":$s,"end_ms":$e}"""
        Seq(span("query", id, "null", r.startMs, end),
          span(s"${r.module}.build", s"$id/build", Json.str(id), r.startMs, built),
          span("action", s"$id/action", Json.str(id), built, end))
      }
      Files.write(path, (querySpans ++ spans.asScala).mkString("", "\n", "\n").getBytes(UTF_8))
    }
  }

  object Json {
    def str(s: String): String = {
      val b = new StringBuilder("\"")
      s.foreach {
        case '"' => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
        case c => b += c
      }
      (b += '"').toString
    }
  }
}
