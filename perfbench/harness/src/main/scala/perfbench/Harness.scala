package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.Success
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{AppendData, OverwriteByExpression}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark run in one fresh JVM.
  *
  * The engine is driven only through `graft.SparkEntry.queries` (and
  * `graft.SparkEntry.oracleSql` in the untimed check phase) plus Spark's
  * public API. Arguments are `key=value` pairs; `run.py` supplies them.
  *
  * The run starts the session, runs the JIT-warming scan (together the
  * set-up time), then makes one cold pass and warm passes over the
  * workload's queries, each query timed from the
  * call to its query function until its result has been materialized
  * through the `noop` sink, then writes every result to parquet for the
  * oracle compare. With trace=1 the run also records spans and per-layer
  * counts, and alternates traced with untraced warm passes so that the
  * tracing overhead is measured in the same run.
  */
object Harness {

  // -------------------------------------------------------------------
  // spans (traced runs only): kept in memory, written when the run ends

  final case class Span(trace: String, id: Int, parent: Int, name: String,
      startNs: Long, endNs: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextSpan = 0

  /** Times `body`; with `on` it also records a span named `name`. */
  private def span[T](on: Boolean, trace: String, parent: Int, name: String)(
      body: Int => T): (T, Double) = {
    val id = { nextSpan += 1; nextSpan }
    val t0 = System.nanoTime()
    val out = try body(id) finally {
      if (on) spans += Span(trace, id, parent, name, t0, System.nanoTime())
    }
    (out, (System.nanoTime() - t0) / 1e9)
  }

  // -------------------------------------------------------------------
  // per-layer counts, attributed through local properties

  private val KeyProp = "perfbench.key"   // "<pass>\t<query>"
  private val PhaseProp = "perfbench.phase" // build | plan | materialize

  final class Counts {
    var jobs, tasks, emptyTasks, failedTasks = 0L
    var runMs, cpuNs, gcMs = 0L
    var scanBytes, scanRows = 0L
    var shuffleWrite, shuffleRead, fetchWaitMs = 0L
    var spillDisk, spillMem = 0L
    var outBytes = 0L
    def add(c: Counts): Unit = {
      jobs += c.jobs; tasks += c.tasks; emptyTasks += c.emptyTasks
      failedTasks += c.failedTasks; runMs += c.runMs; cpuNs += c.cpuNs; gcMs += c.gcMs
      scanBytes += c.scanBytes; scanRows += c.scanRows
      shuffleWrite += c.shuffleWrite; shuffleRead += c.shuffleRead
      fetchWaitMs += c.fetchWaitMs; spillDisk += c.spillDisk; spillMem += c.spillMem
      outBytes += c.outBytes
    }
  }

  /** Counts jobs and task metrics per (pass, query, phase). Listener
    * events arrive asynchronously; [[drain]] waits for them. */
  final class Counter extends SparkListener {
    val counts = new ConcurrentHashMap[String, Counts]()
    private val stageKey = new ConcurrentHashMap[Int, String]()
    @volatile private var marker: Option[CountDownLatch] = None
    private var markerJob = -1

    private def key(p: java.util.Properties): Option[String] =
      Option(p).flatMap(pp => Option(pp.getProperty(KeyProp)).map(k =>
        k + "\t" + pp.getProperty(PhaseProp)))
    private def at(k: String): Counts = counts.computeIfAbsent(k, _ => new Counts)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      if (Option(e.properties).exists(_.getProperty(PhaseProp) == "marker"))
        markerJob = e.jobId
      key(e.properties).foreach(k => at(k).jobs += 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == markerJob) marker.foreach(_.countDown())
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      key(e.properties).foreach(k => stageKey.put(e.stageInfo.stageId, k))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageKey.get(e.stageId)).foreach { k =>
        val c = at(k)
        c.tasks += 1
        if (e.reason != Success) c.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.scanBytes += m.inputMetrics.bytesRead
          c.scanRows += m.inputMetrics.recordsRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          c.spillDisk += m.diskBytesSpilled
          c.spillMem += m.memoryBytesSpilled
          c.outBytes += m.outputMetrics.bytesWritten
          if (m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0)
            c.emptyTasks += 1
        }
      }

    /** Runs a one-task marker job and waits until its end event has been
      * delivered: events are delivered in order, so every earlier task
      * and job event has been counted by then. */
    def drain(spark: SparkSession): Unit = {
      val latch = new CountDownLatch(1)
      marker = Some(latch)
      val sc = spark.sparkContext
      sc.setLocalProperty(PhaseProp, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(PhaseProp, null)
      if (!latch.await(60, TimeUnit.SECONDS))
        System.err.println("[perfbench] listener did not drain within 60 s")
      marker = None
    }
  }

  // -------------------------------------------------------------------
  // self-test: the timed (noop) plan keeps the query's sorts and columns

  private val QueryOpt = "perfbench.query"

  /** Node names of a physical plan, looking through adaptive wrappers
    * (their initial plan) and query stages. */
  def nodeNames(p: SparkPlan): Seq[String] = p match {
    case a: AdaptiveSparkPlanExec => nodeNames(a.inputPlan)
    case s: QueryStageExec => nodeNames(s.plan)
    case other => other.nodeName +: (other.children ++ other.subqueries).flatMap(nodeNames)
  }
  def sorts(p: SparkPlan): Int =
    nodeNames(p).count(n => n == "Sort" || n.startsWith("TakeOrderedAndProject"))

  /** What a noop write executed: its sort count and its input columns. */
  final case class WritePlan(sorts: Int, columns: Seq[String])

  final class NoopPlans extends QueryExecutionListener {
    val byQuery = new ConcurrentHashMap[String, WritePlan]()
    private def record(qe: QueryExecution): Unit = {
      val name = qe.analyzed.collectFirst {
        case w: OverwriteByExpression => w.writeOptions.get(QueryOpt)
        case w: AppendData => w.writeOptions.get(QueryOpt)
      }.flatten
      name.foreach { q =>
        val plan = qe.executedPlan
        val write = plan.collectFirst {
          case p if p.nodeName.startsWith("OverwriteByExpression") ||
              p.nodeName.startsWith("AppendData") => p
        }
        val cols = write.flatMap(_.children.headOption).map(_.output.map(_.name))
          .getOrElse(Nil)
        byQuery.put(q, WritePlan(sorts(plan), cols))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  // -------------------------------------------------------------------
  // small helpers

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def errorOf(t: Throwable): String = {
    val msg = Option(t.getMessage).getOrElse("").linesIterator.take(1).mkString
    s"${t.getClass.getName}: ${msg.take(300)}"
  }

  /** Size of every regular file under `dirs`, by path. */
  private def tree(dirs: Seq[String]): Map[String, Long] =
    dirs.map(Paths.get(_)).filter(Files.exists(_)).flatMap { d =>
      val s = Files.walk(d)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toList
      finally s.close()
    }.toMap

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** (compilations, compile ms) so far. The histogram's reservoir keeps
    * 1028 samples, so the ms sum is exact only up to that many. */
  private def codegen(): (Long, Long) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.sum)
  }

  private def standing(spark: SparkSession): (Int, Long, Long) = {
    val rdds = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
    (rdds.length, rdds.map(_.memSize).sum, rdds.map(_.diskSize).sum)
  }

  // JSON output without a library dependency
  private def js(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => js(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => js(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(js).mkString("[", ",", "]")
    case other => js(other.toString)
  }

  // -------------------------------------------------------------------

  final case class QRun(query: String, buildS: Double, planS: Double,
      matS: Double, totalS: Double, error: Option[String])
  final case class Pass(index: Int, kind: String, traced: Boolean, wallS: Double,
      runs: Seq[QRun], compiles: Long, compileMs: Long, standingRdds: Int,
      standingBytes: Long, filesWritten: Int)

  def main(args: Array[String]): Unit = {
    val o = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val corpus = o("corpus")
    val cpus = o("cpus")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
      .config("spark.local.dir", o("local"))
      .config("spark.sql.warehouse.dir", o("warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    // fixed JIT-warming scan: a parquet scan, a shuffle and an aggregate
    // over `nation`, which has the same 25 rows in every corpus
    val (_, jitS) = span(false, "", 0, "jit") { _ =>
      spark.read.parquet(s"$corpus/nation.parquet")
        .groupBy(col("n_regionkey")).agg(sum(col("n_nationkey")))
        .write.format("noop").mode("overwrite").save()
    }
    val setupS = sessionS + jitS
    val out = Paths.get(o("out"))

    val trace = o("trace") == "1"
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val queries: Seq[(String, String)] = o("queries").split(",").toSeq.map { s =>
      val Array(q, m) = s.split(":"); q -> m
    }
    val module = queries.toMap
    val entry = graft.SparkEntry.queries
    val sinkDirs = Seq(o("sink"), o("tmp"), o("warehouse"))
    val sc = spark.sparkContext
    val counter = new Counter
    if (trace) sc.addSparkListener(counter)
    val noopPlans = new NoopPlans
    val rnd = new Random(seed)
    // each query's DataFrame from its latest successful pass; the check
    // phase writes these, so it re-executes but does not rebuild
    val lastDf = mutable.Map.empty[String, DataFrame]

    def runQuery(pass: Int, q: String, traced: Boolean, parent: Int): QRun = {
      val trace = s"$pass/$q"
      var buildS, planS, matS = 0.0
      def phase(p: String): Unit = if (traced) {
        sc.setLocalProperty(KeyProp, s"$pass\t$q"); sc.setLocalProperty(PhaseProp, p)
      }
      val (error, totalS) = span(traced, trace, parent, "query") { qid =>
        try {
          phase("build")
          val fn = entry.getOrElse(q, throw new NoSuchElementException(s"unknown query $q"))
          val (df, b) = span(traced, trace, qid, "build")(_ => fn(spark, corpus)); buildS = b
          if (traced) { phase("plan"); planS = span(traced, trace, qid, "plan")(_ =>
            df.queryExecution.executedPlan)._2 }
          phase("materialize")
          matS = span(traced, trace, qid, "materialize")(_ =>
            df.write.format("noop").mode("overwrite").option(QueryOpt, q).save())._2
          lastDf(q) = df
          None
        } catch { case t: Throwable => Some(errorOf(t)) }
        finally if (traced) { sc.setLocalProperty(KeyProp, null); sc.setLocalProperty(PhaseProp, null) }
      }
      System.err.println(f"[perfbench] pass $pass%d $q%s $totalS%.3f s${error.fold("")(" FAILED " + _)}")
      QRun(q, buildS, planS, matS, totalS, error)
    }

    val runStart = System.nanoTime()
    val passes = mutable.ArrayBuffer.empty[Pass]
    def runPass(kind: String, traced: Boolean, parent: Int): Unit = {
      val idx = passes.size
      val order = rnd.shuffle(queries.map(_._1))
      val (c0, ms0) = codegen()
      val files0 = if (traced) tree(sinkDirs).keySet else Set.empty[String]
      val (runs, wall) = span(traced, s"pass$idx", parent, s"pass.$kind") { pid =>
        order.map(q => runQuery(idx, q, traced, pid))
      }
      val (c1, ms1) = codegen()
      val (nr, mem, disk) = standing(spark)
      val files1 = if (traced) tree(sinkDirs).keySet else Set.empty[String]
      passes += Pass(idx, kind, traced, wall, runs, c1 - c0, ms1 - ms0, nr, mem + disk,
        (files1 -- files0).size)
    }

    val (_, runS) = span(trace, "run", 0, "run") { rid =>
      spark.listenerManager.register(noopPlans)
      runPass("cold", trace, rid)
      spark.listenerManager.unregister(noopPlans)
      // warm passes fill the measured window. At least three untraced: the
      // first warm pass still carries JIT warm-up, and the median of three
      // is steady. Traced runs alternate two traced and two untraced.
      val minWarm = if (trace) 4 else 3
      def warmCount = passes.count(_.kind == "warm")
      while (warmCount < minWarm ||
          ((System.nanoTime() - runStart) / 1e9 < seconds && warmCount < 200)) {
        runPass("warm", trace && warmCount % 2 == 0, rid)
      }
    }
    if (trace) counter.drain(spark)

    // end-of-run state, before the check phase adds its own work
    val peakRssMb = vmHwmMb()
    val (standingRdds, standingMem, standingDisk) = standing(spark)
    val left = tree(sinkDirs)
    val diskBytes = left.values.sum
    System.gc()
    val heapBytes = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

    // ----------------------------------------------------------------
    // check phase (untimed): results to parquet for the oracle compare,
    // and the self-test of the timed plan
    val checkStart = System.nanoTime()
    val checkDir = o("check")
    val checkErrors = mutable.LinkedHashMap.empty[String, String]
    val selfTest = mutable.LinkedHashMap.empty[String, String]
    val planSorts = mutable.LinkedHashMap.empty[String, Int]
    queries.map(_._1).sorted.foreach { q =>
      try {
        val df = lastDf.getOrElse(q, entry(q)(spark, corpus))
        val want = sorts(df.queryExecution.executedPlan)
        planSorts(q) = want
        Option(noopPlans.byQuery.get(q)) match {
          case Some(w) =>
            if (w.sorts < want)
              selfTest(q) = s"timed plan has ${w.sorts} sorts, query plan has $want"
            else if (w.columns != df.columns.toSeq)
              selfTest(q) = s"timed plan columns ${w.columns.mkString(",")} != ${df.columns.mkString(",")}"
          case None =>
            if (!passes.head.runs.exists(r => r.query == q && r.error.nonEmpty))
              selfTest(q) = "no plan captured for the timed noop write"
        }
        df.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$q")
      } catch { case t: Throwable => checkErrors(q) = errorOf(t) }
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => module.contains(k) }
    Files.writeString(Paths.get(checkDir, "oracle_sql.json"), js(oracle))

    // ----------------------------------------------------------------
    // record
    val cold = passes.head
    val warm = passes.tail.toSeq
    val errors = passes.flatMap(p => p.runs.flatMap(r =>
      r.error.map(e => Map("query" -> r.query, "pass" -> p.index, "error" -> e))))
    val record = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS, "session_s" -> sessionS, "jit_scan_s" -> jitS,
      "cold_pass_s" -> cold.wallS,
      "warm_pass_s" -> median(warm.filterNot(_.traced).map(_.wallS)),
      "warm_passes" -> warm.size, "run_s" -> runS,
      "check_s" -> (System.nanoTime() - checkStart) / 1e9,
      "executions" -> passes.map(_.runs.size).sum, "errors" -> errors,
      "peak_rss_mb" -> peakRssMb,
      "heap_live_mb" -> heapBytes / 1e6,
      "standing_mb" -> (standingMem + standingDisk) / 1e6, "standing_rdds" -> standingRdds,
      "disk_mb" -> diskBytes / 1e6, "disk_files" -> left.size,
      "check_errors" -> checkErrors.toMap, "selftest_failures" -> selfTest.toMap,
      "plan_sorts" -> planSorts.toMap,
      "per_query" -> passes.map(p => Map("pass" -> p.index, "kind" -> p.kind,
        "traced" -> p.traced, "wall_s" -> p.wallS,
        "queries" -> p.runs.map(r => r.query -> r.totalS).toMap)))
    if (trace) record("layers") =
      layers(passes.toSeq, module, o("modules").split(","), counter, sessionS, jitS)
    if (trace) Files.writeString(Paths.get(o("spans")), js(spans.map(s => Map(
      "trace" -> s.trace, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs))))
    Files.writeString(out, js(record.toMap))
    exit()
  }

  /** Ends the JVM without Spark's orderly shutdown: the caller deletes
    * the run directory, and stopping the context would only add time
    * to every run. */
  private def exit(): Unit = {
    System.out.flush(); System.err.flush()
    Runtime.getRuntime.halt(0)
  }

  /** Per-layer metrics of a traced run: the cold pass, and the median
    * over the traced warm passes; plus the tracing overhead, measured
    * against the untraced warm passes of the same run. */
  private def layers(passes: Seq[Pass], module: Map[String, String], modules: Seq[String],
      counter: Counter, sessionS: Double, jitS: Double): Map[String, Double] = {
    val out = mutable.LinkedHashMap[String, Double](
      "session.start_s" -> sessionS, "session.jit_scan_s" -> jitS)
    val counts = counter.counts.asScala
    def passCounts(p: Pass, phase: Option[String], mod: Option[String]): Counts = {
      val sum = new Counts
      counts.foreach { case (k, c) =>
        val Array(pass, q, ph) = k.split("\t")
        if (pass.toInt == p.index && phase.forall(_ == ph) && mod.forall(module.get(q).contains))
          sum.add(c)
      }
      sum
    }
    /** Self time of the spans named `name` in pass `p`: duration minus
      * the part covered by their children. */
    def selfS(p: Pass, name: String): Double = {
      val inPass = spans.filter(s => s.trace == s"pass${p.index}" ||
        s.trace.startsWith(s"${p.index}/"))
      val children = inPass.groupBy(_.parent)
      inPass.filter(_.name.startsWith(name)).map { s =>
        val covered = children.getOrElse(s.id, Nil).map(c => c.endNs - c.startNs).sum
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
    def one(p: Pass): Seq[(String, Double)] = {
      val all = passCounts(p, None, None)
      val mods = modules.flatMap { m =>
        val inMod = p.runs.filter(r => module.get(r.query).contains(m))
        Seq(s"$m.build_s" -> inMod.map(_.buildS).sum,
          s"$m.build_jobs" -> passCounts(p, Some("build"), Some(m)).jobs.toDouble)
      }
      mods ++ Seq(
        "catalyst.plan_s" -> p.runs.map(_.planS).sum,
        "codegen.compiles" -> p.compiles.toDouble,
        "codegen.compile_ms" -> p.compileMs.toDouble,
        "exec.materialize_s" -> p.runs.map(_.matS).sum,
        "exec.jobs" -> all.jobs.toDouble,
        "exec.tasks" -> all.tasks.toDouble,
        "exec.empty_task_frac" -> (if (all.tasks == 0) 0.0 else all.emptyTasks.toDouble / all.tasks),
        "exec.run_ms" -> all.runMs.toDouble,
        "exec.cpu_ms" -> all.cpuNs / 1e6,
        "exec.gc_ms" -> all.gcMs.toDouble,
        "exec.failed_tasks" -> all.failedTasks.toDouble,
        "scan.bytes" -> all.scanBytes.toDouble,
        "scan.rows" -> all.scanRows.toDouble,
        "shuffle.write_bytes" -> all.shuffleWrite.toDouble,
        "shuffle.read_bytes" -> all.shuffleRead.toDouble,
        "shuffle.fetch_wait_ms" -> all.fetchWaitMs.toDouble,
        "spill.disk_bytes" -> all.spillDisk.toDouble,
        "spill.mem_bytes" -> all.spillMem.toDouble,
        "standing.mb" -> p.standingBytes / 1e6,
        "standing.rdds" -> p.standingRdds.toDouble,
        "sink.bytes_written" -> all.outBytes.toDouble,
        "sink.files_written" -> p.filesWritten.toDouble,
        "span.pass_self_s" -> selfS(p, "pass."),
        "span.query_self_s" -> selfS(p, "query"))
    }
    one(passes.head).foreach { case (k, v) => out(s"$k.cold") = v }
    val tracedWarm = passes.tail.filter(_.traced).map(one)
    tracedWarm.head.map(_._1).foreach { k =>
      out(s"$k.warm") = median(tracedWarm.map(_.toMap.apply(k)))
    }
    val t = median(passes.tail.filter(_.traced).map(_.wallS))
    val u = median(passes.tail.filterNot(_.traced).map(_.wallS))
    out("trace.overhead_s") = t - u
    out("trace.overhead_frac") = if (u > 0) (t - u) / u else 0.0
    out.toMap
  }
}
