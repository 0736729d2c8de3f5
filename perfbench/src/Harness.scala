package org.apache.spark {
  /** Access to the listener bus drain, which Spark keeps package-private. */
  object PerfbenchBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package perfbench {

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{SparkEntry, Tables}
import graft.model._

/** One closed-loop benchmark process: set up, warm up, run timed
  * iterations for a fixed time, then dump the outputs the caller checks.
  * Reads its configuration from the JSON file named by the only argument
  * and writes every raw sample to the `out` file it names; statistics are
  * computed by the caller. */
object Harness {
  val mapper = new ObjectMapper()

  def now(): Long = System.nanoTime()
  def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readTree(Files.readString(Paths.get(args(0))))
    val run = new Run(cfg)
    try run.execute()
    finally run.close()
  }

  def str(n: JsonNode, k: String): String = n.get(k).asText()
  def strs(n: JsonNode, k: String): Seq[String] =
    Option(n.get(k)).map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
}

/** A timed span recorded by the traced run. */
final case class Span(id: Long, parent: Long, name: String, iter: Int,
    startNs: Long, endNs: Long)

/** In-memory span recorder; written out when the run ends. */
final class Tracer {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  @volatile var enabled = false
  @volatile var iter = -1

  def currentId: Long = current.get()

  def apply[T](name: String, parent: Long = -1)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val p = if (parent >= 0) parent else current.get().longValue
      val saved = current.get()
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, p, name, iter, t0, System.nanoTime()))
        current.set(saved)
      }
    }
}

/** Spark scheduling and execution counters, also split by job group. */
final class SchedListener extends SparkListener {
  final class Acc {
    val jobs, stages, tasks, failures = new AtomicLong
    val delayMs, busyMs, gcMs, shufW, shufR, spill, input = new AtomicLong
    val peakMem = new AtomicLong
    /** (launch, finish) of every task, kept for job groups only. */
    val intervals = new ConcurrentLinkedQueue[(Long, Long)]()
    /** Wall time during which at least one task ran. */
    def taskWallMs: Long = {
      var total, end = 0L
      var start = -1L
      intervals.asScala.toSeq.sorted.foreach { case (a, b) =>
        if (start < 0 || a > end) { if (start >= 0) total += end - start; start = a; end = b }
        else end = math.max(end, b)
      }
      if (start >= 0) total + end - start else 0L
    }
    def snapshot: Map[String, Long] = Map(
      "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
      "task_failures" -> failures.get, "delay_ms" -> delayMs.get,
      "busy_ms" -> busyMs.get, "gc_ms" -> gcMs.get, "shuffle_write" -> shufW.get,
      "shuffle_read" -> shufR.get, "spill" -> spill.get, "input" -> input.get,
      "peak_mem" -> peakMem.get)
  }
  val total = new Acc
  val byGroup = new java.util.concurrent.ConcurrentHashMap[String, Acc]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  private def group(stage: Int): Option[Acc] =
    Option(stageGroup.get(stage)).filter(_.nonEmpty).map(g => byGroup.computeIfAbsent(g, _ => new Acc))
  private def accs(stage: Int): Seq[Acc] = total +: group(stage).toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(s => stageGroup.put(s, g))
    total.jobs.incrementAndGet()
    if (g.nonEmpty) byGroup.computeIfAbsent(g, _ => new Acc).jobs.incrementAndGet()
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    stageSubmit.put(e.stageInfo.stageId, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    accs(e.stageInfo.stageId).foreach(_.stages.incrementAndGet())
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val as = accs(e.stageId)
    val info = e.taskInfo
    val m = e.taskMetrics
    val delay = math.max(0L, info.launchTime - stageSubmit.getOrDefault(e.stageId, info.launchTime))
    group(e.stageId).foreach(_.intervals.add((info.launchTime, info.finishTime)))
    as.foreach { a =>
      a.tasks.incrementAndGet()
      if (!info.successful) a.failures.incrementAndGet()
      a.delayMs.addAndGet(delay)
      a.busyMs.addAndGet(info.finishTime - info.launchTime)
      if (m != null) {
        a.gcMs.addAndGet(m.jvmGCTime)
        a.shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        a.input.addAndGet(m.inputMetrics.bytesRead)
        a.peakMem.accumulateAndGet(m.peakExecutionMemory, math.max)
      }
    }
  }
}

/** Catalyst phase times of every QueryExecution Spark reports. */
final class PhaseListener extends QueryExecutionListener {
  /** (analysis start ms, analysis ms, optimization ms, planning ms, plan lines) */
  val records = new ConcurrentLinkedQueue[Array[Long]]()
  private def rec(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def d(k: String) = ph.get(k).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
    val lines = scala.util.Try(qe.executedPlan.treeString.count(_ == '\n').toLong).getOrElse(0L)
    records.add(Array(start, d("analysis"), d("optimization"), d("planning"), lines))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = rec(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = rec(qe)
}

final class Run(val cfg0: JsonNode) {
  import Harness._

  val workload = str(cfg0, "workload")
  val dataDir = str(cfg0, "data_dir")
  val workDir = Paths.get(str(cfg0, "work_dir"))
  val seconds = cfg0.get("seconds").asDouble()
  val minIters = cfg0.get("min_iters").asInt()
  val maxIters = cfg0.get("max_iters").asInt()
  val trace = cfg0.get("trace").asBoolean()
  val cpus = cfg0.get("cpus").asInt()
  val tracer = new Tracer
  val out = mapper.createObjectNode()
  val iters = out.putArray("iterations")
  val errors = out.putArray("errors")

  val spark: SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", workDir.resolve("spark-warehouse").toString)
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
    Tables.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }
  spark.sparkContext.setLogLevel("ERROR")
  Tables.applyAdaptivePolicy(spark)
  val sched = new SchedListener
  val phases = new PhaseListener
  if (trace) {
    spark.sparkContext.addSparkListener(sched)
    spark.listenerManager.register(phases)
  }

  def close(): Unit = spark.stop()

  def drain(): Unit = if (trace) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def error(op: String, e: Throwable): Unit = {
    val n = errors.addObject()
    n.put("op", op)
    n.put("error", s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(400)}")
    System.err.println(s"perfbench: $op failed: ${e.getClass.getName}: ${e.getMessage}")
  }

  def execute(): Unit = {
    val t0 = now()
    tracer.enabled = trace
    tracer.iter = -1
    tracer("tables.register") { Tables.registerAll(spark, dataDir) }
    out.put("tables_register_ms", secs(t0, now()) * 1000)
    val wl: Workload = workload match {
      case "models_full" | "models_incremental" => new Models(this)
      case "pipelines_heavy" | "inventory_floor" => new Queries(this)
    }
    wl.prepare()
    tracer.enabled = false
    if (wl.needsWarmup) wl.iteration(-1, traced = false) // untimed warm-up
    out.put("ready_epoch_ms", System.currentTimeMillis())
    System.err.println(f"perfbench: ready after ${secs(t0, now())}%.1f s")
    val loopStart = now()
    var i = 0
    while (i < maxIters && (i < minIters || secs(loopStart, now()) < seconds)) {
      // The traced run interleaves untraced and traced iterations in
      // ABBA blocks, so the iterations still getting faster as the JVM
      // warms do not bias the tracing overhead either way.
      val traced = trace && (i % 4 == 1 || i % 4 == 2)
      if (traced) drain()
      val before = sched.total.snapshot
      tracer.enabled = traced
      tracer.iter = i
      val rec = wl.iteration(i, traced)
      tracer.enabled = false
      rec.put("index", i)
      rec.put("traced", traced)
      if (traced) {
        drain()
        val sn = rec.putObject("sched")
        sched.total.snapshot.foreach { case (k, v) =>
          sn.put(k, if (k == "peak_mem") v else v - before(k))
        }
        wl.inspect(rec)
      }
      iters.add(rec)
      System.err.println(f"perfbench: iteration $i ${rec.get("wall_s").asDouble()}%.2f s")
      i += 1
    }
    tracer.enabled = false
    out.put("loop_s", secs(loopStart, now()))
    wl.dumpOutputs(workDir.resolve("check"))
    drain()
    if (trace) writeTrace()
    out.put("spark_version", spark.version)
    val confs = out.putObject("confs")
    spark.conf.getAll.toSeq.sortBy(_._1).foreach { case (k, v) => confs.put(k, v) }
    mapper.writeValue(Paths.get(str(cfg0, "out")).toFile, out)
  }

  def writeTrace(): Unit = {
    val arr = out.putArray("spans")
    tracer.spans.asScala.toSeq.sortBy(_.id).foreach { s =>
      val n = arr.addObject()
      n.put("id", s.id); n.put("parent", s.parent); n.put("name", s.name)
      n.put("iter", s.iter); n.put("start_ns", s.startNs); n.put("end_ns", s.endNs)
    }
    def acc(n: com.fasterxml.jackson.databind.node.ObjectNode, a: SchedListener#Acc): Unit = {
      a.snapshot.foreach { case (k, v) => n.put(k, v) }
      n.put("task_wall_ms", a.taskWallMs)
    }
    val sn = out.putObject("sched")
    acc(sn.putObject("total"), sched.total)
    val groups = sn.putObject("groups")
    sched.byGroup.asScala.toSeq.sortBy(_._1).foreach { case (g, a) => acc(groups.putObject(g), a) }
    val ph = out.putArray("phases")
    phases.records.asScala.foreach(r => r.foreach(v => ph.add(v)))
  }
}

trait Workload {
  def prepare(): Unit
  def iteration(i: Int, traced: Boolean): com.fasterxml.jackson.databind.node.ObjectNode
  def dumpOutputs(dir: Path): Unit
  /** False when prepare() already ran one full iteration's work. */
  def needsWarmup: Boolean = true
  /** Extra readings of a traced iteration, taken after its Spark
    * counters were read. */
  def inspect(rec: com.fasterxml.jackson.databind.node.ObjectNode): Unit = ()
}

/** pipelines_heavy / inventory_floor: every query of the list, in the
  * seeded order, built and then written in full to the `noop` sink. */
final class Queries(run: Run) extends Workload {
  import Harness._
  private val all = SparkEntry.queries
  private val names = strs(run.cfg0, "queries")

  def prepare(): Unit =
    names.filterNot(all.contains).foreach(n => sys.error(s"unknown query $n"))

  def iteration(i: Int, traced: Boolean) = {
    val rec = mapper.createObjectNode()
    val ops = rec.putArray("ops")
    val it0 = now()
    rec.put("start_ms", System.currentTimeMillis())
    names.foreach { q =>
      val op = ops.addObject()
      op.put("name", q)
      val sc = run.spark.sparkContext
      val t0 = now()
      op.put("start_ms", System.currentTimeMillis())
      try {
        if (traced) sc.setJobGroup(s"$q:build", q)
        val df = run.tracer(s"query.build:$q") { all(q)(run.spark, run.dataDir) }
        last(q) = df
        val t1 = now()
        if (traced) sc.setJobGroup(s"$q:exec", q)
        run.tracer(s"query.exec:$q") {
          df.write.format("noop").mode("overwrite").save()
        }
        val t2 = now()
        op.put("build_s", secs(t0, t1)); op.put("exec_s", secs(t1, t2))
        op.put("s", secs(t0, t2)); op.put("ok", true)
      } catch {
        case e: Throwable =>
          run.error(q, e); op.put("s", secs(t0, now())); op.put("ok", false)
      } finally if (traced) sc.clearJobGroup()
      op.put("end_ms", System.currentTimeMillis())
    }
    rec.put("wall_s", secs(it0, now()))
    rec.put("end_ms", System.currentTimeMillis())
    rec
  }

  // The last timed iteration's frames: the dump re-executes their final
  // plans without repeating the eager work done while they were built.
  private val last = scala.collection.mutable.Map.empty[String, DataFrame]

  def dumpOutputs(dir: Path): Unit = {
    val oracle = SparkEntry.oracleSql
    val o = run.out.putObject("oracle")
    names.foreach { q =>
      oracle.get(q).foreach(sql => o.put(q, sql))
      try last.getOrElse(q, all(q)(run.spark, run.dataDir))
        .write.mode("overwrite").parquet(dir.resolve(q).toString)
      catch { case e: Throwable => run.error(s"dump:$q", e) }
    }
  }

}

/** models_full / models_incremental over a generated model project. */
final class Models(run: Run) extends Workload {
  import Harness._
  private val spark = run.spark
  private val incremental = run.workload == "models_incremental"
  private val projectDir = Paths.get(str(run.cfg0, "project_dir"))
  private val whDir = run.workDir.resolve("warehouse")
  private val snapDir = run.workDir.resolve("snapshot")
  private val deltaDirs = strs(run.cfg0, "delta_dirs")
  private val editSets: Seq[Map[String, String]] =
    Option(run.cfg0.get("edits")).map(_.elements().asScala.map { n =>
      n.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }.toSeq).getOrElse(Nil)
  private val baseFiles: Map[String, String] = {
    val s = Files.walk(projectDir)
    try s.iterator().asScala.filter(_.toString.endsWith(".sql"))
      .map(p => projectDir.relativize(p).toString -> Files.readString(p)).toMap
    finally s.close()
  }
  private val feeds = Seq("orders_cdc", "events_cdc")
  private val sources: Map[(String, String), String] =
    (Tables.names ++ feeds).map(t => ("raw", t) -> t).toMap
  private var lastRun: Seq[String] = Nil
  private var runner: ModelRunner = _
  private var wh: Warehouse = _

  private def useSources(dir: String): Unit = {
    (Seq("orders", "events") ++ feeds).foreach { t =>
      Tables.load(spark, dir, t).createOrReplaceTempView(t)
    }
  }

  private def writeProject(files: Map[String, String]): Unit =
    (baseFiles ++ files).foreach { case (rel, text) =>
      val p = projectDir.resolve(rel)
      if (!Files.exists(p) || Files.readString(p) != text) Files.writeString(p, text)
    }

  private def open(): Unit = {
    val state = run.tracer("state.load") { StateStore(whDir.resolve("state").toString) }
    wh = new Warehouse(spark, whDir.toString, state)
    runner = new ModelRunner(wh, sources)
    run.tracer("template.load") { runner.addModelsFromDir(projectDir) }
  }

  // A full-refresh iteration repeats the initial build, which is its warm-up.
  override def needsWarmup: Boolean = incremental

  def prepare(): Unit = {
    useSources(run.dataDir)
    writeProject(Map.empty)
    open()
    run.tracer("runner.run") { runner.run(fullRefresh = true) }
    if (incremental) {
      deleteTree(snapDir)
      linkTree(whDir, snapDir)
    }
  }

  private def restore(): Unit = {
    deleteTree(whDir)
    linkTree(snapDir, whDir)
  }

  def iteration(i: Int, traced: Boolean) = {
    val rec = mapper.createObjectNode()
    val k = math.floorMod(i, math.max(1, deltaDirs.size))
    var before: Map[String, (Long, Long)] = Map.empty
    var contentBefore: Map[String, DataFrame] = Map.empty
    if (incremental) {
      restore()
      useSources(deltaDirs(k))
      writeProject(editSets(k))
      // Tables of the restored snapshot re-point their relations.
      val st = StateStore(whDir.resolve("state").toString)
      val w = new Warehouse(spark, whDir.toString, st)
      st.all.keys.toSeq.sorted.filter(w.exists).foreach(w.refreshView)
    }
    if (traced) {
      before = fileSizes(whDir)
      if (incremental) {
        val st = StateStore(whDir.resolve("state").toString)
        val w = new Warehouse(spark, whDir.toString, st)
        contentBefore = st.all.keys.filter(w.exists).map(m => m -> w.read(m)).toMap
      }
    }
    val t0 = now()
    rec.put("start_ms", System.currentTimeMillis())
    var targets: Option[Seq[String]] = None
    var changed = 0
    try {
      // What `graft run` does per invocation: load state and project,
      // plan, then run (everything, or the incremental selection).
      open()
      val plan = run.tracer("planner.plan") {
        Planner.plan(runner.modelSqlMap, runner.configMap,
          run.tracer("graph.build") { runner.graph }, wh.state, fullRefresh = !incremental)
      }
      changed = plan.changes.count(_.changeType != Planner.NoChange)
      if (incremental) {
        val modified = Selector.resolve(runner.graph, runner.modelsByTag,
          Seq("state:modified+"), () => plan.changes.collect {
            case c if c.changeType != Planner.NoChange => c.modelName
          })
        val always = runner.configMap.values.filter(c =>
          c.isIncremental || c.materialized.startsWith("cdc")).map(_.name)
        targets = Some((modified ++ always).distinct.sorted)
      }
      val seenNow = runner.metrics.size
      if (traced) tracedRun(targets, fullRefresh = !incremental)
      else runner.run(targets, fullRefresh = !incremental)
      val t1 = now()
      rec.put("wall_s", secs(t0, t1))
      rec.put("end_ms", System.currentTimeMillis())
      val ops = rec.putArray("ops")
      if (traced) tracedOps.asScala.foreach { case (m, s) =>
        val o = ops.addObject(); o.put("name", m); o.put("s", s); o.put("ok", true)
      } else runner.metrics.drop(seenNow).foreach { m =>
        val o = ops.addObject()
        o.put("name", m.model); o.put("s", m.durationMs / 1000.0)
        o.put("ok", !m.failed); o.put("attempts", m.attempts)
      }
      lastRun = run0Order(targets)
      rec.put("models_changed", changed)
      val ran = rec.putArray("ran"); lastRun.foreach(ran.add)
      if (traced) pending = Some((before, contentBefore))
    } catch {
      case e: Throwable =>
        run.error(s"iteration $i", e)
        rec.put("wall_s", secs(t0, now()))
        rec.putArray("ops").addObject().put("name", "iteration").put("ok", false)
    }
    if (!incremental) wh.state.all.keys.foreach(m => scala.util.Try(wh.vacuum(m, keep = 1)))
    rec
  }

  private def run0Order(targets: Option[Seq[String]]): Seq[String] =
    runner.graph.executionOrder(targets).flatten.filter(runner.modelSqlMap.contains)

  // ---- the traced path: the public calls ModelRunner.executeModel makes,
  // in the same order, each timed from here.
  private val tracedOps = new ConcurrentLinkedQueue[(String, Double)]()
  private val levelTimes = new ConcurrentLinkedQueue[Seq[Double]]()

  private def tracedRun(targets: Option[Seq[String]], fullRefresh: Boolean): Unit = {
    tracedOps.clear(); levelTimes.clear()
    val mat = new Materializer(wh)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try run.tracer("runner.run") {
      val g = run.tracer("graph.build") { runner.graph }
      val levels = g.executionOrder(targets)
      val parent = run.tracer.currentId
      levels.foreach { level =>
        val futs = level.filter(runner.modelSqlMap.contains).map { m =>
          Future(run.tracer(s"runner.model:$m", parent) {
            val t0 = now()
            executeTraced(m, mat, fullRefresh)
            secs(t0, now())
          })
        }
        val ts = futs.map(f => Await.result(f, Duration.Inf))
        levelTimes.add(ts)
      }
    } finally pool.shutdown()
  }

  private def executeTraced(m: String, mat: Materializer, fullRefresh: Boolean): Unit = {
    val t0 = now()
    val cfg = runner.config(m)
    val sc = spark.sparkContext
    val sql = run.tracer("template.render") { runner.render(m, Map.empty, fullRefresh) }
    val df = run.tracer("driver.sql") { spark.sql(sql) }
    cfg.enforceContract(df.schema)
    sc.setJobGroup(s"materialize:$m", m)
    run.tracer("warehouse.materialize") { mat.materialize(cfg, df, "1970-01-01 00:00:00", fullRefresh) }
    sc.setJobGroup(s"quality:$m", m)
    val outcomes = run.tracer("quality.tests") { runner.runModelTests(m) }
    sc.clearJobGroup()
    val hard = outcomes.filter(o => !o.passed && o.severity == "error")
    if (hard.nonEmpty) throw new ModelRunner.ModelTestFailure(m, hard)
    run.tracer("state.mark") {
      wh.state.markExecution(m, success = true, java.time.Instant.now().toString)
      wh.state.setHashes(m, StateStore.sha256(runner.modelSqlMap(m)),
        StateStore.sha256(cfg.toString))
    }
    tracedOps.add(m -> secs(t0, now()))
  }

  private var pending: Option[(Map[String, (Long, Long)], Map[String, DataFrame])] = None

  /** Warehouse and runner readings of one traced iteration, taken after
    * its timed window closed. */
  override def inspect(rec: com.fasterxml.jackson.databind.node.ObjectNode): Unit =
    pending.foreach { case (before, contentBefore) =>
      pending = None
      layerRecord(rec, before, contentBefore)
    }

  private def layerRecord(rec: com.fasterxml.jackson.databind.node.ObjectNode,
      before: Map[String, (Long, Long)], contentBefore: Map[String, DataFrame]): Unit = {
    val after = fileSizes(whDir)
    val written = after.filter { case (p, (ino, _)) => !before.get(p).exists(_._1 == ino) }
    rec.put("write_bytes", written.values.map(_._2).sum)
    rec.put("files_written", written.size.toLong)
    rec.put("live_bytes", liveBytes())
    val lv = rec.putArray("levels")
    levelTimes.asScala.foreach { ts => val a = lv.addArray(); ts.foreach(a.add) }
    val checks = lastRun.map(m => runner.config(m).tests.size).sum
    rec.put("quality_checks", checks.toLong)
    // Rows created or changed per re-run table model, and whether its
    // content changed at all.
    val ch = rec.putObject("changes")
    lastRun.filter(wh.exists).foreach { m =>
      val now = wh.read(m)
      val rows = now.count()
      val o = ch.putObject(m)
      o.put("rows", rows)
      o.put("bytes", bytesOf(wh.currentPath(m).get))
      contentBefore.get(m) match {
        case Some(old) =>
          val added = now.exceptAll(old).count()
          val removed = old.exceptAll(now).count()
          o.put("changed_rows", added); o.put("content_changed", added + removed > 0)
        case None =>
          o.put("changed_rows", rows); o.put("content_changed", true)
      }
    }
  }

  private def liveBytes(): Long =
    runner.configMap.keys.toSeq.filter(wh.exists).map(m => bytesOf(wh.currentPath(m).get)).sum

  private def bytesOf(dir: String): Long = fileSizes(Paths.get(dir)).values.map(_._2).sum

  /** Data files under `dir`: path -> (inode, bytes). */
  private def fileSizes(dir: Path): Map[String, (Long, Long)] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_") && !n.startsWith("state")
      }.map { p =>
        val ino = Files.getAttribute(p, "unix:ino").asInstanceOf[Long]
        p.toString -> (ino, Files.size(p))
      }.toMap
      finally s.close()
    }

  def dumpOutputs(dir: Path): Unit = {
    val o = run.out.putArray("checked_models")
    lastRun.foreach { m =>
      try {
        runner.readModel(m).write.mode("overwrite").parquet(dir.resolve(m).toString)
        o.add(m)
      } catch { case e: Throwable => run.error(s"dump:$m", e) }
    }
    run.out.put("models_total", runner.configMap.size)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }

  private def linkTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else if (p.getFileName.toString.startsWith("state")) Files.copy(p, t)
      else Files.createLink(t, p)
    } finally s.close()
  }
}

}
