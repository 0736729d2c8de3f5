package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.graftext.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-query layer profile — the one dev entry point for "where does
  * this query's warm time go". For each named query: one warm-up
  * evaluation, then `samples` measured ones (default 3), each a fresh
  * build plus the full result ([[graft.Bench.runFull]]).
  *
  * Prints, per query:
  *   - every sample, split into build (the query function — plan
  *     construction plus any eager jobs it runs), plan (the noop
  *     write's analysis + optimization + physical planning) and exec
  *     (the rest of the write);
  *   - jobs, stages and tasks, split by phase (build / write);
  *   - the last sample's top stages by wall time with task time,
  *     shuffle read/write, input bytes and job description;
  *   - the last sample's final adaptive plan with its non-zero SQL
  *     metrics.
  *
  * Usage: graft.tools.Profile <sfDir> <query ...> [samples]
  */
object Profile {
  private final case class Stage(desc: String, name: String, wallMs: Long,
      taskMs: Long, tasks: Int, shRead: Long, shWrite: Long, input: Long)

  /** Scheduler and SQL listener in one: job/task counts, completed
    * stages labelled with their job's description, and the last
    * successful QueryExecution (the noop write's). Read only after the
    * listener bus is drained. */
  private final class Recorder extends SparkListener
      with QueryExecutionListener {
    var jobs = 0; var tasks = 0
    val stages = mutable.ArrayBuffer.empty[Stage]
    val stageDesc = mutable.Map.empty[Int, String]
    var lastQe: Option[QueryExecution] = None
    def reset(): Unit = {
      jobs = 0; tasks = 0; stages.clear(); stageDesc.clear(); lastQe = None
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs += 1
      val d = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("-")
      j.stageIds.foreach(stageDesc(_) = d)
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tasks += 1
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      val m = i.taskMetrics
      stages += Stage(stageDesc.getOrElse(i.stageId, "-"),
        i.name.takeWhile(_ != '\n'),
        (for (a <- i.completionTime; b <- i.submissionTime) yield a - b)
          .getOrElse(0L),
        m.executorRunTime, i.numTasks, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead)
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      lastQe = Some(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = ()
  }

  private def walk(p: SparkPlan, depth: Int): Unit = {
    val ms = p.metrics.toSeq.sortBy(_._1).collect {
      case (k, m) if m.value != 0 => s"$k=${m.value}"
    }.mkString(" ")
    println(("  " * depth) + p.nodeName + "  " + ms)
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1)
      case q: QueryStageExec => walk(q.plan, depth + 1)
      case _ => p.children.foreach(walk(_, depth + 1))
    }
    p.subqueries.foreach { sq =>
      println(("  " * (depth + 1)) + "SUBQUERY:")
      walk(sq, depth + 2)
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val (names, samples) = args.drop(1).toSeq match {
      case qs :+ n if n.nonEmpty && n.forall(_.isDigit) => (qs, n.toInt)
      case qs => (qs, 3)
    }
    require(names.nonEmpty && samples >= 1,
      "usage: Profile <sfDir> <query ...> [samples]")
    val spark = graft.Tables.session("ERROR")
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    def sec(t0: Long): Double = (System.nanoTime() - t0) / 1e9

    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      def evaluate(): String = {
        Bridge.drainListenerBus(spark)
        rec.reset()
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        val build = sec(t0)
        Bridge.drainListenerBus(spark)
        val (bJobs, bTasks, bStages) = (rec.jobs, rec.tasks, rec.stages.size)
        val t1 = System.nanoTime()
        graft.Bench.runFull(df)
        val write = sec(t1)
        Bridge.drainListenerBus(spark)
        val ph = rec.lastQe.map(_.tracker.phases).getOrElse(Map.empty)
        val plan = Seq("analysis", "optimization", "planning")
          .flatMap(ph.get).map(p => p.endTimeMs - p.startTimeMs).sum / 1e3
        f"total=${build + write}%.3f s  build=$build%.3f plan=$plan%.3f " +
          f"exec=${write - plan}%.3f  jobs=$bJobs+${rec.jobs - bJobs} " +
          f"stages=$bStages+${rec.stages.size - bStages} " +
          f"tasks=$bTasks+${rec.tasks - bTasks} (build+write)"
      }
      evaluate() // warm: landing, file listing, codegen, JIT
      println(s"\n===== $name")
      (1 to samples).foreach(i => println(s"  sample $i: ${evaluate()}"))
      println(s"  top stages (sample $samples):")
      rec.stages.sortBy(-_.wallMs).take(15).foreach { s =>
        println(f"  ${s.wallMs}%6d ms wall ${s.taskMs}%7d ms task " +
          f"${s.tasks}%4d t  shR=${s.shRead / 1024}%8d KiB " +
          f"shW=${s.shWrite / 1024}%8d KiB in=${s.input / 1024}%8d KiB  " +
          s"${s.desc.take(40)} | ${s.name}")
      }
      println(s"  final plan (sample $samples):")
      rec.lastQe.foreach(qe => walk(qe.executedPlan, 1))
    }
    spark.stop()
  }
}
