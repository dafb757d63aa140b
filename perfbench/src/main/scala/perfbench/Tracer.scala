package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** A named interval and the span that caused it. Times are epoch ms. */
final case class Span(id: Int, parent: Int, name: String, startMs: Long, endMs: Long) {
  def ms: Long = endMs - startMs
}

/** Spans kept in memory and written out when the run ends. */
final class Spans {
  private val buf = ArrayBuffer.empty[Span]
  def add(parent: Int, name: String, startMs: Long, endMs: Long): Int = synchronized {
    buf += Span(buf.length, parent, name, startMs, endMs)
    buf.length - 1
  }
  def close(id: Int, endMs: Long): Unit = synchronized(buf(id) = buf(id).copy(endMs = endMs))
  def all: Seq[Span] = synchronized(buf.toList)

  /** Duration of span `id` minus the part of it that its children cover. */
  def selfMs(id: Int): Long = {
    val s = synchronized(buf(id))
    val kids = all.filter(_.parent == s.id).map(k => (k.startMs max s.startMs, k.endMs min s.endMs))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    kids.foreach { case (a, b) =>
      val from = a max end
      if (b > from) covered += b - from
      end = end max b
    }
    s.ms - covered
  }
}

final case class TaskRec(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long, serdeMs: Long,
                         inputBytes: Long, shuffleWriteBytes: Long, shuffleWriteNs: Long,
                         fetchWaitMs: Long)

/** Everything Spark reported while one runWithManifests call ran. */
final class CallRec {
  val tasks = ArrayBuffer.empty[TaskRec]
  val stageExec = mutable.Map.empty[Int, Long]                 // stage -> SQL execution
  val stageTimes = mutable.Map.empty[Int, (String, Long, Long)] // stage -> (name, start, end)
  val execKind = mutable.Map.empty[Long, String]               // write | manifest | other
  val execTimes = mutable.Map.empty[Long, (Long, Long)]
  var jobs = 0
  var writeNs = 0L
  var manifestNs = 0L
}

/** The benchmark's own SparkListener and QueryExecutionListener. Events are
  * credited to `current`; the caller drains the listener bus before switching
  * calls, so no event lands on the wrong call.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  @volatile var current: CallRec = null

  private def rec(f: CallRec => Unit): Unit = {
    val c = current
    if (c != null) c.synchronized(f(c))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = rec { c =>
    c.jobs += 1
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    e.stageIds.foreach(s => c.stageExec(s) = exec)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = rec { c =>
    val i = e.stageInfo
    c.stageTimes(i.stageId) = (i.name, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = rec { c =>
    val m = e.taskMetrics
    if (m != null) c.tasks += TaskRec(e.stageId, m.executorRunTime, m.executorCpuTime,
      m.jvmGCTime, m.executorDeserializeTime + m.resultSerializationTime,
      m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleWriteMetrics.writeTime, m.shuffleReadMetrics.fetchWaitTime)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => rec { c =>
      val plan = s.physicalPlanDescription
      c.execKind(s.executionId) =
        if (!plan.contains("InsertIntoHadoopFsRelationCommand")) "other"
        else if (plan.contains("/_manifests")) "manifest"
        else "write"
      c.execTimes(s.executionId) = (s.time, s.time)
    }
    case x: SparkListenerSQLExecutionEnd => rec { c =>
      c.execTimes.get(x.executionId).foreach { case (a, _) => c.execTimes(x.executionId) = (a, x.time) }
    }
    case _ => ()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = rec { c =>
    qe.logical match {
      case w: InsertIntoHadoopFsRelationCommand =>
        if (w.outputPath.getName == "_manifests") c.manifestNs += durationNs
        else c.writeNs += durationNs
      case _ if funcName == "collect" => c.manifestNs += durationNs // per-shard stats
      case _ => ()
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {

  /** Per-call Spark metrics (see perfbench/spec.json for what each should move). */
  def callMetrics(c: CallRec, wallMs: Double, cores: Int): Map[String, Double] = c.synchronized {
    val writeStages = c.stageExec.collect { case (s, e) if c.execKind.get(e).contains("write") => s }.toSet
    val byStage = c.tasks.groupBy(_.stage)
    val scan = writeStages.filter(s => byStage.get(s).exists(_.exists(_.shuffleWriteBytes > 0)))
    val extract = writeStages -- scan
    def tasksOf(st: Set[Int]) = c.tasks.filter(t => st(t.stage))
    val scanT = tasksOf(scan)
    val extT = tasksOf(extract)
    val runs = extT.map(_.runMs.toDouble).sorted.toSeq
    val skew = if (runs.isEmpty) 0.0 else runs.last / math.max(1.0, Stats.quantile(runs, 0.5))
    Map(
      "spark.scan_exchange.task_s" -> scanT.map(_.runMs).sum / 1e3,
      "spark.extract_write.task_s" -> extT.map(_.runMs).sum / 1e3,
      "spark.extract_write.cpu_s" -> extT.map(_.cpuNs).sum / 1e9,
      "spark.scan.input_mb" -> scanT.map(_.inputBytes).sum / 1e6,
      "spark.exchange.write_mb" -> scanT.map(_.shuffleWriteBytes).sum / 1e6,
      "spark.exchange.write_s" -> scanT.map(_.shuffleWriteNs).sum / 1e9,
      "spark.exchange.fetch_wait_s" -> extT.map(_.fetchWaitMs).sum / 1e3,
      "spark.gc_s" -> c.tasks.map(_.gcMs).sum / 1e3,
      "spark.serde_s" -> c.tasks.map(_.serdeMs).sum / 1e3,
      "spark.task_skew" -> skew,
      "spark.idle_core_share" -> (1.0 - c.tasks.map(_.runMs).sum / (wallMs * cores)),
      "spark.jobs" -> c.jobs.toDouble,
      "spark.stages" -> c.stageTimes.size.toDouble,
      "spark.tasks" -> c.tasks.size.toDouble,
      "spark.task_cpu_s" -> c.tasks.map(_.cpuNs).sum / 1e9,
      "pipeline.write_s" -> c.writeNs / 1e9,
      "pipeline.manifest_s" -> c.manifestNs / 1e9)
  }

  /** Adds the call's SQL executions and stages under the call's span. */
  def addSpans(spans: Spans, callSpan: Int, c: CallRec): Unit = c.synchronized {
    val execSpan = c.execTimes.map { case (e, (a, b)) =>
      e -> spans.add(callSpan, s"query:${c.execKind(e)}:$e", a, b)
    }
    c.stageTimes.toSeq.sortBy(_._1).foreach { case (s, (name, a, b)) =>
      val parent = c.stageExec.get(s).flatMap(execSpan.get).getOrElse(callSpan)
      spans.add(parent, s"stage:$s:$name", a, b)
    }
  }
}
