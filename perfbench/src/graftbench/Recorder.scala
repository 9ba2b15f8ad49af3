package graftbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Raw-record sink: one JSON object per line, written by Jackson's
  * Scala module (None is written as null). The benchmark's Python side
  * turns these records into metrics and the span file. */
final class Records(path: String) {
  private val out = new java.io.PrintWriter(
    java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path)))
  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def emit(fields: (String, Any)*): Unit = synchronized {
    out.println(json.writeValueAsString(ListMap(fields: _*)))
  }
  def close(): Unit = synchronized { out.close() }
}

/** Spark-runtime recorder for traced runs: jobs (with the job group the
  * benchmark set for the operation), their stages, and per-stage task
  * aggregates. Attached only when tracing is on. */
final class JobRecorder extends SparkListener {
  final class StageAgg(val stageId: Int) {
    var start = 0L
    var end = 0L
    var completed = false
    val taskMs = mutable.ArrayBuffer.empty[Long]
    var runMs = 0L
    var overheadMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var failed = 0
  }
  final case class Job(id: Int, group: String, start: Long,
      stageIds: Seq[Int], var end: Long = -1L, var ok: Boolean = false)

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.HashMap.empty[Int, StageAgg]
  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageAgg(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, prop("spark.jobGroup.id"), e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s.start = e.stageInfo.submissionTime.getOrElse(0L)
    s.end = e.stageInfo.completionTime.getOrElse(0L)
    s.completed = true
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    val dur = e.taskInfo.duration
    s.taskMs += dur
    if (e.reason != Success) s.failed += 1
    Option(e.taskMetrics).foreach { m =>
      s.runMs += m.executorRunTime
      s.overheadMs += math.max(0L, dur - m.executorRunTime)
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.diskBytesSpilled
    }
  }

  /** Writes every job of the given groups with its completed stages. A
    * stage shared by several jobs is listed under the first one. */
  def write(rec: Records, groups: Set[String]): Unit = synchronized {
    val seen = mutable.HashSet.empty[Int]
    jobs.values.filter(j => groups.contains(j.group)).foreach { j =>
      val st = j.stageIds.sorted.flatMap(stages.get)
        .filter(s => s.completed && seen.add(s.stageId))
      rec.emit("kind" -> "job", "job" -> j.id, "group" -> j.group,
        "start_ms" -> j.start, "end_ms" -> j.end,
        "ok" -> j.ok,
        "stages" -> st.map { s =>
          val sorted = s.taskMs.sorted
          Map("id" -> s.stageId, "start_ms" -> s.start, "end_ms" -> s.end,
            "tasks" -> sorted.size, "task_ms" -> sorted.sum,
            "task_max_ms" -> sorted.lastOption.getOrElse(0L),
            "task_median_ms" -> (if (sorted.isEmpty) 0L else sorted(sorted.size / 2)),
            "run_ms" -> s.runMs, "overhead_ms" -> s.overheadMs,
            "shuffle_write_b" -> s.shuffleWrite,
            "shuffle_read_b" -> s.shuffleRead, "spill_b" -> s.spill,
            "failed_tasks" -> s.failed)
        })
    }
  }
}

/** Rows in and out of every aggregate in each finished SQL execution,
  * from the executed plan's SQL metrics (traced runs only). It is
  * registered only while one traced operation runs, so it books every
  * execution it sees to that operation's job group, `group`. */
final class AggRecorder extends QueryExecutionListener {
  @volatile var group = ""
  val perGroup = mutable.HashMap.empty[String, (Long, Long)]

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case w: WholeStageCodegenExec => nodes(w.child)
    case other =>
      other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Output rows of a node, looking through row-count-less wrappers. */
  private def rowsOut(p: SparkPlan): Option[Long] = {
    val m = p.metrics
    m.get("numOutputRows").orElse(m.get("recordsRead"))
      .orElse(m.get("shuffleRecordsWritten")).map(_.value)
      .orElse(p match {
        case a: AdaptiveSparkPlanExec => rowsOut(a.executedPlan)
        case q: QueryStageExec => rowsOut(q.plan)
        case _ if p.children.size == 1 => rowsOut(p.children.head)
        case _ => None
      })
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    scala.util.Try {
      var in = 0L
      var out = 0L
      nodes(qe.executedPlan).foreach {
        case a: BaseAggregateExec =>
          for (o <- a.metrics.get("numOutputRows").map(_.value);
               i <- rowsOut(a.child)) { in += i; out += o }
        case _ =>
      }
      synchronized {
        val (i0, o0) = perGroup.getOrElse(group, (0L, 0L))
        perGroup(group) = (i0 + in, o0 + out)
      }
    }: Unit

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def write(rec: Records): Unit = synchronized {
    perGroup.foreach { case (g, (i, o)) =>
      rec.emit("kind" -> "agg", "group" -> g, "rows_in" -> i, "rows_out" -> o)
    }
  }
}
