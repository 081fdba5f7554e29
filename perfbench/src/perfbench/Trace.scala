package perfbench

import scala.collection.mutable
import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** One layer call: `parent` is the enclosing span's id (0 at the root). */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Executor-side totals for a set of jobs. Times in ns/ms as Spark reports
  * them; bytes raw. */
final class ExecTotals {
  var jobs, stages, tasks, emptyTasks, failedTasks = 0L
  var runMs, cpuNs, gcMs, shWriteBytes, shWriteRecs, shReadBytes, spillBytes,
      outBytes = 0L
  var worstSkew = 0.0
  def add(o: ExecTotals): ExecTotals = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    emptyTasks += o.emptyTasks; failedTasks += o.failedTasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shWriteBytes += o.shWriteBytes; shWriteRecs += o.shWriteRecs
    shReadBytes += o.shReadBytes; spillBytes += o.spillBytes
    outBytes += o.outBytes
    worstSkew = math.max(worstSkew, o.worstSkew)
    this
  }
}

/** Counts every job, stage and task, keyed by the job group the tracer sets
  * around each span (`pb-<spanId>`); jobs outside any span key as "". */
final class ExecListener extends SparkListener {
  private val byGroup = mutable.Map.empty[String, ExecTotals]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  private def acc(g: String) = byGroup.getOrElseUpdate(g, new ExecTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    acc(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = acc(stageGroup.getOrElse(e.stageId, ""))
    t.tasks += 1
    if (e.reason != TaskSuccess) t.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.shWriteRecs += m.shuffleWriteMetrics.recordsWritten
      t.shReadBytes += m.shuffleReadMetrics.totalBytesRead
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.outBytes += m.outputMetrics.bytesWritten
      if (m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0)
        t.emptyTasks += 1
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    val t = acc(stageGroup.getOrElse(id, ""))
    t.stages += 1
    stageTaskMs.remove(id).foreach { ms =>
      if (ms.size >= 2) {
        val s = ms.sorted
        val med = math.max(s(s.size / 2), 1L)
        t.worstSkew = math.max(t.worstSkew, s.last.toDouble / med)
      }
    }
  }

  def totals(groups: Iterable[String]): ExecTotals = synchronized {
    groups.foldLeft(new ExecTotals)((a, g) => byGroup.get(g).fold(a)(a.add))
  }
  /** Every job run inside some span (the checks run outside spans). */
  def spanned: ExecTotals = totals(synchronized(byGroup.keys.filter(_.nonEmpty).toList))
}

/** Catalyst phase times of every executed query (`QueryExecution.tracker`):
  * (first phase start in epoch ms, analysis, optimizer, planning ms). */
final class PlanListener extends QueryExecutionListener {
  private val queries = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
  override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = record(qe)
  override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  private def record(qe: QueryExecution): Unit = synchronized {
    import org.apache.spark.sql.catalyst.QueryPlanningTracker._
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).fold(0L)(_.durationMs)
    val start = if (ph.isEmpty) 0L else ph.values.map(_.startTimeMs).min
    queries += ((start, ms(ANALYSIS), ms(OPTIMIZATION), ms(PLANNING)))
  }
  /** The queries that started inside one of the `windows` (epoch ms). */
  def within(windows: Seq[(Long, Long)]): Seq[(Long, Long, Long, Long)] = synchronized {
    queries.filter(q => windows.exists(w => q._1 >= w._1 && q._1 <= w._2)).toSeq
  }
}

/** Spans around the harness's calls into each layer. Disabled, every method
  * is a pass-through: the untraced run attaches no listener and sets no job
  * group. Enabled, each span sets job group `pb-<id>` for its duration (so
  * the listener can tie jobs to it), and [[boundary]] materializes a lazy
  * output inside the span that produced it. */
final class Tracer(val spark: SparkSession, val enabled: Boolean, val runId: String) {
  private val sc = spark.sparkContext
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List(0)
  private var nextId = 1
  private val pinned = mutable.ArrayBuffer.empty[Dataset[_]]
  val exec = new ExecListener
  val plans = new PlanListener
  if (enabled) {
    sc.addSparkListener(exec)
    spark.listenerManager.register(plans)
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.head
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      stack = id :: stack
      sc.setLocalProperty("spark.jobGroup.id", s"pb-$id")
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, name, parent, runId, t0, System.nanoTime())
        sc.setLocalProperty("spark.jobGroup.id", prevGroup)
        stack = stack.tail
      }
    }

  /** Persist a frame the harness itself reads more than once, traced or
    * not, until [[release]]. Storage still cached after a release is what
    * the engine left behind. */
  def keep[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
    pinned += p
    p
  }

  /** In the traced run, compute `df` now (inside the current span) and pin
    * it until [[release]]; otherwise return it untouched. */
  def boundary(df: DataFrame): DataFrame =
    if (!enabled) df
    else {
      val p = keep(df)
      p.count()
      p
    }

  /** In the traced run, compute an already-persisted `ds` now. */
  def materialize(ds: Dataset[_]): Unit = if (enabled) ds.count()

  def release(): Unit = { pinned.foreach(_.unpersist(blocking = true)); pinned.clear() }

  def spans: Seq[Span] = done.toSeq

  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1000000L
  /** Catalyst phase totals (analysis, optimizer, planning seconds) and the
    * query count, over queries that started inside a top-level span. */
  def catalyst: (Double, Double, Double, Int) = {
    val qs = plans.within(done.filter(_.parent == 0).map(s =>
      (s.startNs / 1000000L + epochOffsetMs, s.endNs / 1000000L + epochOffsetMs)).toSeq)
    (qs.map(_._2).sum / 1e3, qs.map(_._3).sum / 1e3, qs.map(_._4).sum / 1e3, qs.size)
  }

  def drain(): Unit = if (enabled) org.apache.spark.perfbench.Bus.drain(sc)

  /** Total seconds of spans named `name`. */
  def seconds(name: String): Double = done.filter(_.name == name).map(_.seconds).sum

  /** Ids of the spans named `name` and of all their descendants. */
  def subtree(name: String): Set[Int] = {
    val kids = done.groupBy(_.parent)
    def walk(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).toSeq.flatMap(s => walk(s.id))
    done.filter(_.name == name).flatMap(s => walk(s.id)).toSet
  }

  def execOf(name: String): ExecTotals = exec.totals(subtree(name).map(i => s"pb-$i"))

  /** Span duration minus the part of it its child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = done.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    for ((a, b) <- kids) {
      val from = math.max(a, end)
      if (b > from) covered += b - from
      end = math.max(end, b)
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  /** The spans as JSON lines, one object per span, with self time and the
    * job/task counts of the span's own job group. */
  def spanJson: Seq[String] = done.toSeq.sortBy(_.startNs).map { s =>
    val t = exec.totals(Seq(s"pb-${s.id}"))
    f"""{"run":"${s.runId}","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      f""""start_ns":${s.startNs},"end_ns":${s.endNs},"dur_s":${s.seconds}%.6f,""" +
      f""""self_s":${selfSeconds(s)}%.6f,"jobs":${t.jobs},"tasks":${t.tasks},""" +
      f""""task_s":${t.runMs / 1e3}%.3f,"shuffle_write_mb":${t.shWriteBytes / 1e6}%.3f}"""
  }
}
