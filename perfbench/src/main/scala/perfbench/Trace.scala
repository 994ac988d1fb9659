package perfbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbench.Internals
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort, SubqueryAlias}
import org.apache.spark.sql.execution.{FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a layer boundary crossed by one op. */
final case class Span(trace: String, id: Int, parent: Int, name: String, layer: String,
    startMs: Double, endMs: Double) {
  def dur: Double = endMs - startMs
}

/** Counters read from one op's executed plans. */
private final case class PlanCounts(files: Long, tiles: Long, kept: Option[(Long, Long)],
    joins: Seq[(Long, Long)])

/**
 * Traced-run instrumentation, all from the benchmark's side of the API:
 * a SparkListener and a QueryExecutionListener registered on the session,
 * the job group set per op, and timestamps taken around the calls into
 * graft. Spans stay in memory until [[writeSpans]].
 */
final class Trace(spark: SparkSession, cpus: Int) {
  private val sc = spark.sparkContext
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  private final class Rec(val id: String, val op: Op, val probe: Boolean) {
    var t0, t1, t2 = 0.0
    val jobs = mutable.LinkedHashMap.empty[Int, Array[Double]] // id -> (start, end)
    val stages = mutable.LinkedHashMap.empty[Int, (Int, Double, Double)] // id -> (job, start, end)
    val taskSpans = ArrayBuffer.empty[(Double, Double)]
    var tasks, failedTasks = 0L
    var taskS, gcS = 0.0
    var shuffleW, shuffleR, spill = 0L
    val rdds = mutable.Set.empty[Int]
    var materializedBytes = 0L
    val qes = ArrayBuffer.empty[QueryExecution]
    var sorted = false
    var readBytes = 0L
    var planS = 0.0
    var planSpans = Seq.empty[(String, Double, Double)]
    var writeFiles, writeBytes = 0L
  }

  private val recs = ArrayBuffer.empty[Rec]
  @volatile private var cur: Rec = null
  private val stageOwner = mutable.Map.empty[Int, (Rec, Int)]
  private var readBytes0 = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val r = cur
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (r != null && group == r.id) {
        r.jobs(e.jobId) = Array(e.time.toDouble, e.time.toDouble)
        e.stageInfos.foreach(s => if (!stageOwner.contains(s.stageId)) stageOwner(s.stageId) = (r, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      val r = cur
      if (r != null) r.jobs.get(e.jobId).foreach(_(1) = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val s = e.stageInfo
      stageOwner.get(s.stageId).foreach { case (r, job) =>
        r.stages(s.stageId) = (job,
          s.submissionTime.getOrElse(0L).toDouble, s.completionTime.getOrElse(0L).toDouble)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageOwner.get(e.stageId).foreach { case (r, _) =>
        r.tasks += 1
        if (!e.taskInfo.successful) r.failedTasks += 1
        r.taskSpans += ((e.taskInfo.launchTime.toDouble, e.taskInfo.finishTime.toDouble))
        val m = e.taskMetrics
        if (m != null) {
          r.taskS += m.executorRunTime / 1e3
          r.gcS += m.jvmGCTime / 1e3
          r.shuffleW += m.shuffleWriteMetrics.bytesWritten
          r.shuffleR += m.shuffleReadMetrics.totalBytesRead
          r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val r = cur
      val info = e.blockUpdatedInfo
      if (r != null && info.blockId.isRDD && info.storageLevel.isValid) {
        info.blockId.asRDDId.foreach(b => r.rdds += b.rddId)
        r.materializedBytes += info.memSize + info.diskSize
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized { val r = cur; if (r != null) r.qes += qe }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      synchronized { val r = cur; if (r != null) r.qes += qe }
  }

  sc.addSparkListener(listener)
  spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.register(qeListener)

  def begin(id: String, op: Op, probe: Boolean = false): Unit = {
    Internals.drainListenerBus(sc)
    synchronized { cur = new Rec(id, op, probe); recs += cur }
    readBytes0 = graft.core.geotiff.GeoTiff.bytesReadTotal
  }

  /** Notes whether the built plan ends in a global sort (a workload property). */
  def built(df: DataFrame): Unit = {
    def topSort(p: LogicalPlan): Boolean = p match {
      case s: Sort => s.global
      case p: Project => topSort(p.child)
      case a: SubqueryAlias => topSort(a.child)
      case _ => false
    }
    val r = cur
    if (r != null) r.sorted = topSort(
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed)
  }

  def end(t0: Long, t1: Long, t2: Long): Unit = {
    val r = cur
    if (r == null) return
    r.readBytes = graft.core.geotiff.GeoTiff.bytesReadTotal - readBytes0
    Internals.drainListenerBus(sc)
    synchronized { cur = null }
    r.t0 = epochMs(t0); r.t1 = epochMs(t1); r.t2 = epochMs(t2)
    // planning phases that ran inside the action (analysis of the built
    // DataFrame already ran in the build)
    val phases = r.qes.toSeq.flatMap { qe =>
      qe.tracker.phases.toSeq.collect {
        case (name, p) if p.startTimeMs >= r.t1 - 1 && p.startTimeMs <= r.t2 =>
          (name, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      }
    }
    r.planSpans = phases
    r.planS = math.min(phases.map(p => p._3 - p._2).sum / 1e3, (r.t2 - r.t1) / 1e3)
    r.op.writes.foreach { d =>
      val fs = Option(d.listFiles).map(_.toSeq).getOrElse(Nil).filter(_.getName.endsWith(".tif"))
      r.writeFiles = fs.size
      r.writeBytes = fs.map(_.length).sum
    }
  }

  // ---- plan-level counters from the executed plans ----

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case x: ReusedExchangeExec => x +: nodes(x.child)
    case other => other +: (other.children.flatMap(nodes) ++ other.subqueries.flatMap(nodes))
  }

  /** Rows out of a plan node: its own row metric or, for nodes without
    * one (codegen'd projections, stage wrappers), its first child's. */
  private def rowsOut(p: SparkPlan): Option[Long] = p match {
    case a: AdaptiveSparkPlanExec => rowsOut(a.executedPlan)
    case q: QueryStageExec => rowsOut(q.plan)
    case x: ReusedExchangeExec => rowsOut(x.child)
    case _ => p.metrics.get("numOutputRows").map(_.value).orElse(p.children.headOption.flatMap(rowsOut))
  }

  private def planCounts(r: Rec): PlanCounts = {
    val executed = r.qes.toSeq.filter(_.tracker.phases.values.exists(_.startTimeMs >= r.t1 - 1))
    val all = executed.flatMap(qe => scala.util.Try(nodes(qe.executedPlan)).getOrElse(Nil))
    val scans = all.collect { case b: BatchScanExec => b }
    val files = scans.map { b =>
      scala.util.Try(b.inputPartitions.map {
        case pr: Product => pr.productIterator.collectFirst { case s: Seq[_] => s.size.toLong }.getOrElse(1L)
        case _ => 1L
      }.sum).getOrElse(0L)
    }.sum
    val tiles = scans.flatMap(_.metrics.get("numOutputRows").map(_.value)).sum
    // the first filter above a scan: rows kept over rows scanned
    val kept = all.collectFirst {
      case f: FilterExec if nodes(f.child).exists(_.isInstanceOf[BatchScanExec]) =>
        (f.metrics.get("numOutputRows").map(_.value).getOrElse(0L),
          nodes(f.child).collect { case b: BatchScanExec => b }
            .flatMap(_.metrics.get("numOutputRows").map(_.value)).sum)
    }
    val joins = all.collect { case j: BroadcastNestedLoopJoinExec =>
      val l = rowsOut(j.left).getOrElse(0L)
      val rr = rowsOut(j.right).getOrElse(0L)
      (l * rr, j.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
    }
    PlanCounts(files, tiles, kept, joins)
  }

  // ---- spans and self times ----

  private def union(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  private def spansOf(r: Rec): Seq[Span] = {
    val out = ArrayBuffer.empty[Span]
    def add(parent: Int, name: String, layer: String, a: Double, b: Double): Int = {
      out += Span(r.id, out.size, parent, name, layer, a, b); out.size - 1
    }
    val op = add(-1, r.op.kind, "op", r.t0, r.t2)
    val build = add(op, "build", "graft.SparkEntry", r.t0, r.t1)
    val action = add(op, "action", "spark.sql.action", r.t1, r.t2)
    r.planSpans.foreach { case (n, a, b) => add(action, n, "spark.sql.planning", a, b) }
    val jobSpan = mutable.Map.empty[Int, Int]
    r.jobs.foreach { case (j, Array(a, b)) =>
      jobSpan(j) = add(if (a < r.t1) build else action, s"job $j", "spark.scheduler", a, b)
    }
    r.stages.foreach { case (s, (j, a, b)) =>
      add(jobSpan.getOrElse(j, action), s"stage $s", "spark.executor", a, b)
    }
    out.toSeq
  }

  private def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        s.dur - union(kids.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs)), s.startMs, s.endMs)
      }.sum / 1e3
    }
  }

  private def timed: Seq[Rec] = recs.toSeq.filter(r => r.t2 > 0 && !r.probe)
  private lazy val allSpans: Seq[Span] = timed.flatMap(spansOf)

  def writeSpans(f: File): Unit = Json.write(f, allSpans.map { s =>
    Map("trace" -> s.trace, "span" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "layer" -> s.layer, "start_ms" -> s.startMs, "end_ms" -> s.endMs)
  })

  /** Per-layer metrics, each a mean per timed op unless named otherwise. */
  def layerMetrics(lat: Seq[Double], wall: Double): Seq[(String, (Double, String))] = {
    val rs = timed
    val n = math.max(1, rs.size).toDouble
    def mean(f: Rec => Double) = rs.map(f).sum / n
    val pcs = rs.map(planCounts)
    val walls = rs.map(r => (r.t2 - r.t0) / 1e3)
    // joins also from probe runs, per join execution
    val joins = pcs.flatMap(_.joins) ++ recs.toSeq.filter(r => r.probe && r.t2 > 0).flatMap(planCounts(_).joins)
    val kept = pcs.flatMap(_.kept)
    val self = selfTimes(allSpans)
    def selfOf(layer: String) = self.getOrElse(layer, 0.0) / n
    Seq(
      "entry.build_s" -> (mean(r => (r.t1 - r.t0) / 1e3), "s"),
      "entry.eager_jobs" -> (mean(r => r.jobs.values.count(_(0) < r.t1).toDouble), "count"),
      "entry.sorted_ops_share" -> (rs.count(_.sorted) / n, "ratio"),
      "sql.plan_s" -> (mean(_.planS), "s"),
      "sql.action_s" -> (mean(r => (r.t2 - r.t1) / 1e3 - r.planS), "s"),
      "spark.jobs" -> (mean(_.jobs.size.toDouble), "count"),
      "spark.stages" -> (mean(_.stages.size.toDouble), "count"),
      "spark.tasks" -> (mean(_.tasks.toDouble), "count"),
      "spark.driver_gap_s" -> (mean(r => ((r.t2 - r.t0) - union(r.taskSpans.toSeq, r.t0, r.t2)) / 1e3), "s"),
      "spark.failed_tasks" -> (mean(_.failedTasks.toDouble), "count"),
      "spark.task_s" -> (mean(_.taskS), "s"),
      "spark.core_use" -> (rs.map(_.taskS).sum / math.max(1e-9, walls.sum * cpus), "ratio"),
      "spark.gc_s" -> (mean(_.gcS), "s"),
      "spark.shuffle_write_bytes" -> (mean(_.shuffleW.toDouble), "bytes"),
      "spark.shuffle_read_bytes" -> (mean(_.shuffleR.toDouble), "bytes"),
      "spark.spill_bytes" -> (mean(_.spill.toDouble), "bytes"),
      "storage.materializations" -> (mean(_.rdds.size.toDouble), "count"),
      "storage.materialized_bytes" -> (mean(_.materializedBytes.toDouble), "bytes"),
      "datasource.read.files" -> (pcs.map(_.files).sum / n, "count"),
      "datasource.read.tiles" -> (pcs.map(_.tiles).sum / n, "count"),
      "datasource.read.bytes" -> (mean(_.readBytes.toDouble), "bytes"),
      "datasource.read.keep_ratio" ->
        (if (kept.isEmpty) 1.0 else kept.map(_._1).sum.toDouble / math.max(1L, kept.map(_._2).sum), "ratio"),
      "datasource.write.files" -> (mean(_.writeFiles.toDouble), "count"),
      "datasource.write.bytes" -> (mean(_.writeBytes.toDouble), "bytes"),
      "raster_join.pairs_tested" ->
        (if (joins.isEmpty) 0.0 else joins.map(_._1).sum.toDouble / joins.size, "count"),
      "raster_join.pairs_matched" ->
        (if (joins.isEmpty) 0.0 else joins.map(_._2).sum.toDouble / joins.size, "count"),
      "raster_join.match_ratio" ->
        (if (joins.isEmpty) 0.0 else joins.map(_._2).sum.toDouble / math.max(1L, joins.map(_._1).sum), "ratio"),
      "self.op_s" -> (selfOf("op"), "s"),
      "self.build_s" -> (selfOf("graft.SparkEntry"), "s"),
      "self.planning_s" -> (selfOf("spark.sql.planning"), "s"),
      "self.action_s" -> (selfOf("spark.sql.action"), "s"),
      "self.scheduler_s" -> (selfOf("spark.scheduler"), "s"),
      "self.executor_s" -> (selfOf("spark.executor"), "s"),
      "trace.spans" -> (allSpans.size.toDouble, "count"),
      "trace.op_p50_s" -> (Runner.quantile(lat, 0.5), "s"),
      "trace.op_p90_s" -> (Runner.quantile(lat, 0.9), "s"),
      "trace.ops_per_s" -> (lat.size / wall, "1/s"))
  }
}
