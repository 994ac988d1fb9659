package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Command-line settings handed over by `run.py`. */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    cpus: Int,
    work: File,
    out: File,
    spans: File,
    bench: File)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cpus").toInt, new File(need("work")),
      new File(need("out")), new File(need("spans")), new File(need("bench")))
  }
}

/** One timed operation: build a DataFrame, run its action, check the result.
  *
  * @param cells raster cells the op reads or writes (0 when not a raster op)
  * @param check returns an error message when the action's result is wrong
  * @param writes directory the op writes into, for the write-side counters
  * @param after untimed clean-up once the op is checked
  * @param probe its action hides the plan from listeners (a V1 write), so
  *        the traced run executes the built DataFrame once more with a
  *        `noop` write to read the plan's counters
  */
final case class Op(
    kind: String,
    cells: Long,
    build: SparkSession => DataFrame,
    action: DataFrame => Any,
    check: Any => Option[String],
    writes: Option[File] = None,
    after: () => Unit = () => (),
    probe: Boolean = false)

/** A workload: seeded inputs written during set-up and a fixed rotation of ops. */
trait Workload {
  /** Computes the plain-loop references the checks compare with. This is
    * benchmark code, so its time is not part of `setup_s`. */
  def references(): Unit = ()
  /** Writes this run's inputs under `dir` and returns the op rotation. */
  def prepare(spark: SparkSession, dir: File): Seq[Op]
  /** Checked rotations before the timed loop, part of `setup_s`; about 10 s
    * (op latencies fell 10-25% per rotation over the first three). */
  def warmUpRotations: Int
  /** Checks beyond each op's own check, run before the warm-up rotations
    * and again after the timed loop; returns one message per wrong result. */
  def verify(spark: SparkSession, ops: Seq[Op]): Seq[String] = Nil
  /** Input files used by the micro-timings of the traced run. */
  def microInput: Option[File] = None
}

object Runner {
  private var harnessNanos = 0L

  /** Runs benchmark code (references, result checks) whose time is taken
    * out of `setup_s`. */
  def harness[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally harnessNanos += System.nanoTime() - t0
  }
  def harnessSeconds: Double = harnessNanos / 1e9

  /** Runs the op once outside any timing; Left(error) if it fails or is wrong. */
  def runChecked(spark: SparkSession, op: Op): Either[String, Unit] =
    try {
      val r = op.action(op.build(spark))
      val bad = harness(op.check(r))
      op.after()
      bad.map(m => s"${op.kind}: $m").toLeft(())
    } catch { case NonFatal(e) => Left(s"${op.kind}: $e") }

  def newSession(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(a.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.Raster.init(s)
    s
  }

  /** Drops cached plans and persisted blocks an op left behind (untimed). */
  def releaseLeftovers(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}

object Main {
  def workloadFor(a: Args): Workload = a.workload match {
    case "scene_analytics" => new SceneAnalytics(a.seed)
    case "query_catalog" => new QueryCatalog(a.seed, a.bench)
    case "tile_ingest" => new TileIngest(a.seed)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val wl = workloadFor(a)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    // ---- set-up, from JVM start to the first timed op: session start,
    // Raster.init, seeded input generation and the warm-up rotations,
    // less the benchmark's own references and checks ----
    Runner.harness(wl.references())
    val jvmS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - Runner.harnessSeconds
    val n0 = System.nanoTime()
    val spark = Runner.newSession(a)
    val dir = new File(a.work, "inputs")
    dir.mkdirs()
    val n1 = System.nanoTime()
    val ops = wl.prepare(spark, dir)
    val n2 = System.nanoTime()
    val setupErrors = ArrayBuffer.empty[String]
    setupErrors ++= wl.verify(spark, ops)
    Runner.releaseLeftovers(spark)
    for (_ <- 1 to wl.warmUpRotations; op <- ops) {
      Runner.runChecked(spark, op).left.foreach(e => setupErrors += s"warm-up $e")
      Runner.releaseLeftovers(spark)
    }
    val n3 = System.nanoTime()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - Runner.harnessSeconds
    val setupParts = Seq("jvm_s" -> jvmS, "session_s" -> (n1 - n0) / 1e9,
      "inputs_s" -> (n2 - n1) / 1e9, "warm_up_s" -> (n3 - n2) / 1e9, "harness_s" -> Runner.harnessSeconds)

    val trace = if (a.trace) Some(new Trace(spark, a.cpus)) else None

    // ---- timed closed loop: one client, whole rotations only ----
    val lat = ArrayBuffer.empty[Double]
    val kindLat = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    val errors = ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    var completed = 0
    var cellsDone = 0L
    val sc = spark.sparkContext
    val loop0 = System.nanoTime()
    def elapsed = (System.nanoTime() - loop0) / 1e9
    var rotation = 0
    var lastRotation = 0.0
    // whole rotations, stopping when less than half of one would remain
    while (a.seconds - elapsed > lastRotation / 2) {
      val r0 = elapsed
      for (op <- ops) {
        val id = f"op-$rotation%03d-${op.kind}"
        sc.setJobGroup(id, op.kind, interruptOnCancel = false)
        trace.foreach(_.begin(id, op))
        attempted += 1
        var ok = false
        val t0 = System.nanoTime()
        var t1 = t0
        try {
          val df = op.build(spark)
          t1 = System.nanoTime()
          trace.foreach(_.built(df))
          val r = op.action(df)
          val t2 = System.nanoTime()
          lat += (t2 - t0) / 1e9
          kindLat.getOrElseUpdate(op.kind, ArrayBuffer.empty) += (t2 - t0) / 1e9
          trace.foreach(_.end(t0, t1, t2))
          Runner.harness(op.check(r)) match {
            case Some(m) => errors += s"$id: $m"
            case None => ok = true
          }
        } catch {
          case NonFatal(e) =>
            errors += s"$id: $e"
            trace.foreach(_.end(t0, t1, System.nanoTime()))
        }
        sc.clearJobGroup()
        try op.after() catch { case NonFatal(e) => errors += s"$id cleanup: $e"; ok = false }
        Runner.releaseLeftovers(spark)
        if (ok) { completed += 1; cellsDone += op.cells } else failed += 1
      }
      rotation += 1
      lastRotation = elapsed - r0
    }
    val wall = elapsed
    // untimed: results of repeated runs, checked once more
    val verifyErrors = wl.verify(spark, ops)
    Runner.releaseLeftovers(spark)
    failed += setupErrors.size + verifyErrors.size
    attempted += setupErrors.size + verifyErrors.size
    errors ++= setupErrors.map("set-up: " + _) ++ verifyErrors.map("after the timed loop: " + _)

    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!a.trace) {
      metrics("setup_s") = (setupS, "s")
      metrics("op_p50_s") = (Runner.quantile(lat.toSeq, 0.5), "s")
      metrics("op_p90_s") = (Runner.quantile(lat.toSeq, 0.9), "s")
      metrics("ops_per_s") = (completed / wall, "1/s")
      metrics("peak_rss_mb") = (Runner.peakRssMb, "MB")
    }
    val extras = scala.collection.mutable.LinkedHashMap[String, Any](
      "ops" -> lat.size,
      "rotations" -> rotation,
      "timed_wall_s" -> wall,
      "setup_parts_s" -> scala.collection.immutable.ListMap(setupParts: _*),
      "kind_p50_s" -> kindLat.map { case (k, v) => k -> Runner.quantile(v.toSeq, 0.5) },
      "mcells_per_s" -> (if (ops.exists(_.cells > 0)) cellsDone / wall / 1e6 else Double.NaN),
      "failed_ops_ratio" -> failed.toDouble / math.max(1, attempted),
      "errors" -> errors.take(20).toSeq)
    trace.foreach { t =>
      for (op <- ops if op.probe) {
        t.begin(s"probe-${op.kind}", op, probe = true)
        val t0 = System.nanoTime()
        val df = op.build(spark)
        val t1 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        t.end(t0, t1, System.nanoTime())
        Runner.releaseLeftovers(spark)
      }
      metrics ++= t.layerMetrics(lat.toSeq, wall)
      metrics ++= Micro.run(spark, a.seed, wl.microInput, new File(a.work, "micro"))
      t.writeSpans(a.spans)
    }
    spark.stop()
    Json.write(a.out, Map(
      "correct" -> errors.isEmpty,
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "extras" -> extras))
  }
}
