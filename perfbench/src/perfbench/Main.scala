package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** One timed unit of work: a whole pass of a batch workload, or one
  * request of the serving workload. Only `ok` samples are timings. */
final case class Sample(kind: String, seconds: Double, ok: Boolean)

final class Measured {
  val samples = mutable.ArrayBuffer.empty[Sample]
  val recalls = mutable.ArrayBuffer.empty[Double]
  val failures = mutable.ArrayBuffer.empty[String]
  var leakedMb = 0.0
  def ok(kind: String): Seq[Double] = samples.filter(s => s.ok && s.kind == kind).map(_.seconds).toSeq
}

/** What a workload sees: the session, its seed, its private work directory
  * and its input sizes (one entry of `workloads.json`). */
final class Ctx(val spark: SparkSession, val seed: Long, val work: String,
    val size: JsonNode, val cores: Int) {
  def int(k: String): Int = req(k).asInt
  def dbl(k: String): Double = req(k).asDouble
  private def req(k: String): JsonNode =
    Option(size.get(k)).getOrElse(sys.error(s"size key '$k' missing"))
  def path(name: String): String = s"$work/$name"
}

trait Workload {
  def name: String
  /** Write the workload's generated inputs under the work directory. */
  def generate(c: Ctx): Unit
  /** Build stored artifacts the timed loop reads (none by default). */
  def buildArtifacts(c: Ctx): Unit = ()
  /** Input records per unit of work (the `records_per_s` numerator). */
  def recordsPerUnit(c: Ctx): Long
  /** Which sample kind the latency metrics describe. */
  def latencyKind: String = "pass"
  /** Run units until `deadlineNs` (at least `minUnits`), checking each. */
  def run(c: Ctx, tr: Tracer, deadlineNs: Long, minUnits: Int): Measured
  /** Workload-specific per-layer metrics from a traced run of `units` units. */
  def layers(c: Ctx, tr: Tracer, units: Int): Map[String, Double]
}

/** A workload whose unit is one full pass over its input, checked after. */
abstract class BatchWorkload extends Workload {
  /** Run one pass; return the outputs the check needs. */
  def pass(c: Ctx, tr: Tracer): Any
  /** Check a pass's outputs: Right(recall) or Left(reason). */
  def check(c: Ctx, out: Any): Either[String, Double]

  def run(c: Ctx, tr: Tracer, deadlineNs: Long, minUnits: Int): Measured = {
    val m = new Measured
    while (m.samples.size < minUnits || System.nanoTime() < deadlineNs) {
      val t0 = System.nanoTime()
      val out = tr.span("pass") {
        try Right(pass(c, tr)) catch { case e: Exception => Left(e) }
      }
      val dt = (System.nanoTime() - t0) / 1e9
      m.leakedMb = math.max(m.leakedMb, { tr.release(); Main.cachedMb(c.spark) })
      val verdict = out.left.map(e => s"pass threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        .flatMap(o => try check(c, o) catch {
          case e: Exception => Left(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        })
      verdict.fold(m.failures += _, m.recalls += _)
      m.samples += Sample("pass", dt, verdict.isRight)
      c.spark.catalog.clearCache()
      Main.unpersistAll(c.spark)
    }
    m
  }
}

object Main {
  val workloads: Map[String, () => Workload] = Map(
    "dedup_curate" -> (() => new DedupCurate),
    "graph_iterate" -> (() => new GraphIterate),
    "index_serve" -> (() => new IndexServe))

  /** Storage memory still held by cached blocks, in MB. */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  def deletePath(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  def unpersistAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  private def loadavg(): String =
    try { val s = scala.io.Source.fromFile("/proc/loadavg"); try s.mkString.trim finally s.close() }
    catch { case _: Exception => "" }

  def newSession(cores: Int, buildDir: String): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$buildDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$buildDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmrf))
    f.delete()
  }

  /** `--workload train --train w1,w2` runs the named workloads once,
    * traced, at tiny scale: the class-loading profile the build's
    * class-data archive is dumped from. */
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code = try {
      if (opt("workload") != "train") run(opt)
      else for (w <- opt("train").split(","))
        run(opt ++ Map("workload" -> w, "scale" -> "tiny", "trace" -> "1", "seconds" -> "0"))
      0
    } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code) // Spark leaves non-daemon threads behind
  }

  private def run(opt: Map[String, String]): Unit = {
    val wname = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val buildDir = opt("build-dir")
    val scale = opt.getOrElse("scale", "full")
    val wl = workloads.getOrElse(wname, sys.error(s"unknown workload $wname"))()
    val spec = new ObjectMapper().readTree(new File(opt("sizes")))
    val size = Option(spec.path(wname).get(scale))
      .getOrElse(sys.error(s"no '$scale' sizes for $wname"))
    val setupReps = if (traced) 1 else size.path("setup_reps").asInt(1)
    // One core stays free for the thread that plans and schedules every job:
    // with all cores running tasks its jitter doubled the run-to-run spread.
    val cores = math.min(4, math.max(1, Runtime.getRuntime.availableProcessors - 1))
    val work = new File(s"$buildDir/work/$wname-$seed-${ProcessHandle.current.pid}")
    val runId = s"$wname-$seed-${ProcessHandle.current.pid}"

    var spark: SparkSession = null
    try {
      // Set-up, repeated: session, warm-up, input generation, artifacts.
      val phases = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
      def timed[A](phase: String)(f: => A): A = {
        val t0 = System.nanoTime()
        val r = f
        phases.getOrElseUpdate(phase, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
        r
      }
      var ctx: Ctx = null
      for (_ <- 1 to setupReps) {
        if (spark != null) spark.stop()
        rmrf(work); work.mkdirs()
        spark = timed("session.start")(newSession(cores, buildDir))
        timed("session.warmup") {
          spark.range(0, 200000, 1, cores).selectExpr("id % 97 AS k", "id")
            .groupBy("k").count().collect()
        }
        ctx = new Ctx(spark, seed, work.getPath, size, cores)
        timed("input.gen")(wl.generate(ctx))
        timed("artifacts.build")(wl.buildArtifacts(ctx))
      }
      System.err.println(s"perfbench: set-up seconds ${phases.map { case (k, v) =>
        k + "=" + v.map(x => f"$x%.2f").mkString("/") }.mkString(" ")}")
      val setupTotals = phases.values.head.indices.map(i => phases.values.map(_(i)).sum)
      val setupS = Gen.median(setupTotals)

      val env = s"""{"env":{"workload":"$wname","seed":$seed,"trace":${if (traced) 1 else 0},""" +
        s""""nproc":${Runtime.getRuntime.availableProcessors},"cores":$cores,""" +
        s""""loadavg":"${loadavg()}","heap_max_mb":${Runtime.getRuntime.maxMemory / (1 << 20)},""" +
        s""""spark":"${spark.version}","java":"${System.getProperty("java.version")}"}}"""
      println(env)

      val minUnits = size.path("min_units").asInt(3)
      val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
      // Untimed warm-up units, so codegen and JIT warm-up stay out of the
      // timings (their checks still count).
      val untraced = new Tracer(spark, false, runId)
      val runs = mutable.ArrayBuffer(wl.run(ctx, untraced, 0L, size.path("warm_units").asInt(1)))
      if (!traced) {
        val m = wl.run(ctx, untraced, System.nanoTime() + (seconds * 1e9).toLong, minUnits)
        runs += m
        metrics("setup_s") = (setupS, "s")
        // Throughput, a mean over every timed unit; p50_ms is the median unit.
        metrics("records_per_s") = (
          m.samples.count(_.ok) * wl.recordsPerUnit(ctx) / m.samples.map(_.seconds).sum, "1/s")
        metrics("p50_ms") = (Gen.median(m.ok(wl.latencyKind)) * 1e3, "ms")
        metrics("recall") = (if (m.recalls.isEmpty) 0.0 else m.recalls.sum / m.recalls.size, "fraction")
      } else {
        // Half the time untraced (the overhead baseline), half traced.
        val half = (seconds * 1e9 / 2).toLong
        val units0 = math.max(1, minUnits / 2)
        val base = wl.run(ctx, untraced, System.nanoTime() + half, units0)
        val tr = new Tracer(spark, true, runId)
        val m = wl.run(ctx, tr, System.nanoTime() + half, units0)
        runs += base += m
        tr.drain()
        val units = m.samples.size
        val wall = m.samples.map(_.seconds).sum
        def med(x: Measured) = Gen.median(x.ok(wl.latencyKind))
        for ((p, xs) <- phases) metrics(s"${p}_s") = (Gen.median(xs.toSeq), "s")
        val all = tr.exec.spanned
        val (analysis, optimizer, planning, queries) = tr.catalyst
        val per = (x: Double) => x / units
        val common = Seq(
          "catalyst.analysis_s" -> per(analysis),
          "catalyst.optimizer_s" -> per(optimizer),
          "catalyst.planning_s" -> per(planning),
          "catalyst.queries" -> per(queries.toDouble),
          "exec.jobs" -> per(all.jobs.toDouble),
          "exec.stages" -> per(all.stages.toDouble),
          "exec.tasks" -> per(all.tasks.toDouble),
          "exec.empty_task_frac" -> (if (all.tasks == 0) 0.0 else all.emptyTasks.toDouble / all.tasks),
          "exec.idle_frac" -> (1.0 - all.runMs / 1e3 / (cores * wall)),
          "exec.task_s" -> per(all.runMs / 1e3),
          "exec.cpu_s" -> per(all.cpuNs / 1e9),
          "exec.gc_s" -> per(all.gcMs / 1e3),
          "exec.shuffle_write_mb" -> per(all.shWriteBytes / 1e6),
          "exec.shuffle_read_mb" -> per(all.shReadBytes / 1e6),
          "exec.spill_mb" -> per(all.spillBytes / 1e6),
          "exec.skew" -> all.worstSkew,
          "exec.failed_tasks" -> all.failedTasks.toDouble,
          "sinks.write_s" -> per(tr.seconds("sinks.write")),
          "sinks.write_mb" -> per(tr.execOf("sinks.write").outBytes / 1e6),
          // from the untraced units, which call the engine's fused entry points
          "storage.leaked_mb" -> base.leakedMb,
          "trace.overhead_s" -> (med(m) - med(base)),
          "trace.spans" -> per(tr.spans.size.toDouble))
        for ((k, v) <- common ++ wl.layers(ctx, tr, units)) metrics(k) = (v, layerUnit(k))
        val out = Paths.get(buildDir, "traces")
        Files.createDirectories(out)
        Files.write(out.resolve(s"$wname-seed$seed.jsonl"),
          (env +: tr.spanJson).mkString("", "\n", "\n").getBytes("UTF-8"))
      }
      val samples = runs.flatMap(_.samples)
      System.err.println(s"perfbench: unit seconds ${runs.map(_.samples.map(s =>
        f"${s.kind}:${s.seconds}%.2f").mkString(" ")).mkString(" | ")}")
      runs.flatMap(_.failures).distinct.take(5).foreach(f => System.err.println(s"perfbench: FAILED: $f"))
      val attempted = samples.size
      val failed = samples.count(!_.ok)
      val body = metrics.map { case (k, (v, u)) =>
        val x = if (v.isNaN || v.isInfinite) 0.0 else v
        s""""$k":{"value":${BigDecimal(x).bigDecimal.toPlainString},"unit":"$u"}"""
      }.mkString(",")
      println(s"""PERFBENCH_RESULT {"correct":${failed == 0},"attempted":$attempted,""" +
        s""""failed":$failed,"metrics":{$body}}""")
    } finally {
      if (spark != null) spark.stop()
      rmrf(work)
    }
  }

  /** Units of per-layer metrics, by name. */
  def layerUnit(k: String): String =
    if (k.endsWith("_s")) "s"
    else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("_frac") || k.endsWith(".yield")) "fraction"
    else if (k == "exec.skew") "ratio"
    else "count"
}
