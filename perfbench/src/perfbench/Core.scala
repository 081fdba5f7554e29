package perfbench

import scala.collection.mutable
import graft.core._
import org.apache.spark.sql.{Dataset, Encoder, Observation, Row}

final class TransientError(msg: String) extends RuntimeException(msg)

/** Fails kind-3 items on their first attempt in this task and kind-4 items
  * on every attempt. */
final class FlakyLookup[T](key: T => Long, kind: T => Int) extends TypedStage[T] {
  val name = "lookup"
  @transient private var seen: mutable.HashSet[Long] = _
  override def onStart(): Unit = seen = mutable.HashSet.empty
  def process(v: T): T = {
    if (kind(v) == 4 || (kind(v) == 3 && seen.add(key(v))))
      throw new TransientError(s"lookup timeout for ${key(v)}")
    v
  }
}

/** The pipeline's own observability outputs, as the checks read them:
  * observed (critical, failed, items), errorSummary and timingSummary rows. */
final case class CoreOut(obs: (Long, Long, Long), errors: Array[Row], timings: Array[Row])

object CoreFront {
  /** Item fate for a uniform draw `u` and the four planted shares. */
  def kind(u: Double, shares: Seq[Double]): Int = {
    val i = shares.scanLeft(0.0)(_ + _).tail.indexWhere(u < _)
    if (i < 0) 0 else i + 1
  }
}

/** The typed-Pipeline front of a workload: five stages whose errors are
  * planted by each item's `kind` (0 clean, 1 soft error in enrich, 2
  * critical error in validate, 3 transient failure that succeeds on retry,
  * 4 transient failure that exhausts its retry), plus the closed-form check
  * of the pipeline's metrics and the core.* per-layer numbers. */
final class CoreFront {
  private var stageBusy, items, soft, critical, retries = 0.0

  /** Build the typed chain, observe it and keep it (its output feeds the
    * frame stages, the error sink and both rollups). */
  def build[T](tr: Tracer, src: Dataset[T], key: T => Long, kind: T => Int)(
      enrich: T => T, normalize: T => T, finish: T => T)(
      implicit enc: Encoder[Tracked[T]]): (Dataset[Tracked[T]], Observation) = {
    val typed = Pipeline.of(src)
      .append("enrich") { v =>
        if (kind(v) == 1) throw new SoftError(s"no quality model for ${key(v)}")
        enrich(v)
      }
      .append("validate") { v =>
        if (kind(v) == 2) throw new IllegalStateException(s"unreadable record ${key(v)}")
        v
      }
      .appendBatch(TypedBatchStage[T]("normalize", 512)(_.map(normalize)))
      .append(new FlakyLookup[T](key, kind),
        StageOpts(retry = Retry(Seq(classOf[TransientError]), maxRetries = 1)))
      .append("finalize")(finish)
      .build()
    val (ds, obs) = PipelineMetrics.observed(typed)
    (tr.keep(ds), obs)
  }

  /** The monitoring rollups, inside span core.metrics. */
  def report[T](ds: Dataset[Tracked[T]], obs: Observation, tr: Tracer): CoreOut = {
    val out = tr.span("core.metrics") {
      val m = obs.get
      val o = (m("n_critical"), m("n_failed"), m("n_items")) match {
        case (a: Long, b: Long, n: Long) => (a, b, n)
        case other => sys.error(s"unexpected observation $other")
      }
      CoreOut(o, PipelineMetrics.errorSummary(ds).collect(),
        PipelineMetrics.timingSummary(ds).collect())
    }
    if (tr.enabled) stageBusy += out.timings.map(_.getAs[Double]("total_s")).sum
    out
  }

  /** Check against the planted counts: n items, k(i) of kind i, and the
    * rows the error sink wrote. */
  def verify(out: CoreOut, n: Long, k: Int => Long, errorRows: Long): Option[String] = {
    val (k1, k2, k4) = (k(1), k(2), k(4))
    val errs = out.errors.map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val wantErrs = Set(("enrich", StageError.Soft, k1, k1), ("validate", StageError.Critical, k2, k2),
      ("lookup", StageError.RetryExhausted, k4, 2 * k4)).filter(_._3 > 0)
    val tims = out.timings.map(r => r.getString(0) -> r.getLong(1)).toMap
    val wantTims = Map("enrich" -> n, "validate" -> n, "normalize" -> (n - k2),
      "lookup" -> (n - k2), "finalize" -> (n - k2))
    if (out.obs != ((k2, k1 + k2 + k4, n))) Some(s"observed (critical, failed, items) ${out.obs}")
    else if (errs != wantErrs) Some(s"error summary $errs != $wantErrs")
    else if (tims != wantTims) Some(s"timing counts $tims != $wantTims")
    else if (errorRows != k1 + k2 + k4) Some(s"error sink rows $errorRows")
    else {
      items = out.obs._3.toDouble
      critical = out.obs._1.toDouble
      soft = out.errors.filter(_.getString(1) == StageError.Soft).map(_.getLong(2)).sum.toDouble
      retries = out.errors.filter(_.getString(1) == StageError.RetryExhausted)
        .map(r => r.getLong(3) - r.getLong(2)).sum.toDouble
      None
    }
  }

  /** core.* per pass; `core.pipeline` is the span that runs the typed chain. */
  def layers(tr: Tracer, units: Int): Map[String, Double] = Map(
    "core.build_s" -> tr.seconds("core.build") / units,
    "core.stage_busy_s" -> stageBusy / units,
    "core.harness_s" -> (tr.execOf("core.pipeline").runMs / 1e3 - stageBusy) / units,
    "core.items" -> items, "core.soft_errors" -> soft,
    "core.critical_errors" -> critical, "core.retries" -> retries)
}
