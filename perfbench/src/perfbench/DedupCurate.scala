package perfbench

import graft.core.{FramePipeline, ItemColumns, PipelineMetrics, StageError}
import graft.operators.Dedup
import graft.sources.{Sinks, Sources}
import org.apache.spark.sql.functions._

/** One document as a pipeline item; `kind` plants its fate (see
  * [[CoreFront]]). The stages never touch `text`. */
final case class DocItem(doc_id: Long, text: String, kind: Int, words: Int, lang: String, len: Int)

/** The generated corpus. Documents come in slots of four: a planted slot
  * holds four copies of one base text, each with its own last word (the
  * near-dup clusters); other documents are fresh Zipf text, an exact copy
  * of an earlier document, or fresh text with a held-out eval document
  * pasted inside. */
final case class DedupSpec(seed: Long, docs: Int, vocab: Int, zipfS: Double,
    minLen: Int, maxLen: Int, clusterShare: Double,
    exactShare: Double, contamShare: Double, evalDocs: Int, evalLen: Int,
    shares: Seq[Double]) {
  @transient lazy val zipf = new Gen.Zipf(vocab, zipfS)
  private def u(stream: Long, a: Long, b: Long) = Gen.unit(seed, stream, Gen.mix(a) ^ b)
  private def word(stream: Long, a: Long, j: Int) = "w" + zipf.rank(u(stream, a, j))
  private def len(stream: Long, a: Long) = minLen + Gen.below(seed, stream, a, maxLen - minLen + 1)

  def kind(i: Long): Int = CoreFront.kind(Gen.unit(seed, 19, i), shares)
  def planted(i: Long): Boolean = Gen.unit(seed, 20, i / 4) < clusterShare
  def exactSource(i: Long): Option[Long] =
    if (planted(i) || i < 8 || Gen.unit(seed, 23, i) >= exactShare) None
    else Some(i - 1 - Gen.below(seed, 24, i, math.min(i, 64L).toInt))
  def contaminatedBy(i: Long): Option[Int] =
    if (planted(i) || exactSource(i).nonEmpty || Gen.unit(seed, 25, i) >= contamShare) None
    else Some(Gen.below(seed, 26, i, evalDocs))

  def evalText(e: Int): String =
    (0 until evalLen).map(j => "q" + Gen.below(seed, 27, Gen.mix(e) ^ j, 1 << 20)).mkString(" ")

  def text(i: Long): String =
    if (planted(i)) {
      // Copies differ in one shingle, so a planted pair's Jaccard is about
      // 0.95 and banding misses none. A missed pair would add a Components
      // round inside collapseClusters (about 15% of a pass), making the
      // pass time depend on the seed.
      val s = i / 4
      val n = len(21, s)
      ((0 until n - 1).map(j => word(29, s, j)) :+ word(28, i, n - 1)).mkString(" ")
    } else exactSource(i) match {
      case Some(j) => text(j)
      case None =>
        val fresh = (0 until len(30, i)).map(j => word(31, i, j))
        contaminatedBy(i) match {
          case Some(e) => (fresh.take(8) :+ evalText(e)) ++ fresh.drop(8) mkString " "
          case None => fresh.mkString(" ")
        }
    }
}

/** Curation pipeline: a typed Pipeline front over the documents
  * ([[CoreFront]]: soft, critical and retried errors) → FramePipeline
  * (drop critical, exact-dedup stage) → Dedup.minhashPairs →
  * Dedup.collapseClusters → Dedup.containmentPairs against the eval slice
  * (hot shingles capped with maxDocFreq) → curated corpus to
  * Sinks.parquet, errors to PipelineMetrics.sinkErrors. */
final class DedupCurate extends BatchWorkload {
  val name = "dedup_curate"
  private val evalBase = DedupCurate.EvalBase
  private val core = new CoreFront
  private var pairsOut = 0.0

  private def spec(c: Ctx) = DedupSpec(c.seed, c.int("docs"), c.int("vocab"), c.dbl("zipf_s"),
    c.int("min_words"), c.int("max_words"), c.dbl("cluster_share"),
    c.dbl("exact_share"), c.dbl("contaminated_share"), c.int("eval_docs"), c.int("eval_words"),
    Seq(c.dbl("soft_share"), c.dbl("critical_share"), c.dbl("retry_ok_share"),
      c.dbl("retry_exhausted_share")))

  def recordsPerUnit(c: Ctx): Long = c.int("docs").toLong

  def generate(c: Ctx): Unit = {
    val spark = c.spark
    import spark.implicits._
    val sp = spec(c)
    spark.range(0, sp.docs.toLong, 1, c.cores * 4)
      .map(i => DocItem(i, sp.text(i), sp.kind(i), 0, "", 0))
      .write.mode("overwrite").parquet(c.path("docs"))
    spark.range(0, sp.evalDocs.toLong, 1, c.cores)
      .map(e => (DedupCurate.EvalBase + e, sp.evalText(e.toInt))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(c.path("eval"))
  }

  private case class Out(core: CoreOut, pairs: Array[(Long, Long, Double)],
      contam: Array[(Long, Long, Double, Double)])

  def pass(c: Ctx, tr: Tracer): Any = {
    val spark = c.spark
    import spark.implicits._
    val (hashes, bands) = (c.int("num_hashes"), c.int("bands"))
    val (items, obs) = tr.span("core.build") {
      core.build(tr, Sources.parquet(spark, c.path("docs")).as[DocItem],
        (d: DocItem) => d.doc_id, (d: DocItem) => d.kind)(
        d => d.copy(words = d.text.split(" ").count(_.nonEmpty)),
        d => d.copy(lang = "en"),
        d => d.copy(len = d.text.length))
    }
    tr.span("core.pipeline")(tr.materialize(items))
    val kept = tr.span("dedup.exact") {
      tr.boundary(FramePipeline.of(FramePipeline.fromTyped(items))
        .append("drop_critical")(_.filter(!exists(col(ItemColumns.Errors),
          e => e.getField("severity") === StageError.Critical)))
        .append("exact_dedup")(df => df.join(
          Dedup.exact(df).select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi"))
        .build()
        .select("doc_id", "text", "len"))
    }
    // The traced run splits minhashPairs into its two documented halves so
    // signature and pair time show separately; the harness keeps the
    // signatures as minhashPairs would persist them.
    val pairs = tr.keep(
      if (!tr.enabled) Dedup.minhashPairs(kept, hashes, bands, 3, c.dbl("threshold"))
      else {
        val sig = tr.span("dedup.signatures") {
          val s = tr.keep(Dedup.minhashSignatures(kept, hashes, 3))
          tr.materialize(s)
          s
        }
        Dedup.minhashPairsFromSignatures(sig, hashes, bands, c.dbl("threshold"))
      })
    tr.span("dedup.pairs")(tr.materialize(pairs))
    val curated = tr.span("dedup.collapse") {
      val k = tr.keep(Dedup.collapseClusters(kept, pairs, Seq(col("len").desc)))
      tr.materialize(k)
      k
    }
    val contam = tr.span("dedup.containment") {
      val evalDocs = Sources.parquet(spark, c.path("eval"))
      val k = tr.keep(Dedup.containmentPairs(
          curated.select("doc_id", "text").unionByName(evalDocs), 3, c.dbl("containment"),
          maxDocFreq = c.int("max_doc_freq"))
        .filter((col("a_id") >= evalBase) =!= (col("b_id") >= evalBase)))
      tr.materialize(k)
      k
    }
    tr.span("sinks.write") {
      val flagged = contam.select(least(col("a_id"), col("b_id")).as("doc_id"))
      Sinks.parquet(curated.join(flagged, Seq("doc_id"), "left_anti")
        .select("doc_id", "text", "cluster_size"), c.path("curated"))
      Main.deletePath(spark, c.path("errors"))
      PipelineMetrics.sinkErrors(items, c.path("errors"))
    }
    Out(core.report(items, obs, tr),
      pairs.as[(Long, Long, Double)].collect(),
      contam.as[(Long, Long, Double, Double)].collect())
  }

  private var planted: Set[(Long, Long)] = _
  private var contaminated: Set[Long] = _
  private var kinds: Map[Int, Long] = _

  /** Item fates, planted near-dup pairs among the documents that survive
    * the critical filter and exact dedup, and contaminated survivors;
    * computed once per seed. */
  private def expect(c: Ctx): Unit = if (planted == null) {
    val sp = spec(c)
    val n = sp.docs.toLong
    val kind = (0L until n).map(sp.kind)
    kinds = kind.groupBy(identity).map { case (k, v) => k -> v.size.toLong }.withDefaultValue(0L)
    planted = (0L until n by 4).filter(sp.planted).flatMap { s =>
      val members = (s until math.min(s + 4, n)).filter(i => kind(i.toInt) != 2)
        .map(i => i -> sp.text(i))
      val survivors = members.filter { case (i, t) => !members.exists(m => m._1 < i && m._2 == t) }
      survivors.combinations(2).map(p => (p(0)._1, p(1)._1))
    }.toSet
    contaminated = (0L until n).filter(i => kind(i.toInt) != 2 && sp.contaminatedBy(i).nonEmpty).toSet
  }

  def check(c: Ctx, o: Any): Either[String, Double] = {
    expect(c)
    val out = o.asInstanceOf[Out]
    val sp = spec(c)
    val spark = c.spark
    val curated = spark.read.parquet(c.path("curated")).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val errRows = spark.read.parquet(c.path("errors")).count()
    pairsOut = out.pairs.length + out.contam.length
    val found = out.pairs.map(p => (p._1, p._2)).toSet
    val recall = if (planted.isEmpty) 1.0 else planted.count(found).toDouble / planted.size
    def txt(id: Long) = if (id >= evalBase) sp.evalText((id - evalBase).toInt) else sp.text(id)
    def sh(id: Long) = Gen.shingles(txt(id), 3)
    val step = math.max(1, out.pairs.length / 25)
    val badJ = out.pairs.indices.by(step).map(out.pairs).find { case (a, b, j) =>
      val (x, y) = (sh(a), sh(b))
      math.abs((x & y).size.toDouble / (x | y).size - j) > 1e-9
    }
    val badC = out.contam.take(25).find { case (a, b, ca, cb) =>
      val (x, y) = (sh(a), sh(b))
      val inter = (x & y).size.toDouble
      math.abs(inter / x.size - ca) > 1e-9 || math.abs(inter / y.size - cb) > 1e-9
    }
    val flagged = out.contam.map(p => math.min(p._1, p._2)).toSet
    core.verify(out.core, sp.docs.toLong, kinds, errRows).map(Left(_)).getOrElse {
      if (recall < c.dbl("recall_floor")) Left(f"planted pair recall $recall%.4f")
      else if (badJ.nonEmpty) Left(s"reported jaccard differs from exact: ${badJ.get}")
      else if (badC.nonEmpty) Left(s"reported containment differs from exact: ${badC.get}")
      else if (curated.exists(flagged)) Left("a flagged document reached the curated sink")
      else if (curated.exists(contaminated)) Left("a contaminated document reached the curated sink")
      else if (contaminated.nonEmpty && flagged.isEmpty) Left("no contamination found")
      else Right(recall)
    }
  }

  def layers(c: Ctx, tr: Tracer, units: Int): Map[String, Double] = {
    val shuffle = tr.execOf("dedup.pairs").add(tr.execOf("dedup.containment"))
    core.layers(tr, units) ++ Map(
      "dedup.exact_s" -> tr.seconds("dedup.exact") / units,
      "dedup.signatures_s" -> tr.seconds("dedup.signatures") / units,
      "dedup.pairs_s" -> tr.seconds("dedup.pairs") / units,
      "dedup.collapse_s" -> tr.seconds("dedup.collapse") / units,
      "dedup.containment_s" -> tr.seconds("dedup.containment") / units,
      "dedup.pairs_shuffle_mb" -> tr.execOf("dedup.pairs").shWriteBytes / 1e6 / units,
      "dedup.containment_shuffle_mb" -> tr.execOf("dedup.containment").shWriteBytes / 1e6 / units,
      "dedup.shuffle_mb" -> shuffle.shWriteBytes / 1e6 / units,
      "dedup.shuffle_records" -> shuffle.shWriteRecs.toDouble / units,
      "dedup.pairs_out" -> pairsOut,
      "dedup.yield" -> (if (shuffle.shWriteRecs == 0) 0.0
        else pairsOut * units / shuffle.shWriteRecs))
  }
}

object DedupCurate {
  /** Eval documents take ids from here up, clear of the corpus ids. */
  val EvalBase = 1000000000L
}
