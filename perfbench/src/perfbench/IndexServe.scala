package perfbench

import scala.collection.mutable
import graft.operators.{Retrieval, VectorIndex}
import graft.sources.Sources

/** Mixture-of-Gaussians vectors and Zipf-text documents with needle terms:
  * every `needle_every`-th document carries one term no other document has. */
final case class ServeSpec(seed: Long, vectors: Int, dim: Int, clusters: Int, sigma: Double,
    docs: Int, vocab: Int, docWords: Int, needleEvery: Int) {
  @transient lazy val zipf = new Gen.Zipf(vocab, 1.1)
  private def gauss(stream: Long, a: Long, j: Int): Double = {
    val k = Gen.mix(a) ^ j
    val u1 = math.max(Gen.unit(seed, stream, k), 1e-12)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * Gen.unit(seed, stream + 1, k))
  }
  /** Vector `i` of the stream `stream` (corpus, appends and queries each
    * draw from their own stream): a cluster center plus a point of the
    * cluster's own 4-d subspace, so nearest neighbours are well separated
    * from the rest of the cluster. */
  def vector(stream: Long, i: Long): Array[Double] = {
    val c = Gen.below(seed, stream, i, clusters)
    val z = Array.tabulate(4)(t => sigma * gauss(stream + 100, i, t))
    Array.tabulate(dim)(j =>
      gauss(60, c, j) + (0 until 4).map(t => z(t) * gauss(62, c, 4 * j + t + dim)).sum)
  }
  def doc(i: Long): String = {
    val ws = (0 until docWords).map(j => "w" + zipf.rank(Gen.unit(seed, 70, Gen.mix(i) ^ j)))
    (if (i % needleEvery == 0) ws :+ s"needle$i" else ws).mkString(" ")
  }
}

/** Stored-artifact serving: an IVFADC index (VectorIndex.write) and a BM25
  * index (Retrieval.writeBm25Index) built in set-up, then one closed-loop
  * client with no think time: top-k reads (VectorIndex.search, and
  * Retrieval.readBm25Index + bm25SearchIndexed) with a VectorIndex.appendBatch
  * write every `append_every` requests. The first vector read after each
  * append carries a query planted next to an appended vector. */
final class IndexServe extends Workload {
  val name = "index_serve"
  override def latencyKind: String = "read"
  private var liveBatches = 0.0
  private var served = 0

  private def spec(c: Ctx) = ServeSpec(c.seed, c.int("vectors"), c.int("dim"), c.int("clusters"),
    c.dbl("sigma"), c.int("docs"), c.int("vocab"), c.int("doc_words"), c.int("needle_every"))

  def recordsPerUnit(c: Ctx): Long = 1L

  def generate(c: Ctx): Unit = {
    val spark = c.spark
    import spark.implicits._
    val sp = spec(c)
    spark.range(0, sp.vectors.toLong, 1, c.cores * 2).map(i => (i, sp.vector(1000, i)))
      .toDF("vec_id", "embedding").write.mode("overwrite").parquet(c.path("vectors"))
    spark.range(0, sp.docs.toLong, 1, c.cores * 2).map(i => (i, sp.doc(i)))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(c.path("docs"))
  }

  override def buildArtifacts(c: Ctx): Unit = {
    val spark = c.spark
    VectorIndex.write(Sources.parquet(spark, c.path("vectors")), c.path("ivf"),
      m = c.int("pq_m"), ks = c.int("pq_ks"))
    Retrieval.writeBm25Index(Sources.parquet(spark, c.path("docs")), c.path("bm25"))
  }

  def run(c: Ctx, tr: Tracer, deadlineNs: Long, minUnits: Int): Measured = {
    val spark = c.spark
    import spark.implicits._
    val sp = spec(c)
    val m = new Measured
    val k = c.int("k")
    val qn = c.int("queries_per_request")
    val batch = c.int("append_size")
    if (known.isEmpty) (0L until sp.vectors).foreach(i => known += i -> unitVec(sp.vector(1000, i)))
    var pending: Option[(Long, Array[Double])] = None
    var r = served
    while (m.samples.size < minUnits || System.nanoTime() < deadlineNs) {
      r += 1
      val t0 = System.nanoTime()
      if (r % c.int("append_every") == 0) {
        val base = sp.vectors + appendedTotal
        val rows = (0 until batch).map(j => (base + j, sp.vector(2000, base + j)))
        val ok = try {
          tr.span("artifacts.append") {
            VectorIndex.appendBatch(rows.toDF("vec_id", "embedding"), c.path("ivf"), s"b$r")
          }
          true
        } catch { case e: Exception => m.failures += s"append: ${e.getMessage}"; false }
        m.samples += Sample("append", (System.nanoTime() - t0) / 1e9, ok)
        if (ok) {
          rows.foreach { case (id, v) => known += id -> unitVec(v) }
          appendedTotal += batch
          val (id, v) = rows(Gen.below(c.seed, 80, r, batch))
          pending = Some(id -> v.map(_ + 1e-3))
        }
      } else if (r % 2 == 0 || pending.nonEmpty) {
        val qs = (0 until qn).map(j => (-(r * 64L + j) - 1, sp.vector(3000, r * 64L + j))) ++
          pending.map { case (id, v) => (-(r * 64L + 63) - 1, v) }
        val res = try Right(tr.span("artifacts.search.request") {
          val q = qs.toDF("vec_id", "embedding")
          if (!tr.enabled) VectorIndex.search(q, c.path("ivf"), k = k).collect()
          else {
            val idx = tr.span("artifacts.load")(VectorIndex.load(spark, c.path("ivf")))
            tr.span("artifacts.search")(VectorIndex.searchLoaded(q, idx, k = k).collect())
          }
        }) catch { case e: Exception => Left(e.getMessage) }
        val dt = (System.nanoTime() - t0) / 1e9
        val verdict = res.flatMap { rows =>
          val got = rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
          val short = qs.find(q => got.getOrElse(q._1, Set.empty).size != k)
          val ryw = pending.map(p => (-(r * 64L + 63) - 1) -> p._1)
          if (short.nonEmpty) Left(s"query ${short.get._1} got ${got.getOrElse(short.get._1, Set.empty).size} of $k rows")
          else if (ryw.exists { case (q, target) => !got(q).contains(target) })
            Left(s"appended vector ${pending.get._1} not found by the read after its append")
          else Right(qs.map { case (q, v) =>
            val u = unitVec(v)
            val truth = known.map { case (id, x) => id -> dot(u, x) }
              .sortBy(p => (-p._2, p._1)).take(k).map(_._1).toSet
            (got(q) & truth).size.toDouble / k
          }.sum / qs.size)
        }
        pending = None
        verdict.fold(m.failures += _, m.recalls += _)
        m.samples += Sample("read", dt, verdict.isRight)
      } else {
        val needles = (0 until qn).map(j => Gen.below(c.seed, 81, r * 64L + j, sp.docs / sp.needleEvery)
          .toLong * sp.needleEvery)
        val terms = needles.zipWithIndex.flatMap { case (d, q) =>
          Seq(q -> s"needle$d", q -> ("w" + Gen.below(c.seed, 82, r * 64L + q, 20)))
        }
        val res = try Right(tr.span("artifacts.bm25.request") {
          val qt = terms.toDF("qid", "term")
          val (post, dfT, stats) = tr.span("artifacts.load")(Retrieval.readBm25Index(spark, c.path("bm25")))
          tr.span("artifacts.bm25")(Retrieval.bm25SearchIndexed(post, dfT, stats, qt, k = k).collect())
        }) catch { case e: Exception => Left(e.getMessage) }
        val dt = (System.nanoTime() - t0) / 1e9
        val verdict = res.flatMap { rows =>
          val top = rows.filter(_.getAs[Int]("rnk") == 1).map(x => x.getAs[Int]("qid") -> x.getAs[Long]("doc_id")).toMap
          needles.zipWithIndex.find { case (d, q) => !top.get(q).contains(d) } match {
            case Some((d, q)) => Left(s"bm25 query $q for needle doc $d ranked ${top.get(q)} first")
            case None => Right(())
          }
        }
        verdict.left.foreach(m.failures += _)
        m.samples += Sample("read", dt, verdict.isRight)
      }
    }
    served = r
    liveBatches = VectorIndex.liveBatchCount(spark, c.path("ivf")).toDouble
    m
  }
  private var appendedTotal = 0L
  /** Brute-force side: every vector the index holds, unit-normalized. */
  private val known = mutable.ArrayBuffer.empty[(Long, Array[Double])]
  private def unitVec(v: Array[Double]) = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  def layers(c: Ctx, tr: Tracer, units: Int): Map[String, Double] = {
    def mean(n: String) = {
      val k = tr.spans.count(_.name == n)
      if (k == 0) 0.0 else tr.seconds(n) / k
    }
    val searches = tr.spans.count(_.name == "artifacts.search")
    Map(
      "artifacts.load_s" -> mean("artifacts.load"),
      "artifacts.search_s" -> mean("artifacts.search"),
      "artifacts.search_jobs" -> (if (searches == 0) 0.0
        else tr.execOf("artifacts.search").jobs.toDouble / searches),
      "artifacts.bm25_s" -> mean("artifacts.bm25"),
      "artifacts.append_s" -> mean("artifacts.append"),
      "artifacts.live_batches" -> liveBatches)
  }
}
