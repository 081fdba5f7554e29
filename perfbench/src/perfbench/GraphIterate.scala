package perfbench

import scala.collection.mutable
import graft.operators.{Components, Graph}
import graft.sources.{Sinks, Sources}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The generated graph. Vertices [0, chain) form one directed ring, so
  * reachability from vertex 0 takes `chain` rounds. The rest split into
  * communities with power-law sizes; every vertex has one out-edge and the
  * remaining edges fall inside a community with Zipf-skewed targets
  * (power-law in-degree). The delta batch adds cross-community edges plus
  * one edge out of the ring. */
final case class GraphSpec(seed: Long, vertices: Int, edges: Int, chain: Int,
    communities: Int, communityZipf: Double, degreeZipf: Double, deltaEdges: Int) {
  /** Community c spans [starts(c), starts(c + 1)). */
  val starts: Array[Int] = {
    val w = Array.tabulate(communities)(k => 1.0 / math.pow(k + 1, communityZipf))
    val free = vertices - chain
    val sizes = w.map(x => math.max(2, (x / w.sum * free).toInt))
    sizes(0) += free - sizes.sum
    sizes.scanLeft(chain)(_ + _)
  }
  @transient lazy val zipf = new Gen.Zipf(starts.sliding(2).map(p => p(1) - p(0)).max, degreeZipf)
  private def community(v: Int): Int = {
    val i = java.util.Arrays.binarySearch(starts, v)
    if (i >= 0) i else -i - 2
  }
  private def target(v: Int, e: Long): Int = {
    val c = community(v)
    starts(c) + zipf.rank(Gen.unit(seed, 41, e)) % (starts(c + 1) - starts(c))
  }
  private def weight(e: Long): Int = 1 + Gen.below(seed, 42, e, 9)

  /** Edge e as (src, dst, w). */
  def edge(e: Long): (Long, Long, Int) = {
    val free = vertices - chain
    if (e < chain) (e, (e + 1) % chain, weight(e))
    else if (e < vertices) (e, target(e.toInt, e), weight(e))
    else {
      val src = chain + Gen.below(seed, 43, e, free)
      (src.toLong, target(src, e).toLong, weight(e))
    }
  }
  def delta(d: Long): (Long, Long, Int) =
    if (d == 0) (chain - 1L, chain.toLong, 1)
    else (chain + Gen.below(seed, 44, d, vertices - chain).toLong,
      chain + Gen.below(seed, 45, d, vertices - chain).toLong, 1 + Gen.below(seed, 46, d, 9))
  def landmarks: Seq[Long] = Seq(0L, starts(1).toLong, starts(2).toLong)
}

/** Graph.pageRank, Graph.shortestPaths, Graph.reachableFrom and
  * Components.connected over the graph, then Components.incremental and
  * Graph.incrementalReachable over the delta batch; every result is
  * written with Sinks.parquet. */
final class GraphIterate extends BatchWorkload {
  val name = "graph_iterate"

  private def spec(c: Ctx) = GraphSpec(c.seed, c.int("vertices"), c.int("edges"), c.int("chain"),
    c.int("communities"), c.dbl("community_zipf"), c.dbl("degree_zipf"), c.int("delta_edges"))

  def recordsPerUnit(c: Ctx): Long = c.int("edges").toLong

  def generate(c: Ctx): Unit = {
    val spark = c.spark
    import spark.implicits._
    val sp = spec(c)
    spark.range(0, sp.edges.toLong, 1, c.cores * 4).map(e => sp.edge(e)).toDF("src", "dst", "w")
      .write.mode("overwrite").parquet(c.path("edges"))
    spark.range(0, sp.deltaEdges.toLong, 1, c.cores).map(d => sp.delta(d)).toDF("src", "dst", "w")
      .write.mode("overwrite").parquet(c.path("delta"))
  }

  def pass(c: Ctx, tr: Tracer): Any = {
    val spark = c.spark
    import spark.implicits._
    val sp = spec(c)
    val edges = Sources.parquet(spark, c.path("edges"))
    val delta = Sources.parquet(spark, c.path("delta"))
    val seeds = sp.landmarks.toDF("node")
    val rank = tr.span("fixpoint.pagerank")(tr.boundary(
      Graph.pageRank(edges, iterations = c.int("pagerank_iterations"))))
    val dist = tr.span("fixpoint.sssp")(tr.boundary(
      Graph.shortestPaths(edges, seeds, rounds = c.int("sssp_rounds"))))
    val reach = tr.span("fixpoint.reach")(tr.boundary(Graph.reachableFrom(edges, seeds)))
    val cc = tr.span("fixpoint.cc")(tr.boundary(Components.connected(edges, "src", "dst")))
    val (cc2, reach2) = tr.span("fixpoint.incremental") {
      (tr.boundary(Components.incremental(cc, delta, "src", "dst")),
        tr.boundary(Graph.incrementalReachable(reach, edges.unionByName(delta), delta)))
    }
    tr.span("sinks.write") {
      for ((df, n) <- Seq(rank -> "rank", dist -> "dist", reach -> "reach", cc -> "cc",
          cc2 -> "cc2", reach2 -> "reach2"))
        Sinks.parquet(df, c.path(n))
    }
    ()
  }

  /** Union-find labels (min id per component), bounded Bellman-Ford costs
    * and BFS depths, from the generator alone; computed once per seed. */
  private final class Truth(sp: GraphSpec) {
    val es: Array[(Long, Long, Int)] = Array.tabulate(sp.edges)(e => sp.edge(e.toLong))
    val ds: Array[(Long, Long, Int)] = Array.tabulate(sp.deltaEdges)(d => sp.delta(d.toLong))
    def components(edges: Iterable[(Long, Long, Int)]): (Long, Long, Long) = {
      val parent = Array.tabulate(sp.vertices)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var y = x
        while (parent(y) != r) { val n = parent(y); parent(y) = r; y = n }
        r
      }
      for ((a, b, _) <- edges) {
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val comp = Array.tabulate(sp.vertices)(find)
      (comp.indices.count(i => comp(i) == i).toLong, comp.map(_.toLong).sum,
        comp.indices.map(i => comp(i).toLong * (i % 1000)).sum)
    }
    def bfs(edges: Iterable[(Long, Long, Int)]): Map[Long, Int] = {
      val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      val depth = mutable.Map.empty[Long, Int]
      var frontier = sp.landmarks.distinct
      frontier.foreach(depth(_) = 0)
      var d = 0
      while (frontier.nonEmpty) {
        d += 1
        frontier = frontier.flatMap(v => adj.getOrElse(v, Nil)).distinct.filterNot(depth.contains)
        frontier.foreach(depth(_) = d)
      }
      depth.toMap
    }
    def costs(rounds: Int): Map[Long, Long] = {
      var dist = sp.landmarks.map(_ -> 0L).toMap
      for (_ <- 1 to rounds) {
        val next = mutable.Map.empty[Long, Long] ++= dist
        for ((a, b, w) <- es; da <- dist.get(a)) {
          val nd = da + w
          if (next.get(b).forall(nd < _)) next(b) = nd
        }
        dist = next.toMap
      }
      dist
    }
    val cc = components(es)
    val cc2 = components(es ++ ds)
    val reach = bfs(es)
    val reach2 = bfs(es ++ ds).keySet
  }
  private var truth: Truth = _

  def check(c: Ctx, o: Any): Either[String, Double] = {
    val sp = spec(c)
    if (truth == null) truth = new Truth(sp)
    val t = truth
    val spark = c.spark
    def read(n: String): DataFrame = spark.read.parquet(c.path(n))
    def ccSums(df: DataFrame) = {
      val r = df.agg(sum(when(col("id") === col("comp"), 1L).otherwise(0L)),
        sum(col("comp")), sum(col("comp") * (col("id") % 1000))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val mass = read("rank").agg(sum("rank_millionths")).head().getLong(0)
    val iters = c.int("pagerank_iterations").toLong
    val full = sp.vertices * 1000000L
    val reach = read("reach").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val reach2 = read("reach2").select("node").collect().map(_.getLong(0)).toSet
    val cost = t.costs(c.int("sssp_rounds"))
    val dist = read("dist").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (ccSums(read("cc")) != t.cc) Left(s"components ${ccSums(read("cc"))} != union-find ${t.cc}")
    else if (ccSums(read("cc2")) != t.cc2) Left("incremental components differ from union-find")
    else if (mass > full || mass < full - iters * (sp.edges + sp.vertices))
      Left(s"pagerank mass $mass outside [${full - iters * (sp.edges + sp.vertices)}, $full]")
    else if (reach != t.reach) Left(s"reachable set/depths differ (${reach.size} vs ${t.reach.size})")
    else if (reach2 != t.reach2) Left(s"incremental reachable set differs (${reach2.size} vs ${t.reach2.size})")
    else if (dist != cost) Left(s"shortest-path costs differ (${dist.size} vs ${cost.size})")
    else Right(1.0)
  }

  def layers(c: Ctx, tr: Tracer, units: Int): Map[String, Double] = {
    val names = Seq("pagerank", "sssp", "reach", "cc", "incremental")
    val fx = names.map(n => tr.execOf(s"fixpoint.$n")).foldLeft(new ExecTotals)(_ add _)
    val secs = names.map(n => tr.seconds(s"fixpoint.$n")).sum
    names.map(n => s"fixpoint.${n}_s" -> tr.seconds(s"fixpoint.$n") / units).toMap ++ Map(
      "fixpoint.jobs" -> fx.jobs.toDouble / units,
      "fixpoint.s_per_job" -> (if (fx.jobs == 0) 0.0 else secs / fx.jobs))
  }
}
