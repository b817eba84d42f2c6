package graft.operators

import org.apache.spark.sql.{DataFrame, Row}

/** Driver-side EXACT PageRank kernels over a BOUNDED edge list, run
  * when [[Bounded.rankEdges]] fetches the whole graph (the declared rank
  * queries g1/g2/g3 iterate over event-type transition graphs of a few
  * dozen edges at any corpus scale; see [[Bounded]] for the routing rule
  * and the measured per-action overhead this avoids).
  *
  * EXACTNESS CONTRACT: only `exact = true` plans route here, because
  * only they define a reproducible float-op order. Every IEEE operation
  * below replicates the distributed exact plan bit-for-bit:
  *  - contrib = (rank * w.toDouble) / ow.toDouble — same association
  *    as `col("rank") * col("w").cast("double") / col("ow")
  *    .cast("double")`;
  *  - incoming contributions fold left-to-right in (src, contrib)
  *    order from 0.0 — the `aggregate(array_sort(collect_list(
  *    struct(src, contrib))), lit(0.0), _ + _)` order, with string
  *    src compared as unsigned UTF-8 bytes (UTF8String's binary
  *    order, NOT java.lang.String's UTF-16 order);
  *  - next = teleport + damping * inc (personalized:
  *    (1-d) * tele + d * inc) with scalars computed by the same Scala
  *    expressions the distributed plan embeds as literals.
  * The DuckDB oracle re-checks g1/g2/g3 hashes every round, so a
  * divergence in any ulp fails the gate loudly.
  */
private[operators] object DriverRank {

  /** Unsigned UTF-8 byte comparison — UTF8String.binaryCompare, the
    * order Spark's array_sort uses for StringType struct fields. */
  private[operators] val utf8Order: Ordering[String] = (a: String, b: String) => {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    var r = 0
    while (r == 0 && i < n) {
      r = (x(i) & 0xff) - (y(i) & 0xff)
      i += 1
    }
    if (r != 0) r else x.length - y.length
  }

  /** A bounded driver-resident graph: distinct node values in Spark
    * sort order, edges as index triples, and a lift from a per-index
    * rank vector back to a (node, rank) frame in the coerced src∪dst
    * type. */
  private[operators] final case class Graphlet(
      n: Int,
      srcIdx: Array[Int], dstIdx: Array[Int], w: Array[Long],
      /** index of a SEED value (cast the same way as the edges), or -1
        * when the value labels no graph node. */
      seedIndex: Any => Int,
      toFrame: Array[Double] => DataFrame)

  /** The driver-resident graph of the edge rows [[Bounded.rankEdges]]
    * fetched: (src, dst, w) with ids as string or long, w as long. */
  private[operators] def graphlet(
      edges: DataFrame, srcCol: String, dstCol: String,
      probe: Array[Row]): Graphlet = {
    val spark = edges.sparkSession
    import spark.implicits._
    val m = probe.length
    val srcIdx = new Array[Int](m)
    val dstIdx = new Array[Int](m)
    val w = Array.tabulate(m)(i => probe(i).getLong(2))
    // both paths emit the coerced src∪dst id type (the g9 schema rule)
    def frame(rows: DataFrame) =
      Bounded.castIds(rows.toDF("node", "rank"), edges, srcCol, dstCol, "node")
    if (probe(0).get(0).isInstanceOf[String]) {
      val set = new java.util.TreeSet[String](utf8Order)
      probe.foreach { r => set.add(r.getString(0)); set.add(r.getString(1)) }
      val ids = set.toArray(new Array[String](0))
      val index = new java.util.HashMap[String, Integer](ids.length * 2)
      ids.zipWithIndex.foreach { case (s, j) => index.put(s, j) }
      var i = 0
      while (i < m) {
        srcIdx(i) = index.get(probe(i).getString(0))
        dstIdx(i) = index.get(probe(i).getString(1))
        i += 1
      }
      val seedIndex = (v: Any) => v match {
        case s: String => Option(index.get(s)).map(_.intValue).getOrElse(-1)
        case _ => -1
      }
      Graphlet(ids.length, srcIdx, dstIdx, w, seedIndex,
        ranks => frame(Bounded.lift(spark, ids.toSeq.zip(ranks.toSeq)).toDF()))
    } else {
      val pairs = Array.tabulate(m)(j => (probe(j).getLong(0), probe(j).getLong(1)))
      val ids = DriverUnionFind.sortedIds(pairs)
      var i = 0
      while (i < m) {
        srcIdx(i) = DriverUnionFind.indexOf(ids, pairs(i)._1)
        dstIdx(i) = DriverUnionFind.indexOf(ids, pairs(i)._2)
        i += 1
      }
      def idxOf(l: Long): Int = {
        val j = DriverUnionFind.indexOf(ids, l)
        if (j >= 0) j else -1
      }
      val seedIndex = (v: Any) => v match {
        case x: Byte => idxOf(x.toLong)
        case x: Short => idxOf(x.toLong)
        case x: Int => idxOf(x.toLong)
        case x: Long => idxOf(x)
        case _ => -1
      }
      Graphlet(ids.length, srcIdx, dstIdx, w, seedIndex,
        ranks => frame(Bounded.lift(spark, ids.toSeq.zip(ranks.toSeq)).toDF()))
    }
  }

  /** Exact long out-weight per node index (absent sources never divide —
    * their nodes only ever RECEIVE). */
  private def outWeights(g: Graphlet): Array[Long] = {
    val ow = new Array[Long](g.n)
    var i = 0
    while (i < g.srcIdx.length) { ow(g.srcIdx(i)) += g.w(i); i += 1 }
    ow
  }

  /** Edge positions grouped by destination index. */
  private def incomingEdges(g: Graphlet): Array[Array[Int]] = {
    val cnt = new Array[Int](g.n)
    g.dstIdx.foreach(d => cnt(d) += 1)
    val out = Array.tabulate(g.n)(d => new Array[Int](cnt(d)))
    val pos = new Array[Int](g.n)
    var i = 0
    while (i < g.dstIdx.length) {
      val d = g.dstIdx(i)
      out(d)(pos(d)) = i
      pos(d) += 1
      i += 1
    }
    out
  }

  /** One exact step: next(v) = base(v) + damping * inc(v), inc folding
    * (src, contrib)-sorted contributions from 0.0 — the distributed
    * exact plan's IEEE op order. `base` closes over the teleport shape
    * (uniform scalar vs personalized per-node). */
  private def step(
      g: Graphlet, incoming: Array[Array[Int]], ow: Array[Long],
      ranks: Array[Double], damping: Double,
      base: Int => Double): Array[Double] = {
    val next = new Array[Double](g.n)
    var v = 0
    while (v < g.n) {
      val es = incoming(v)
      val contribs = new Array[(Int, Double)](es.length)
      var k = 0
      while (k < es.length) {
        val e = es(k)
        val s = g.srcIdx(e)
        contribs(k) = (s, ranks(s) * g.w(e).toDouble / ow(s).toDouble)
        k += 1
      }
      // struct(src, contrib) ascending: src index order IS Spark's src
      // value order; ties (duplicate (src,dst) edges) break on contrib
      java.util.Arrays.sort(contribs, (a: (Int, Double), b: (Int, Double)) => {
        val c = Integer.compare(a._1, b._1)
        if (c != 0) c else java.lang.Double.compare(a._2, b._2)
      })
      var inc = 0.0
      k = 0
      while (k < contribs.length) { inc = inc + contribs(k)._2; k += 1 }
      next(v) = base(v) + damping * inc
      v += 1
    }
    next
  }

  /** [[Graph.pageRank]]'s exact fixed-iteration loop. */
  private[operators] def fixed(
      g: Graphlet, iterations: Int, damping: Double): Array[Double] = {
    val ow = outWeights(g)
    val incoming = incomingEdges(g)
    val teleport = (1.0 - damping) / g.n.toDouble
    var ranks = Array.fill(g.n)(1.0 / g.n.toDouble)
    var i = 0
    while (i < iterations) {
      ranks = step(g, incoming, ow, ranks, damping, _ => teleport)
      i += 1
    }
    ranks
  }

  /** [[Graph.personalizedPageRank]]'s exact loop: teleport mass only on
    * `tele`-weighted nodes, rank₀ = tele. */
  private[operators] def personalized(
      g: Graphlet, tele: Array[Double], iterations: Int,
      damping: Double): Array[Double] = {
    val ow = outWeights(g)
    val incoming = incomingEdges(g)
    var ranks = tele.clone()
    var i = 0
    while (i < iterations) {
      ranks = step(g, incoming, ow, ranks, damping,
        v => (1.0 - damping) * tele(v))
      i += 1
    }
    ranks
  }

  /** [[Graph.pageRankConverged]]'s exact block loop: advance in blocks
    * of `blockIters`, stop when max |Δrank| < tol (max is
    * order-independent, so a plain scan matches the distributed probe).
    * Returns (ranks, iterationsRun). */
  private[operators] def converged(
      g: Graphlet, tol: Double, maxIterations: Int, damping: Double,
      blockIters: Int): (Array[Double], Int) = {
    val ow = outWeights(g)
    val incoming = incomingEdges(g)
    val teleport = (1.0 - damping) / g.n.toDouble
    var ranks = Array.fill(g.n)(1.0 / g.n.toDouble)
    var done = 0
    var converged = false
    while (!converged && done < maxIterations) {
      var cur = ranks
      var i = 0
      while (i < blockIters) {
        cur = step(g, incoming, ow, cur, damping, _ => teleport)
        i += 1
      }
      var delta = 0.0
      var v = 0
      while (v < g.n) {
        val d = math.abs(cur(v) - ranks(v))
        if (d > delta) delta = d
        v += 1
      }
      ranks = cur
      done += blockIters
      converged = delta < tol
    }
    (ranks, done)
  }
}
