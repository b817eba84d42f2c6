package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** The one "small input → run on the driver" policy. Every operator with
  * a driver-side shortcut asks this object, and only this object,
  * whether its input is small enough; the operator then runs either its
  * driver kernel or its `…Distributed` method, which tests and plan
  * gates call by name.
  *
  * Why the shortcuts exist: per-action fixed cost, not scan cost, sets
  * the latency floor of an iterative DataFrame loop over a small graph.
  *  - Ranks (`Graph.pageRank`, `personalizedPageRank`,
  *    `pageRankConverged`, `exact = true` only): the declared rank
  *    queries iterate over event-type transition graphs of a few dozen
  *    edges, where each distributed iteration is ~3 exchanges of pure
  *    scheduling overhead (g1 1.56 s / g2 1.47 s / g3 2.06 s at sf0.1 on
  *    32 cores, ≥90% of it per-action cost). [[DriverRank]] replays the
  *    distributed exact plan's IEEE op order bit for bit.
  *  - Union-find (`Graph.connectedComponents`,
  *    `Dedup.connectedComponents`, `Similarity.dbscanLabels`): after a
  *    confirmation step the edge set is orders of magnitude smaller than
  *    the corpus, and the distributed loops pay several actions per
  *    round (g9 at sf0.1 ran 93 jobs over a 10k-edge graph; s23 spent
  *    ~5 of 7 s in shuffles over 1,363 pairs). [[DriverUnionFind]]
  *    labels with min-id roots, exact integer logic on both paths.
  *
  * Routing rule, the same at every site: the input goes to the driver
  * only when [[probe]] fetches all of it — at most the ceiling's rows,
  * no null anywhere, ids in a family the kernel supports (integral for
  * union-find; integral or string for ranks). Anything else runs the
  * distributed path unchanged. Driver results are lifted with [[lift]]
  * and their ids cast back to the coerced src∪dst type with
  * [[castIds]], so the output schema never depends on the path taken.
  */
private[graft] object Bounded {

  /** Rank-kernel ceiling in edges: ~3 MB of driver heap in the index
    * arrays. Lower than the union-find ceiling because the rank kernels
    * iterate, so the driver's working set is kept small. */
  val RankEdges: Long = 100000L

  /** Union-find ceiling in edges: ~30 MB of driver heap in the
    * primitive-array union-find (sorted long ids, int parents), plus the
    * fetched Rows while they are copied into primitive pairs (transient,
    * ~80 bytes each). */
  val UnionFindEdges: Long = 1000000L

  private val integralTypes: Set[DataType] =
    Set(ByteType, ShortType, IntegerType, LongType)

  private def integral(types: DataType*): Boolean = types.forall(integralTypes)

  private def strings(types: DataType*): Boolean = types.forall(_ == StringType)

  private def typesOf(df: DataFrame, cols: String*): Seq[DataType] =
    df.select(cols.map(col): _*).schema.map(_.dataType)

  /** The single bounded probe: one `limit(max + 1)` collect that is both
    * the size test and the fetch (no separate count pass over a possibly
    * expensive upstream). `None` when `df` has more than `max` rows or a
    * null in any column. */
  def probe(df: DataFrame, max: Long): Option[Array[Row]] = {
    val rows = df.limit(math.min(max + 1L, Int.MaxValue.toLong).toInt).collect()
    if (rows.length > max || rows.exists(_.anyNull)) None else Some(rows)
  }

  /** Union-find route: the (a, b) endpoint pairs as longs, or `None` for
    * the distributed path (non-integral ids, nulls, over the ceiling). */
  def longPairs(edges: DataFrame, a: String, b: String): Option[Array[(Long, Long)]] =
    if (!integral(typesOf(edges, a, b): _*)) None
    else probe(edges.select(col(a).cast("long"), col(b).cast("long")), UnionFindEdges)
      .map(_.map(r => (r.getLong(0), r.getLong(1))))

  /** Rank route for `exact` runs: the (src, dst, w) rows with ids as long
    * (integral family) or string, w as long; `None` for `exact = false`,
    * other id families, nulls, over the ceiling, or an empty edge list
    * (which keeps the distributed empty-input shape). */
  def rankEdges(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, exact: Boolean): Option[Array[Row]] = {
    val ids = typesOf(edges, srcCol, dstCol)
    val ints = integral(ids: _*)
    def id(c: String) = if (ints) col(c).cast("long") else col(c)
    if (!exact || !(ints || strings(ids: _*))) None
    else probe(edges.select(id(srcCol), id(dstCol), col(weightCol).cast("long")),
      RankEdges).filter(_.nonEmpty)
  }

  /** Personalized-rank route: the edge rows plus the distinct seed rows,
    * when the seed column shares the src id family (a cross-family join
    * would coerce in ways the driver kernel does not replicate). */
  def seededRankEdges(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, seeds: DataFrame, seedCol: String,
      exact: Boolean): Option[(Array[Row], Array[Row])] = {
    val s = typesOf(edges, srcCol).head
    val seed = typesOf(seeds, seedCol).head
    if (!(strings(s, seed) || integral(s, seed))) None
    else for {
      e <- rankEdges(edges, srcCol, dstCol, weightCol, exact)
      // distinct in the ORIGINAL seed type, as the distributed path counts
      ss <- probe(seeds.select(col(seedCol)).distinct(), RankEdges)
    } yield (e, ss)
  }

  /** Lift driver-computed rows into a Dataset WITHOUT embedding a giant
    * LocalRelation in the plan: up to 10k rows stay a LocalRelation
    * (constant-folds, broadcasts, keeps the LocalTableScan shape the
    * small case wants); above that the rows ship through an RDD so the
    * analyzer never walks a multi-million-row literal. */
  def lift[T: Encoder: scala.reflect.ClassTag](
      spark: SparkSession, rows: Seq[T]): Dataset[T] =
    if (rows.length <= 10000) spark.createDataset(rows)
    else {
      val slices = math.max(1, math.min(
        spark.sparkContext.defaultParallelism, rows.length / 100000 + 1))
      spark.createDataset(spark.sparkContext.parallelize(rows, slices))
    }

  /** `out` with `cols` cast to the coerced a∪b type of `edges` — the id
    * type the distributed path emits. */
  def castIds(out: DataFrame, edges: DataFrame, a: String, b: String,
      cols: String*): DataFrame = {
    val t = edges.select(col(a).as("n")).union(edges.select(col(b).as("n")))
      .schema.head.dataType
    cols.foldLeft(out) { (df, c) =>
      if (df.schema(c).dataType == t) df else df.withColumn(c, col(c).cast(t))
    }
  }
}
