package graft

import graft.functions.{CanonicalJson, HexUtil, PqUtil}
import graft.operators.{Bounded, Dedup, Graph, Similarity}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

/** Property-based coverage for the scalar kernel pack (the SURVEY §5 test
  * plan's ScalaCheck leg): round-trips, algebraic identities, and parity
  * with JDK reference implementations over generated inputs — the cases a
  * fixture suite can't enumerate. The dual-path operators (a driver
  * kernel when [[graft.operators.Bounded]] admits the input, else a
  * distributed loop) are checked the same way: on random small graphs
  * the default call must equal the named `…Distributed` call. */
class PropertySpec extends AnyFunSuite {

  private def check(label: String, p: Prop, cases: Int = 300): Unit = {
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(cases), p)
    assert(r.passed, s"$label: ${r.status}")
  }

  private def utf8(s: String) = UTF8String.fromString(s)

  test("SafeLong: hex and decimal renderings of any non-negative long round-trip") {
    check("hex round-trip", Prop.forAll(Gen.chooseNum(0L, Long.MaxValue)) { n =>
      HexUtil.safeLong(utf8("0x" + java.lang.Long.toHexString(n)), -1L) == n &&
      HexUtil.safeLong(utf8(n.toString), -1L) == n
    })
    // UInt64 overflow clamps to Long.MaxValue (FAR_FUTURE sentinel policy)
    check("overflow clamp", Prop.forAll(Gen.chooseNum(0L, Long.MaxValue)) { n =>
      val big = java.math.BigInteger.valueOf(Long.MaxValue)
        .add(java.math.BigInteger.valueOf(n max 1L))
      HexUtil.safeLong(utf8(big.toString), -1L) == Long.MaxValue
    })
  }

  test("HexPopcount: parity with java.lang.Long.bitCount on any long") {
    check("popcount", Prop.forAll(Gen.chooseNum(Long.MinValue, Long.MaxValue)) { n =>
      HexUtil.popcountHex(utf8("0x" + java.lang.Long.toHexString(n))) ==
        java.lang.Long.bitCount(n)
    })
  }

  test("HexByteLength: len//2 of any hex rendering") {
    check("byte length", Prop.forAll(Gen.chooseNum(0L, Long.MaxValue)) { n =>
      val h = java.lang.Long.toHexString(n)
      HexUtil.hexByteLen(utf8(h)) == h.length / 2
    })
  }

  test("morton2: deinterleave inverts, key is non-negative, grows per coordinate") {
    val coord = Gen.chooseNum(0L, 0x7FFFFFFFL)
    def deinterleave(z: Long): (Long, Long) = {
      def unspread(x0: Long): Long = {
        var x = x0 & 0x5555555555555555L
        x = (x | (x >> 1)) & 0x3333333333333333L
        x = (x | (x >> 2)) & 0x0F0F0F0F0F0F0F0FL
        x = (x | (x >> 4)) & 0x00FF00FF00FF00FFL
        x = (x | (x >> 8)) & 0x0000FFFF0000FFFFL
        x = (x | (x >> 16)) & 0x00000000FFFFFFFFL
        x
      }
      (unspread(z), unspread(z >> 1))
    }
    check("invertible", Prop.forAll(coord, coord) { (a, b) =>
      val z = HexUtil.morton2(a, b)
      z >= 0 && deinterleave(z) == ((a, b))
    })
    check("monotone", Prop.forAll(coord, coord) { (a, b) =>
      (a == 0x7FFFFFFFL || HexUtil.morton2(a + 1, b) > HexUtil.morton2(a, b)) &&
      (b == 0x7FFFFFFFL || HexUtil.morton2(a, b + 1) > HexUtil.morton2(a, b))
    })
  }

  test("matVec: identity fixes vectors; rotation preserves norms to fp tolerance") {
    val dim = 16
    val vecGen = Gen.listOfN(dim, Gen.chooseNum(-10.0f, 10.0f)).map(_.toArray)
    val id = Array.tabulate(dim * dim)(i => if (i / dim == i % dim) 1.0f else 0.0f)
    check("identity", Prop.forAll(vecGen) { v =>
      PqUtil.matVecFloats(v, id).sameElements(v)
    })
    val rot = graft.operators.Similarity.randomRotation(dim, seed = 11L)
    def norm(v: Array[Float]) = math.sqrt(v.map(x => x.toDouble * x).sum)
    check("isometry", Prop.forAll(vecGen) { v =>
      math.abs(norm(PqUtil.matVecFloats(v, rot)) - norm(v)) < 1e-2
    })
  }

  test("CanonicalJsonHash16: invariant under key order, 16 lowercase hex chars") {
    val keyGen = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString.take(8))
    val entryGen = Gen.zip(keyGen, Gen.chooseNum(-1000000L, 1000000L))
    val objGen = Gen.nonEmptyListOf(entryGen).map(_.toMap.toList)
    check("order invariance", Prop.forAll(objGen) { entries =>
      def render(es: List[(String, Long)]) =
        es.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
      val h1 = CanonicalJson.payloadHash16(render(entries))
      val h2 = CanonicalJson.payloadHash16(render(entries.reverse))
      h1 == h2 && h1.length == 16 && h1.forall(c => c.isDigit || ('a' to 'f').contains(c))
    })
  }

  // ---- dual-path operators: default call == the distributed path ----

  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  /** Spark-backed properties run few cases: each one plans and runs jobs. */
  private val sparkCases = 20

  /** An id family: the column type and the id of node index `i` (< 10).
    * Strings include a pair whose UTF-16 order differs from its UTF-8
    * byte order (the order Spark's array_sort uses). */
  private final case class Ids(t: DataType, id: Int => Any)
  private val intIds = Seq(Ids(IntegerType, i => i * 7 - 20),
    Ids(LongType, i => i * 10000000000L - 3L))
  private val names = Vector("a", "b", "ab", "\uFFFD", "\uD800\uDC00", "\u00e9",
    "Z", "0", "ba", "aa")
  private val allIds = intIds :+ Ids(StringType, names)

  /** A small weighted digraph over node indices 0 until n: 1–12 edges,
    * self-loops and duplicate (src, dst) pairs arise freely, and one in
    * five graphs has one null endpoint. */
  private final case class G(ids: Ids, n: Int, edges: Seq[(Option[Int], Option[Int], Long)]) {
    def nodes: Seq[Option[Int]] = edges.flatMap(e => Seq(e._1, e._2)).distinct
  }

  private def graphGen(families: Seq[Ids]): Gen[G] = for {
    ids <- Gen.oneOf(families)
    n <- Gen.chooseNum(1, 8)
    m <- Gen.chooseNum(1, 12)
    es <- Gen.listOfN(m,
      Gen.zip(Gen.chooseNum(0, n - 1), Gen.chooseNum(0, n - 1), Gen.chooseNum(1L, 4L)))
    nullAt <- Gen.frequency(4 -> Gen.const(-1), 1 -> Gen.chooseNum(0, 2 * m - 1))
  } yield G(ids, n, es.zipWithIndex.map { case ((a, b, w), i) =>
    (Some(a).filter(_ => 2 * i != nullAt), Some(b).filter(_ => 2 * i + 1 != nullAt), w)
  })

  private def frame(t: DataType, names: Seq[String], rows: Seq[Seq[Any]],
      extra: Seq[StructField] = Nil): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map(Row.fromSeq): _*),
      StructType(names.map(StructField(_, t)) ++ extra))

  private def edgeFrame(g: G, a: String, b: String): DataFrame =
    frame(g.ids.t, Seq(a, b), g.edges.map { case (s, d, w) =>
      Seq(s.map(g.ids.id).orNull, d.map(g.ids.id).orNull, w)
    }, Seq(StructField("w", LongType, nullable = false)))

  /** Rows in a canonical order, doubles as raw IEEE bits (bitwise compare). */
  private def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    }).sortBy(_.mkString("\u0000"))

  private def samePaths(default: DataFrame, distributed: DataFrame): Prop = {
    val (a, b) = (rowsOf(default), rowsOf(distributed))
    val (sa, sb) = (default.schema.map(f => (f.name, f.dataType)),
      distributed.schema.map(f => (f.name, f.dataType)))
    (a == b && sa == sb) :| s"default $sa $a\ndistributed $sb $b"
  }

  test("Bounded.probe: Some at exactly max rows, None at max + 1 rows or on a null") {
    check("probe", Prop.forAllNoShrink(Gen.chooseNum(1, 6)) { max =>
      val rows = (1 to max + 1).map(i => (i.toLong, Option(i.toLong)))
      val at = Bounded.probe(rows.take(max).toDF("a", "b"), max)
      val over = Bounded.probe(rows.toDF("a", "b"), max)
      val withNull = Bounded.probe(
        (rows.take(max - 1) :+ ((0L, None: Option[Long]))).toDF("a", "b"), max)
      (at.map(_.map(_.getLong(0)).toSeq) == Some(1L to max.toLong)) :| "at max" &&
        over.isEmpty :| "over max" && withNull.isEmpty :| "null"
    }, sparkCases)
  }

  test("pageRank exact: default call == pageRankDistributed, bitwise, same schema") {
    check("pageRank", Prop.forAllNoShrink(graphGen(allIds), Gen.chooseNum(1, 4)) { (g, it) =>
      val e = edgeFrame(g, "src", "dst")
      samePaths(Graph.pageRank(e, "src", "dst", "w", iterations = it, exact = true),
        Graph.pageRankDistributed(e, "src", "dst", "w", iterations = it, exact = true))
    }, sparkCases)
  }

  test("personalizedPageRank exact: default call == distributed, bitwise, absent and null seeds") {
    // seed indices reach past every node (absent seeds still dilute the
    // teleport mass); one in five seed sets holds a null
    val seedGen = Gen.zip(Gen.nonEmptyListOf(Gen.chooseNum(0, 9)).map(_.take(4)),
      Gen.frequency(4 -> false, 1 -> true))
    check("personalizedPageRank", Prop.forAllNoShrink(
        graphGen(allIds), seedGen, Gen.chooseNum(1, 4)) { case (g, (idx, withNull), it) =>
      val e = edgeFrame(g, "src", "dst")
      val seeds = frame(g.ids.t, Seq("seed"),
        idx.map(i => Seq(g.ids.id(i))) ++ (if (withNull) Seq(Seq(null)) else Nil))
      samePaths(
        Graph.personalizedPageRank(e, "src", "dst", "w", seeds, "seed",
          iterations = it, exact = true),
        Graph.personalizedPageRankDistributed(e, "src", "dst", "w", seeds, "seed",
          iterations = it, exact = true))
    }, sparkCases)
  }

  test("pageRankConverged exact: default call == distributed, bitwise, same step count") {
    val knobs = Gen.zip(Gen.oneOf(1e-2, 1e-4), Gen.chooseNum(2, 8), Gen.chooseNum(1, 3))
    check("pageRankConverged", Prop.forAllNoShrink(graphGen(allIds), knobs) {
      case (g, (tol, maxIt, block)) =>
        val e = edgeFrame(g, "src", "dst")
        val (a, ai) = Graph.pageRankConverged(e, "src", "dst", "w", tol = tol,
          maxIterations = maxIt, blockIters = block, exact = true)
        val (b, bi) = Graph.pageRankConvergedDistributed(e, "src", "dst", "w",
          tol = tol, maxIterations = maxIt, blockIters = block, exact = true)
        (ai == bi) :| s"steps $ai vs $bi" && samePaths(a, b)
    }, sparkCases)
  }

  test("Graph.connectedComponents: default call == connectedComponentsDistributed") {
    check("Graph.connectedComponents", Prop.forAllNoShrink(graphGen(intIds)) { g =>
      val e = edgeFrame(g, "src", "dst")
      samePaths(Graph.connectedComponents(e, "src", "dst"),
        Graph.connectedComponentsDistributed(e, "src", "dst"))
    }, sparkCases)
  }

  test("Dedup.connectedComponents: default call == connectedComponentsDistributed") {
    check("Dedup.connectedComponents", Prop.forAllNoShrink(graphGen(intIds)) { g =>
      val e = edgeFrame(g, "d1", "d2")
      samePaths(Dedup.connectedComponents(e), Dedup.connectedComponentsDistributed(e))
    }, sparkCases)
  }

  test("Similarity DBSCAN labelling: default call == dbscanLabelsDistributed") {
    // the corpus holds every endpoint plus one isolated id (always noise)
    check("dbscan", Prop.forAllNoShrink(graphGen(intIds), Gen.chooseNum(2, 4)) { (g, minPts) =>
      val pairs = edgeFrame(g, "d1", "d2")
      val corpus = frame(g.ids.t, Seq("vid"),
        (g.nodes :+ Some(9)).distinct.map(i => Seq(i.map(g.ids.id).orNull)))
      samePaths(Similarity.dbscanOfPairs(corpus, "vid", pairs, minPts),
        Similarity.dbscanLabelsDistributed(corpus, "vid", pairs, minPts))
    }, sparkCases)
  }
}
