package perfbench

import graft.beacon._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** One client operation as the benchmark saw it. */
final case class Op(id: String, latencyS: Double, work: Double, traced: Boolean,
    parts: Map[String, Double] = Map.empty, fetched: Long = 0L,
    counts: Map[String, Double] = Map.empty, failed: Boolean = false)

/** Shared by the workloads: the session, run options, trace and checks. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: String,
    val size: String, val wrongExpected: Boolean) {
  val nproc: Int = spark.sparkContext.defaultParallelism
  val cfg: ChainConfig = SyntheticChain.cfg
  var trace: Option[Trace] = None
  val failures = mutable.ArrayBuffer.empty[String]
  var checks = 0L

  def span[T](name: String, op: String)(body: => T): T =
    trace match {
      case Some(t) => t.span(name, op)(body)
      case None => body
    }

  /** A failed check is recorded and never retried. */
  def check(what: String, ok: Boolean, detail: => String = ""): Boolean = {
    checks += 1
    if (!ok) {
      failures += s"$what $detail".trim
      System.err.println(s"[perfbench] CHECK FAILED: $what $detail")
    }
    ok
  }

  def rmrf(path: String): Unit = graft.core.Fs.deleteDir(spark, path)

  /** Parquet data files under a directory (recursive). */
  def files(path: String): Int = graft.core.Fs.dataFileStats(spark, path)._1

  /** The oracle's count, off by one when the self-check asks for a wrong
    * expectation (proves a mismatch is reported as a failure). */
  def expect(n: Long): Long = if (wrongExpected) n + 1 else n
}

trait Workload {
  def setup(): Unit
  def op(i: Int, traced: Boolean): Op
  /** Operations a run must complete even when time is up. */
  def minOps: Int = 1
  def context: Map[String, Any] = Map.empty
}

object Workload {
  def ranges(start: Long, end: Long, cs: Long): Seq[(Long, Long)] =
    (start to end by cs).map(s => (s, math.min(s + cs - 1, end)))

  /** Exact per-table and ledger checks for a base directory. */
  def checkTables(c: Ctx, base: String, expected: Map[String, Long],
      presentSlots: Long, where: String): Unit = {
    val spark = c.spark
    expected.toSeq.sortBy(_._1).foreach { case (t, n) =>
      val dir = s"$base/tables/$t"
      val got = if (graft.core.Fs.hasParquetFiles(spark, dir)) spark.read.parquet(dir).count() else 0L
      c.check(s"$where rows[$t]", got == c.expect(n), s"got=$got expected=${c.expect(n)}")
    }
    val latest = Transformer.latestTable(spark, s"$base/tables", "blocks",
      Transformer.tableKeys("blocks")).count()
    c.check(s"$where latest(blocks)", latest == c.expect(presentSlots),
      s"got=$latest expected=${c.expect(presentSlots)}")
    val states = Ledger.chunkStates(LedgerStore(s"$base/load_state_chunks")
      .read(spark, Schemas.loadStateChunks))
      .groupBy("status").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    c.check(s"$where ledger all completed", states.keySet == Set("completed"), states.toString)
    val progress = Ledger.progressStates(LedgerStore(s"$base/transformer_progress")
      .read(spark, Schemas.transformerProgress))
      .groupBy("status").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    c.check(s"$where progress all completed", progress.keySet == Set("completed"), progress.toString)
  }

  def sizes(c: Ctx, base: String): Map[String, Any] = Map(
    "files_per_table" -> SyntheticChain.tables.map(t => t -> c.files(s"$base/tables/$t")).toMap,
    "raw_files" -> c.files(s"$base/raw_blocks"),
    "raw_bytes" -> graft.core.Fs.dataFileStats(c.spark, s"$base/raw_blocks")._2)

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Bulk load of a seeded chain across the Electra boundary: plan, fused
  * ingest, a re-fetch wave, the fused transform, a raw compaction, one
  * dashboard pass. The first load of a run is cold, as in the CLI, where
  * `load backfill` and `transform batch` each start a fresh JVM. */
final class Backfill(c: Ctx) extends Workload {
  import Workload._
  private val spark = c.spark
  val slots: Long = if (c.size == "tiny") 500L else 3000L
  val chunk = 100L
  val start: Long = (SyntheticChain.electraSlot - slots / 2) / chunk * chunk
  val end: Long = start + slots - 1
  val chain = SyntheticChain(c.seed)
  private var last: Map[String, Any] = Map.empty
  private var payloadBytes = 0L
  /** Month results of the last pass's raw compaction. */
  var compacted: Seq[Compaction.MonthResult] = Nil
  /** Payloads both ingest waves fetch in one pass. */
  lazy val fetched: Long = ranges(start, end, chunk).map { case (a, e) =>
    ChainOracle.presentSlots(chain, a, e) * (if (chain.refetched(a)) 2 else 1)
  }.sum

  def setup(): Unit = ()

  def op(i: Int, traced: Boolean): Op = {
    val base = s"${c.work}/backfill/pass$i"
    c.rmrf(base)
    val id = s"pass$i"
    val (parts, secs) = time(pass(base, if (traced) id else "", start, end))
    verify(base, id)
    last = sizes(c, base)
    c.rmrf(base)
    Op(id, secs, slots.toDouble, traced, parts, fetched, Map(
      "compaction_files_before" -> compacted.map(_.filesBefore).sum.toDouble,
      "compaction_files_after" -> compacted.map(_.filesAfter).sum.toDouble))
  }

  /** One load of [from, to]; both ends on chunk boundaries. */
  private def pass(base: String, op: String, from: Long, to: Long): Map[String, Double] = {
    val raw = s"$base/raw_blocks"
    val tables = s"$base/tables"
    val ledger = LedgerStore(s"$base/load_state_chunks")
    val progress = LedgerStore(s"$base/transformer_progress")
    val (_, ingestS) = time {
      val todo = c.span("Ledger.planChunks", op) {
        Ledger.newChunks(
          Ledger.planChunks(spark, from, to, chunk, "blocks"),
          Ledger.chunkStates(ledger.read(spark, Schemas.loadStateChunks))
            .filter(col("status") === "completed"))
          .select("start_slot", "end_slot").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      }
      val chunks = ((to - from + 1) / chunk).toInt
      c.check(s"$op planned chunks", todo.size == chunks, s"got=${todo.size}")
      val ok = c.span("RawIngest.ingestChunksFused", op) {
        RawIngest.ingestChunksFused(spark, c.cfg, chain, raw, ledger, "blocks", todo, c.nproc)
      }
      c.check(s"$op ingestChunksFused", ok)
      val again = todo.filter(r => chain.refetched(r._1))
      val ok2 = c.span("RawIngest.ingestChunksFused", op) {
        RawIngest.ingestChunksFused(spark, c.cfg, chain.copy(generation = 1), raw, ledger,
          "blocks", again, c.nproc)
      }
      c.check(s"$op re-fetch ingestChunksFused", ok2)
    }
    val (n, transformS) = time(c.span("Transformer.runBatch", op) {
      Transformer.runBatch(spark, c.cfg, raw, tables, ledger, progress)
    })
    c.check(s"$op runBatch chunks", n == ((to - from + 1) / chunk).toInt, s"got=$n")
    // `maintain compact` after the load: collapses the re-fetch duplicates
    // in the raw months (every month, the load is finished)
    val (months, compactS) = time(c.span("Compaction.compactRaw", op) {
      Compaction.compactRaw(spark, base, "raw_blocks")
    })
    compacted = months
    val (_, dashS) = time(Dashboard.run(c, tables, from, op))
    Map("ingest_s" -> ingestS, "transform_s" -> transformS, "compact_s" -> compactS,
      "dashboard_s" -> dashS)
  }

  private def verify(base: String, id: String): Unit = {
    val rs = ranges(start, end, chunk)
    val present = ChainOracle.presentSlots(chain, start, end)
    val expected = ChainOracle.expectedRows(chain, rs, rs.map(_._1).filter(chain.refetched).toSet)
    checkTables(c, base, expected, present, id)
    // compaction keeps exactly the latest retrieval of every present slot
    val rawDf = spark.read.parquet(s"$base/raw_blocks")
    payloadBytes = rawDf.agg(sum(length(col("payload")))).head().getLong(0)
    val raw = rawDf.count()
    c.check(s"$id compacted raw rows", raw == c.expect(present), s"got=$raw")
    c.check(s"$id compaction ran", compacted.nonEmpty &&
      compacted.forall(m => m.filesAfter <= m.filesBefore), compacted.toString)
  }

  override def context: Map[String, Any] = Map(
    "slots" -> slots, "chunk_size" -> chunk, "start_slot" -> start, "end_slot" -> end,
    "electra_slot" -> SyntheticChain.electraSlot,
    "empty_share" -> chain.emptyShare, "refetch_share" -> chain.refetchShare,
    "payload_json_bytes" -> payloadBytes) ++ last
}

/** The dashboard pass over `latest()` views (Analytics surface). */
object Dashboard {
  def run(c: Ctx, tables: String, start: Long, op: String): Unit = {
    val spark = c.spark
    def latest(t: String): DataFrame =
      Transformer.latestTable(spark, tables, t, Transformer.tableKeys(t))
    val blocks = c.span("latest", op) {
      val b = latest("blocks")
      b.count()
      b
    }
    def a(name: String)(df: => DataFrame): Unit =
      c.span(s"Analytics.$name", op)(df.collect())
    a("recentBlocks")(Analytics.recentBlocks(blocks, start))
    a("forkDistribution")(Analytics.forkDistribution(blocks))
    a("topProposers")(Analytics.topProposers(blocks, minBlocks = 1L))
    a("blobCountsPerBlock")(Analytics.blobCountsPerBlock(blocks, latest("blob_commitments")))
    a("dailyWithdrawals")(Analytics.dailyWithdrawals(latest("withdrawals")))
    a("hourlyBlockProduction")(Analytics.hourlyBlockProduction(blocks))
    a("participationSeries")(Analytics.participationSeries(latest("sync_aggregates"), c.cfg))
    // a small load can leave the rare tables (slashings) unwritten
    val written = SyntheticChain.tables.filter(t => graft.core.Fs.hasParquetFiles(spark, s"$tables/$t"))
    a("tableStats")(Analytics.tableStats(written.map(t => t -> latest(t)).toMap))
  }
}

/** Read-only sweep of operator-inventory queries over fixed tables, in an
  * order shuffled by the seed. Every execution's row count and digest must
  * equal the expected values, captured once (`run.py --capture`, which
  * also compares the outputs with the DuckDB oracle). */
final class InventorySweep(c: Ctx, dataDir: String, expectedFile: Option[String],
    writeOutputs: Boolean) extends Workload {
  private val spark = c.spark
  val names: Seq[String] = InventoryNames.all
  private val queries = graft.SparkEntry.queries
  /** query -> (rows, digest) */
  private val expected: Map[String, (Long, BigDecimal)] = expectedFile.toSeq.flatMap { f =>
    scala.io.Source.fromFile(f).getLines().filter(_.nonEmpty).map { l =>
      val Array(q, n, d) = l.split("\t")
      q -> ((n.toLong, BigDecimal(d)))
    }.toSeq
  }.toMap
  val observedInSetup = mutable.LinkedHashMap.empty[String, (Long, BigDecimal)]
  private var order: Seq[String] = Nil
  val outDir = s"${c.work}/inventory/out"

  /** Order-independent digest: row count and the sum of a row hash over
    * the columns that hold no floating-point values (float sums may
    * differ in the last bits between runs; the DuckDB compare at capture
    * time checks those values). */
  private def observed(df: DataFrame, obs: org.apache.spark.sql.Observation): DataFrame = {
    import org.apache.spark.sql.types._
    def hasFloat(t: DataType): Boolean = t match {
      case FloatType | DoubleType => true
      case a: ArrayType => hasFloat(a.elementType)
      case m: MapType => hasFloat(m.keyType) || hasFloat(m.valueType)
      case s: StructType => s.fields.exists(f => hasFloat(f.dataType))
      case _ => false
    }
    val exact = df.schema.fields.filterNot(f => hasFloat(f.dataType)).map(f => col(f.name))
    val h = if (exact.isEmpty) lit(0L) else xxhash64(exact.toIndexedSeq: _*)
    df.observe(obs, count(lit(1)).as("n"),
      coalesce(sum(h.cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")).as("d"))
  }

  private def result(obs: org.apache.spark.sql.Observation): (Long, BigDecimal) = {
    val m = obs.get
    (m("n").asInstanceOf[Long], BigDecimal(m("d").asInstanceOf[java.math.BigDecimal]))
  }

  private def verify(q: String, got: (Long, BigDecimal), what: String): Unit =
    if (expectedFile.isDefined) {
      val want = expected.get(q).map { case (n, d) => (c.expect(n), d) }
      c.check(s"$q $what rows+digest", want.contains(got), s"got=$got expected=$want")
    }

  /** Runs every query once: the warm-up a long-lived driver has done. */
  def setup(): Unit = {
    c.rmrf(outDir)
    names.foreach { q =>
      val obs = org.apache.spark.sql.Observation()
      try {
        val df = observed(queries(q)(spark, dataDir), obs)
        if (writeOutputs) df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$q")
        else df.write.format("noop").mode("overwrite").save()
        observedInSetup(q) = result(obs)
        verify(q, observedInSetup(q), "warm-up")
      } catch {
        case scala.util.control.NonFatal(e) => c.check(s"$q warm-up", ok = false, e.toString)
      } finally spark.catalog.clearCache()
    }
    if (writeOutputs) {
      val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
        Json.obj(oracle.toSeq.sortBy(_._1)))
    }
  }

  def op(i: Int, traced: Boolean): Op = {
    if (i % names.size == 0)
      order = new scala.util.Random(c.seed * 1000003L + i / names.size).shuffle(names)
    val q = order(i % names.size)
    val id = if (traced) s"q$i:$q" else q
    val obs = org.apache.spark.sql.Observation()
    val t0 = System.nanoTime()
    c.span(s"Inventory.$q", id) {
      observed(queries(q)(spark, dataDir), obs).write.format("noop").mode("overwrite").save()
    }
    val secs = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    verify(q, result(obs), "timed")
    Op(id, secs, 1.0, traced)
  }

  override def minOps: Int = names.size

  override def context: Map[String, Any] = Map(
    "queries" -> names.size, "data_dir_bytes" -> graft.core.Fs.dataFileStats(spark, dataDir)._2,
    "observed_in_setup" -> observedInSetup.map { case (q, (n, d)) => q -> Seq(n.toString, d.toString) }.toMap)
}
