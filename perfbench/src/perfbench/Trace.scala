package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

import scala.collection.mutable

/** One span: a benchmark-side call into a public function. Spans of one
  * chunk, pass or query share `op`. */
final case class Span(id: Int, name: String, op: String, parent: Int,
    startNs: Long, var endNs: Long = 0L)

/** Aggregated task metrics of one Spark stage. */
final class StageCost {
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var outBytes = 0L
  var outRecords = 0L
  var startMs = -1L
  var endMs = -1L
  var scopes: Seq[String] = Nil
  /** Ids of persisted RDDs in the stage's lineage. */
  var cachedRdds: Seq[Int] = Nil
}

final case class JobRec(id: Int, span: Int, startMs: Long, stageIds: Seq[Int],
    callSite: String, sqlExec: Option[Long], var endMs: Long = -1L)

/** Records spans in memory and, through a SparkListener, the cost of every
  * Spark job a span caused. Local property `perfbench.span` carries the
  * innermost open span id onto each job submitted from the client thread. */
final class Trace(sc: SparkContext) extends SparkListener {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil

  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.HashMap.empty[Int, StageCost]
  val plans = mutable.HashMap.empty[Long, String]
  /** Call site of the thread that started each SQL execution: AQE submits
    * stage jobs from pool threads, whose own call sites name no caller. */
  val execSites = mutable.HashMap.empty[Long, String]
  /** Data files each SQL execution wrote: the write command's "number of
    * written files" metric, which the driver posts as an accumulator. */
  val filesByExec = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
  private val fileAccums = mutable.HashSet.empty[Long]
  /** Bytes of cached RDD blocks now and at their peak: the persisted parse
    * of a transform, against the storage memory in the run context. */
  private val cached = mutable.HashMap.empty[String, Long]
  var cachedPeakBytes = 0L

  private def fileMetrics(p: SparkPlanInfo): Unit = {
    p.metrics.filter(_.name == "number of written files").foreach(m => fileAccums += m.accumulatorId)
    p.children.foreach(fileMetrics)
  }

  def span[T](name: String, op: String)(body: => T): T = {
    val s = Span(spans.length, name, op, open.headOption.getOrElse(-1), System.nanoTime())
    spans += s
    open = s.id :: open
    sc.setLocalProperty(Trace.SpanKey, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(Trace.SpanKey, open.headOption.map(_.toString).orNull)
    }
  }

  private def stage(id: Int): StageCost = stages.getOrElseUpdate(id, new StageCost)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val span = p.flatMap(x => Option(x.getProperty(Trace.SpanKey))).map(_.toInt).getOrElse(-1)
    val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val site = e.stageInfos.headOption.map(_.details).getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, span, e.time, e.stageIds, site, exec)
    e.stageInfos.foreach { si =>
      val c = stage(si.stageId)
      c.scopes = si.rddInfos.flatMap(r => r.scope.map(_.name).toSeq :+ r.name)
      c.cachedRdds = si.rddInfos.filter(_.storageLevel.isValid).map(_.id)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    for (a <- si.submissionTime; b <- si.completionTime; c = stage(si.stageId) if c.startMs < 0) {
      c.startMs = a
      c.endMs = b
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = stage(e.stageId)
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
      c.outBytes += m.outputMetrics.bytesWritten
      c.outRecords += m.outputMetrics.recordsWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      cached(b.blockId.name) = b.memSize + b.diskSize
      cachedPeakBytes = math.max(cachedPeakBytes, cached.values.sum)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      plans(s.executionId) = s.physicalPlanDescription
      execSites(s.executionId) = s.details
      fileMetrics(s.sparkPlanInfo)
    }
    case u: SparkListenerSQLAdaptiveExecutionUpdate => synchronized(fileMetrics(u.sparkPlanInfo))
    case d: SparkListenerDriverAccumUpdates => synchronized {
      d.accumUpdates.foreach { case (id, v) => if (fileAccums(id)) filesByExec(d.executionId) += v }
    }
    case _ =>
  }

  /** The listener bus is asynchronous: wait until every started job has
    * ended and no new event arrived for a short while. */
  def drain(timeoutMs: Long = 20000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1
    var stable = 0
    while (stable < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      val (n, done) = synchronized((jobs.size, jobs.values.forall(_.endMs >= 0)))
      if (done && n == last) stable += 1 else stable = 0
      last = n
    }
  }
}

object Trace {
  val SpanKey = "perfbench.span"
}

/** Per-layer totals over a set of traced operations. */
final class LayerCost {
  var jobs = 0L
  var busyMs = 0.0
  var cpuNs = 0L
  var tasks = 0L
  var outBytes = 0L
  var outRecords = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var files = 0L
}

/** Splits Spark work into the repository's layers.
  *
  * A job belongs to the output path in its SQL plan (so each of the 13
  * table writes and the two ledgers get their own row), else to the
  * innermost graft frame of the call site that started its SQL execution,
  * else to the span that submitted it. Inside a fused job, stages are
  * re-attributed by what they run: the fetch stage of a raw ingest (the
  * `MapPartitions` that calls the fetcher and hashes), and in a transform
  * write the stage that first builds the persisted parse (latest-retrieval
  * `Window` and `from_json`: `BlockParser.parse`) and the raw scan before
  * its shuffle (`Transformer.chunkData`).
  */
object Attribution {
  private val InsertPath =
    """(?s)\(\d+\) Execute InsertIntoHadoopFsRelationCommand.*?Arguments: (?:file:)?([^,\s]+),""".r

  def outputPath(t: Trace, j: JobRec): Option[String] =
    j.sqlExec.flatMap(t.plans.get).flatMap(p => InsertPath.findFirstMatchIn(p).map(_.group(1)))

  private def pathLayer(path: String): String = {
    val p = path.stripSuffix("/")
    val leaf = p.substring(p.lastIndexOf('/') + 1)
    if (p.contains(".compact-tmp") || leaf == "compaction_log") "Compaction"
    else if (leaf == "load_state_chunks") "Ledger"
    else if (leaf == "transformer_progress") "Transformer.progress"
    else if (leaf.startsWith("raw")) "RawIngest.writeRaw"
    else if (p.contains("/tables/")) s"Transformer.write.$leaf"
    else "other"
  }

  private val siteLayers: Seq[(String, String)] = Seq(
    "graft.beacon.Compaction" -> "Compaction",
    "graft.beacon.RawIngest$.writeRaw" -> "RawIngest.writeRaw",
    "graft.beacon.Transformer$.writeTable" -> "Transformer.write",
    "graft.beacon.Transformer$.readRaw" -> "Transformer.chunkData",
    "graft.beacon.Transformer$.transformChunksFused" -> "Transformer.progress",
    "graft.beacon.LedgerStore" -> "Ledger",
    "graft.beacon.Ledger" -> "Ledger",
    "graft.beacon.Transformer$.runBatch" -> "Ledger")

  def jobLayer(t: Trace, j: JobRec): String = {
    val site = j.sqlExec.flatMap(t.execSites.get).getOrElse(j.callSite)
    val graftFrames = site.split("\n").map(_.trim).filter(_.startsWith("graft."))
    val bySite = graftFrames.iterator
      .flatMap(f => siteLayers.collectFirst { case (k, v) if f.startsWith(k) => v })
      .nextOption()
    val byPath = outputPath(t, j).map(pathLayer)
    (bySite, byPath) match {
      case (_, Some(p)) if p != "other" => p
      case (Some(s), _) => s
      case _ => if (j.span >= 0) t.spans(j.span).name else "other"
    }
  }

  /** `buildsCache`: the stage is the first to list a persisted RDD, so
    * it computes what later stages read from the cache. */
  def stageLayer(jobLayer: String, s: StageCost, buildsCache: Boolean): String = {
    def has(x: String) = s.scopes.contains(x)
    val write = jobLayer.startsWith("Transformer.write.")
    if (jobLayer == "RawIngest.writeRaw" && has("MapPartitions")) "RawIngest.fetch"
    else if (write && buildsCache) "BlockParser.parse"
    else if (write && has("Scan parquet ") && s.cachedRdds.isEmpty) "Transformer.chunkData"
    else jobLayer
  }

  private type Iv = (Long, Long)

  private def merge(iv: Seq[Iv]): List[Iv] =
    iv.filter(x => x._2 > x._1).sortBy(_._1).foldLeft(List.empty[Iv]) {
      case ((a, b) :: rest, (c, d)) if c <= b => (a, math.max(b, d)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  private def measure(iv: Seq[Iv]): Long = merge(iv).map(x => x._2 - x._1).sum

  /** Length of the union of `pos` minus the union of `neg`. */
  def busyMs(pos: Seq[Iv], neg: Seq[Iv]): Long = {
    val p = merge(pos)
    val cut = merge(neg)
    measure(p) - measure(p.flatMap { case (a, b) =>
      cut.map { case (c, d) => (math.max(a, c), math.min(b, d)) }
    })
  }

  private def opJobs(t: Trace, ops: Set[String]) =
    t.jobs.values.filter(j => j.span >= 0 && ops(t.spans(j.span).op) && j.endMs >= 0)

  /** Layer costs over the jobs caused by spans whose op is in `ops`. Busy
    * time is the union of a layer's job intervals (AQE runs stage jobs of
    * one plan concurrently), with re-attributed stages cut out of the
    * job's layer and credited to their own. */
  def layers(t: Trace, ops: Set[String]): Map[String, LayerCost] = {
    val out = mutable.HashMap.empty[String, LayerCost]
    def cost(l: String) = out.getOrElseUpdate(l, new LayerCost)
    val pos = mutable.HashMap.empty[String, mutable.ArrayBuffer[Iv]]
    val neg = mutable.HashMap.empty[String, mutable.ArrayBuffer[Iv]]
    def add(m: mutable.HashMap[String, mutable.ArrayBuffer[Iv]], l: String, iv: Iv) =
      m.getOrElseUpdate(l, mutable.ArrayBuffer.empty) += iv
    val seenExec = mutable.HashSet.empty[Long]
    // a stage that ran in one job is listed again, skipped, by later jobs
    // of the same plan: count each stage once, in the first job listing it
    val seenStage = mutable.HashSet.empty[Int]
    val seenCached = mutable.HashSet.empty[Int]
    opJobs(t, ops).foreach { j =>
      val jl = jobLayer(t, j)
      val jc = cost(jl)
      jc.jobs += 1
      add(pos, jl, (j.startMs, j.endMs))
      j.sqlExec.filter(seenExec.add).foreach(x => jc.files += t.filesByExec(x))
      j.stageIds.sorted.filter(seenStage.add).flatMap(id => t.stages.get(id)).foreach { s =>
        val builds = s.tasks > 0 && s.cachedRdds.exists(id => !seenCached(id))
        if (s.tasks > 0) seenCached ++= s.cachedRdds
        val sl = stageLayer(jl, s, builds)
        val c = cost(sl)
        if (sl != jl && s.startMs >= 0) {
          add(pos, sl, (s.startMs, s.endMs))
          add(neg, jl, (s.startMs, s.endMs))
        }
        c.cpuNs += s.cpuNs
        c.tasks += s.tasks
        c.shuffleBytes += s.shuffleBytes
        c.spillBytes += s.spillBytes
        // output belongs to the write target, whichever stage wrote it
        jc.outBytes += s.outBytes
        jc.outRecords += s.outRecords
      }
    }
    out.foreach { case (l, c) =>
      c.busyMs = busyMs(pos.getOrElse(l, Nil).toSeq, neg.getOrElse(l, Nil).toSeq).toDouble
    }
    out.toMap
  }

  /** Wall time of the union of job intervals inside the given ops. */
  def jobUnionMs(t: Trace, ops: Set[String]): Double =
    measure(opJobs(t, ops).map(j => (j.startMs, j.endMs)).toSeq).toDouble

  /** Self time per span name: duration minus the part covered by child
    * spans (children are nested and sequential on the client thread). */
  def selfTimes(t: Trace, ops: Set[String]): Map[String, (Long, Double)] = {
    val child = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    t.spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.endNs - s.startNs)
    t.spans.filter(s => ops(s.op)).groupBy(_.name).map { case (n, ss) =>
      n -> (ss.size.toLong, ss.map(s => (s.endNs - s.startNs - child(s.id)) / 1e9).sum)
    }
  }
}
