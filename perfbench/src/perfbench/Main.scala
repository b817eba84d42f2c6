package perfbench

import scala.jdk.CollectionConverters._

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1))
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

object Jvm {
  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  private def heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
}

/** Entry point: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --work DIR --out FILE [--data DIR --expected FILE --write-outputs]
  * [--size tiny] [--wrong-expected]`.
  *
  * Untraced runs time each operation with no listener attached. A traced
  * run alternates untraced and traced operations, so the tracing overhead
  * is measured in the same run; per-layer figures come from the traced
  * operations only. */
object Main {
  private def opt(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(s"--$name")
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val workload = opt(args, "workload").getOrElse(sys.error("--workload required"))
    val seed = opt(args, "seed").map(_.toLong).getOrElse(sys.error("--seed required"))
    val seconds = opt(args, "seconds").map(_.toDouble).getOrElse(10.0)
    val traceOn = opt(args, "trace").contains("1")
    val work = opt(args, "work").getOrElse(sys.error("--work required"))
    val out = opt(args, "out").getOrElse(sys.error("--out required"))
    val size = opt(args, "size").getOrElse("full")
    val nproc = Runtime.getRuntime.availableProcessors

    val (spark, sessionS) = Workload.time(graft.core.Sessions.local(nproc))
    var exit = 0
    try {
      val c = new Ctx(spark, seed, work, size, args.contains("--wrong-expected"))
      val w: Workload = workload match {
        case "backfill" => new Backfill(c)
        case "inventory" => new InventorySweep(c, opt(args, "data").getOrElse(sys.error("--data required")),
          opt(args, "expected"), args.contains("--write-outputs"))
        case other => sys.error(s"unknown workload $other")
      }
      // set-up: the session start plus the workload's own warm-up
      val setupS = sessionS + Workload.time(w.setup())._2
      System.err.println(f"[perfbench] setup: $setupS%.3f s")

      // traced runs alternate untraced and traced operations (the sweep
      // whole passes) and do at least three, so a traced one sits between
      // untraced ones
      def isTraced(i: Int): Boolean = traceOn && (w match {
        case s: InventorySweep => (i / s.names.size) % 2 == 1
        case _ => i % 2 == 1
      })
      val minOps = if (traceOn) w.minOps * 3 else w.minOps
      val trace = if (traceOn) Some(new Trace(spark.sparkContext)) else None
      val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
      var spent = 0.0
      var gcMs = 0L
      Jvm.resetPeaks()
      var i = 0
      while (spent < seconds || i < minOps) {
        val traced = isTraced(i)
        if (traced) trace.foreach { t => spark.sparkContext.addSparkListener(t); c.trace = Some(t) }
        val gc0 = Jvm.gcMs()
        val t0 = System.nanoTime()
        val op = try w.op(i, traced) catch {
          case scala.util.control.NonFatal(e) =>
            c.check(s"op $i", ok = false, e.toString)
            Op(s"op$i", (System.nanoTime() - t0) / 1e9, 0.0, traced, failed = true)
        }
        if (traced) trace.foreach { t =>
          gcMs += Jvm.gcMs() - gc0
          t.drain()
          spark.sparkContext.removeSparkListener(t)
          c.trace = None
        }
        System.err.println(f"[perfbench] op ${op.id} traced=$traced: ${op.latencyS}%.3f s ${op.parts}")
        ops += op
        spent += op.latencyS
        i += 1
      }

      val done = ops.filterNot(_.failed).toSeq
      val timed = if (traceOn) done.filterNot(_.traced) else done
      val lat = timed.map(_.latencyS)
      val e2e = Map(
        "setup_s" -> ((setupS, "s")),
        "latency_p50_s" -> ((median(lat), "s")),
        "throughput_per_s" -> ((timed.map(_.work).sum / lat.sum, "1/s")))
      val parts = timed.flatMap(_.parts.keys).distinct.map { k =>
        k -> median(timed.flatMap(_.parts.get(k)))
      }.toMap
      val metrics: Map[String, (Double, String)] = trace match {
        // overhead against the untraced operations after the first traced
        // one: the first operation of a run is the coldest
        case Some(t) => Layers.metrics(t, done.filter(_.traced),
          done.drop(done.indexWhere(_.traced)).filterNot(_.traced), gcMs)
        case None => e2e
      }
      val attempted = ops.size + c.checks
      val result = Seq(
        "correct" -> c.failures.isEmpty,
        "attempted" -> attempted,
        "failed" -> c.failures.size.toLong,
        "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
        "failures" -> c.failures.toSeq,
        "samples" -> lat.size,
        "latency_max_s" -> (if (lat.isEmpty) Double.NaN else lat.max),
        "ops" -> done.map(o => Map("id" -> o.id, "latency_s" -> o.latencyS, "traced" -> o.traced)),
        "phases_median_s" -> parts,
        "context" -> (Map(
          "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traceOn,
          "nproc" -> nproc, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6,
          "spark_conf" -> Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions",
            "spark.sql.session.timeZone", "spark.master", "spark.default.parallelism")
            .map(k => k -> spark.conf.getOption(k).getOrElse("(default)")).toMap,
          "storage_memory_mb" -> spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / 1e6,
          "spark_version" -> spark.version) ++ w.context),
        "layers" -> trace.map(t => Layers.report(t, done.filter(_.traced))).getOrElse(Map.empty))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), Json.obj(result))
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        exit = 1
    } finally spark.stop()
    sys.exit(exit)
  }
}
