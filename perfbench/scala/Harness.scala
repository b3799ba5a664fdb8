package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ops.Upsert
import graft.pipeline.{OsmImport, WaysEnrichment}
import graft.queries.Registry
import graft.raster.{RasterSampler, TileStore}

/** Benchmark driver: one JVM, one `local[cores]` session, one caller running
  * operations in a closed loop, one at a time.
  *
  *   perfbench.Harness workload=<name> seed=<n> seconds=<s> trace=<0|1>
  *     cores=<n> data=<dir> work=<dir> side=<file> [pins=<file>]
  *
  * Set-up (session, untimed warm-up passes with checks), then as many
  * whole passes as fit in `seconds` on the reference host, at least three. Each operation's
  * output is checked outside its timed interval. With trace=1, passes
  * alternate untraced / traced; only the traced ones carry the listeners
  * and the counting tile store, and their per-layer numbers go to `side`.
  * The last stdout line is one JSON object.
  */
object Harness {
  /** Untimed passes that end set-up. */
  val WarmupPasses = 2

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val cores = a("cores").toInt
    val trace = a("trace") == "1"
    val work = a("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val run = new Run(spark, if (trace) Some(new Probe) else None, cores)
    val workload: Workload = a("workload") match {
      case "osm_region" => new OsmRegion(run, a("data"), work)
      case "register_floor" => new Register(run, a("data"), a("pins"))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val result = run.measure(workload, a("seed").toLong, a("seconds").toDouble, trace)
    if (trace) Files.writeString(Paths.get(a("side")), Json(result.side))
    spark.stop()
    println(Json(result.line))
  }
}

/** One workload: the operations of a pass, how to run one, how to check it. */
trait Workload {
  def name: String
  /** Wall time of one warm pass on the reference host (4 vCPUs). */
  def passSeconds: Double
  /** Bytes of input one operation consumes (normalizes bytes written). */
  def inputBytes: Long
  /** Input-size record for the side file. */
  def inputSize: Map[String, Any]
  /** Operation names of pass `p`, in run order. */
  def pass(seed: Long, p: Int): Seq[String]
  /** The timed body of one operation; returns what [[check]] inspects. */
  def run(op: String): Any
  /** Untimed: None if the output is correct, else the reason. */
  def check(op: String, out: Any): Option[String]
  /** Untimed checks made once per run, after the timed window. */
  def finalCheck(): Option[String] = None
  /** Extra input facts for the side file. */
  def sideInfo: Map[String, Any] = Map.empty
  /** Size in bytes of the XML file each operation parses, if any. */
  def parsedFile: Option[Long] = None
}

/** Memory the program holds, from construction to [[close]]: the peak of
  * heap in use right after a collection (the live set, sampled at every
  * GC, including the `System.gc()` before each operation) plus the peak of
  * non-heap in use (metaspace, code cache). Unlike peak RSS it does not
  * follow the heap size the JVM was given.
  */
final class LiveMemory extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peakHeap = new AtomicLong()
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(this, null, null))

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      peakHeap.accumulateAndGet(used, math.max(_, _))
    }

  /** Stop sampling; the peak in MB. */
  def close(): Double = {
    emitters.foreach(_.removeNotificationListener(this))
    val nonHeap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.NON_HEAP).map(_.getPeakUsage.getUsed).sum
    (peakHeap.get + nonHeap) / (1024.0 * 1024.0)
  }
}

final case class Span(name: String, startMs: Double, endMs: Double)

/** Per-operation profile of a traced operation. */
final case class OpProfile(op: String, wall: Double, startEpochMs: Long,
    rec: OpRecords, gcS: Double, spans: Seq[Span], counters: Map[String, Double])

final case class Sample(op: String, seconds: Double, ok: Boolean,
    traced: Boolean, written: Long)

final case class Result(line: Map[String, Any], side: Map[String, Any])

final class Run(val spark: SparkSession, probe: Option[Probe], cores: Int) {
  private val sc = spark.sparkContext
  private var traced = false
  private var opStart = 0L
  private val spans = mutable.ArrayBuffer.empty[Span]

  /** Time a layer call. In traced operations the span is recorded and the
    * span name is set as a local property, so the listener attributes the
    * jobs the call launches to it.
    */
  def span[T](name: String)(body: => T): T = {
    if (!traced) return body
    sc.setLocalProperty(Attr.Span, name)
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(name, (t0 - opStart) / 1e6, (System.nanoTime() - opStart) / 1e6)
      sc.setLocalProperty(Attr.Span, null)
    }
  }

  /** The store a traced operation samples through: counted and timed. */
  def store(s: TileStore): TileStore = if (traced) new CountingTileStore(s) else s

  private def drain(): Unit = org.apache.spark.PerfbenchListenerDrain(sc)

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def procField(file: String, key: String): Long =
    Files.readAllLines(Paths.get(file)).asScala
      .find(_.startsWith(key + ":")).map(_.drop(key.length + 1).trim.split("\\s+")(0).toLong)
      .getOrElse(0L)

  /** Bytes read through Hadoop's local file system (input files). */
  private def fsBytesRead: Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum

  /** Bytes this process passed to write(2): outputs, shuffle and spill files. */
  private def wchar: Long = procField("/proc/self/io", "wchar")

  private def runOne(w: Workload, pass: Int, idx: Int, op: String): (Sample, Option[OpProfile]) = {
    // Untimed: the previous operation's cached data and garbage are not
    // billed to this one.
    spark.catalog.clearCache()
    System.gc()
    val id = s"$pass.$idx.$op"
    if (traced) {
      RasterCounters.reset()
      spans.clear()
      probe.foreach(_.currentOp = id)
      sc.setLocalProperty(Attr.Op, id)
    }
    val gc0 = gcMillis
    val io0 = wchar
    val fs0 = fsBytesRead
    val startEpochMs = System.currentTimeMillis()
    opStart = System.nanoTime()
    val out = try Right(w.run(op)) catch { case NonFatal(e) => Left(e) }
    val secs = (System.nanoTime() - opStart) / 1e9
    val written = wchar - io0
    val fileRead = fsBytesRead - fs0
    val gcS = (gcMillis - gc0) / 1e3
    if (traced) {
      drain()
      sc.setLocalProperty(Attr.Op, null)
      probe.foreach(_.currentOp = "")
    }
    val problem = out match {
      case Left(e) => Some(s"${e.getClass.getName}: ${e.getMessage}")
      case Right(o) =>
        try w.check(op, o) catch { case NonFatal(e) => Some(s"check failed: $e") }
    }
    problem.foreach(p => System.err.println(s"[perfbench] $op FAILED: $p"))
    val profile = if (!traced) None else {
      drain()
      val counters = Map(
        "raster.tile_fetches.z12" -> RasterCounters.fetches(12).toDouble,
        "raster.tile_fetches.z15" -> RasterCounters.fetches(15).toDouble,
        "raster.distinct_tiles" -> RasterCounters.distinctTiles.toDouble,
        "raster.fetch_s" -> RasterCounters.fetchSeconds,
        "file_bytes_read" -> fileRead.toDouble)
      Some(OpProfile(id, secs, startEpochMs, probe.get.take(id), gcS,
        Span("op", 0.0, secs * 1e3) +: spans.toList, counters))
    }
    (Sample(op, secs, problem.isEmpty, traced, written), profile)
  }

  /** Register the listeners for the traced passes only, so untraced
    * passes run exactly as with trace=0.
    */
  private def listen(on: Boolean): Unit = probe.foreach { p =>
    if (on) {
      sc.addSparkListener(p)
      spark.listenerManager.register(p)
    } else {
      drain()
      sc.removeSparkListener(p)
      spark.listenerManager.unregister(p)
    }
  }

  def measure(w: Workload, seed: Long, seconds: Double, trace: Boolean): Result = {
    // Set-up ends with untimed warm-up passes (JIT, class loading, file
    // system caches), checked like any other. After a single pass the next
    // operations still sped up by 10-35% (q152 and q89 by a third), which
    // made medians unsteady.
    val warm = (1 to Harness.WarmupPasses).flatMap { p =>
      w.pass(seed, -p).zipWithIndex.map { case (op, i) => runOne(w, -p, i, op)._1 }
    }
    println(s"PERFBENCH_READY ${System.currentTimeMillis()}")
    System.out.flush()

    val samples = mutable.ArrayBuffer.empty[Sample]
    val profiles = mutable.ArrayBuffer.empty[(Int, OpProfile)]
    val t0 = System.nanoTime()
    val live = new LiveMemory
    // Whole passes only, so every operation is sampled equally often; at
    // least three, so one slow sample cannot move a median (and a traced
    // run has untraced and traced passes). The count is fixed from
    // `seconds`, not by the clock, so every run of a workload takes the same
    // number of samples and the tail is the same rank: a clock-ended window
    // took 25 or 30 register samples, moving op_s.tail between queries.
    val passes = math.max(3, (seconds / w.passSeconds).toInt)
    for (p <- 1 to passes) {
      traced = trace && p % 2 == 0
      if (traced) listen(true)
      w.pass(seed, p).zipWithIndex.foreach { case (op, i) =>
        val (s, prof) = runOne(w, p, i, op)
        samples += s
        prof.foreach(profiles += p -> _)
      }
      if (traced) listen(false)
    }
    traced = false
    val window = (System.nanoTime() - t0) / 1e9
    val peakLive = live.close()
    val finalProblem = try w.finalCheck() catch { case NonFatal(e) => Some(e.toString) }
    finalProblem.foreach(p => System.err.println(s"[perfbench] final check FAILED: $p"))

    val plain = samples.filterNot(_.traced).toSeq
    val okTimes = plain.filter(_.ok).map(_.seconds)
    val passS = Stats.passSeconds(plain)
    val (tailPct, tail) = Stats.tail(okTimes)
    println(f"[perfbench] ${w.name}: ${plain.size} untraced operations in $passes passes, " +
      f"${window}%.1f s window; op_s.tail is p$tailPct%.1f of ${okTimes.size} samples")
    val failed = samples.count(!_.ok) + warm.count(!_.ok)
    val attempted = samples.size + warm.size
    val correct = failed == 0 && finalProblem.isEmpty
    def m(v: Double, unit: String) = Map("value" -> v, "unit" -> unit)
    val e2e = Map(
      "pass_s" -> m(passS, "s"),
      "op_s.p50" -> m(Stats.median(okTimes), "s"),
      "op_s.tail" -> m(tail, "s"),
      "peak_live_mb" -> m(peakLive, "MB"),
      "write_bytes_per_input_byte" ->
        m(plain.map(_.written).sum.toDouble / (plain.size * w.inputBytes), "B/B"))
    val common = Map(
      "workload" -> w.name, "seed" -> seed, "cores" -> cores,
      "input" -> w.inputSize, "passes" -> passes,
      "peak_rss_mb" -> procField("/proc/self/status", "VmHWM") / 1024.0,
      "fail_frac" -> failed.toDouble / attempted,
      "op_s.tail_percentile" -> tailPct, "op_s.samples" -> okTimes.size,
      "op_seconds" -> plain.groupBy(_.op).map { case (op, g) => op -> g.map(_.seconds) })
    if (!trace) {
      Result(Map("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
        "metrics" -> e2e, "info" -> common), Map.empty)
    } else {
      val tracedSamples = samples.filter(_.traced).toSeq
      val tracedPass = Stats.passSeconds(tracedSamples)
      val perLayer = collection.immutable.ListMap(
        Layers(w, profiles.toSeq, cores).map { case (k, (v, u)) => k -> m(v, u) }: _*)
      val overhead = Map("untraced_pass_s" -> passS, "traced_pass_s" -> tracedPass,
        "overhead_frac" -> (tracedPass - passS) / passS)
      println(f"[perfbench] tracing overhead: pass_s $passS%.3f s untraced, " +
        f"$tracedPass%.3f s traced (${100 * (tracedPass - passS) / passS}%+.1f%%)")
      val side = common ++ Map("input" -> (w.inputSize ++ w.sideInfo),
        "per_layer" -> perLayer,
        "end_to_end_untraced" -> e2e,
        "tracing" -> overhead,
        "operations" -> profiles.map { case (pass, pr) => Layers.opJson(w, pass, pr, cores) })
      Result(Map("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
        "metrics" -> perLayer, "info" -> common), side)
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it; the
    * maximum when that percentile would fall below the median (fewer than
    * 21 samples).
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size < 21) return (100.0, s.lastOption.getOrElse(Double.NaN))
    val k = s.size - 11
    (100.0 * k / (s.size - 1), s(k))
  }

  /** One pass: the sum over the pass's operations of each operation's
    * median time. Failed operations are left out (they show in fail_frac).
    */
  def passSeconds(ss: Seq[Sample]): Double =
    ss.filter(_.ok).groupBy(_.op).values.map(g => median(g.map(_.seconds))).sum
}

/** Per-layer numbers from the traced operations: per pass (summed over a
  * pass's operations), then the median over traced passes.
  */
object Layers {
  private def tablesJobs(p: OpProfile) = p.rec.jobs.filter(_.tablesSite)

  /** Seconds of `[lo, hi]` (epoch ms) during which no task ran. */
  private def idleS(tasks: Seq[TaskRec], lo: Double, hi: Double): Double = {
    var covered = 0.0
    var end = lo
    tasks.map(t => (t.launch.toDouble max lo, t.finish.toDouble min hi))
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > end) { covered += e - (s max end); end = e }
      }
    ((hi - lo) - covered) / 1e3
  }

  private def spanS(p: OpProfile, name: String) =
    p.spans.filter(_.name == name).map(s => (s.endMs - s.startMs) / 1e3).sum

  /** Raw per-operation values; ratios are formed after summing a pass. */
  private def raw(w: Workload, p: OpProfile): Map[String, Double] = {
    val t = p.rec.tasks
    val lo = p.startEpochMs.toDouble
    val write = p.spans.find(_.name == "ops.Upsert.write")
    // The enrichment plan is lazy: it executes inside the upsert's write.
    // The write's own share is its last job (the one writing the files)
    // and the renames after it; the span's time before that is enrichment.
    val writeOwnS = write.fold(0.0) { s =>
      p.rec.jobs.filter(_.span == s.name).maxByOption(_.start)
        .fold(s.endMs - s.startMs)(last => s.endMs - ((last.start - lo) max s.startMs)) / 1e3
    }
    // A task that parsed the XML read the whole file as its input; tasks
    // served from the cached element table report the cached block instead.
    val xmlTasks = w.parsedFile.fold(Seq.empty[TaskRec])(b => t.filter(_.bytesRead == b))
    Map(
      "Tables.jobs" -> tablesJobs(p).size.toDouble,
      "Tables.job_s" -> tablesJobs(p).map(j => (j.end - j.start) / 1e3).sum,
      "queries.build_s" -> spanS(p, "queries.build"),
      "queries.build_jobs" -> p.rec.jobs.count(_.span == "queries.build").toDouble,
      "queries.plan_s" -> p.rec.planS,
      "exec.jobs" -> p.rec.jobs.size.toDouble,
      "exec.stages" -> p.rec.stages.toDouble,
      "exec.tasks" -> t.size.toDouble,
      "exec.idle_s" -> idleS(t, lo, lo + p.wall * 1e3),
      "exec.task_s" -> t.map(_.runMs).sum / 1e3,
      "wall_s" -> p.wall,
      "exec.shuffle_write_bytes" -> t.map(_.shuffleWrite).sum.toDouble,
      "exec.shuffle_read_bytes" -> t.map(_.shuffleRead).sum.toDouble,
      "exec.spill_bytes" -> t.map(_.spill).sum.toDouble,
      "exec.peak_exec_mem_bytes" -> t.map(_.peakMem).maxOption.getOrElse(0L).toDouble,
      "jvm.gc_s" -> p.gcS,
      "osm.parse_s" -> xmlTasks.map(_.runMs).sum / 1e3,
      "osm.elements" -> p.rec.parsedRows.toDouble,
      "pipeline.import_s" -> spanS(p, "pipeline.import"),
      "pipeline.enrich_s" -> (spanS(p, "pipeline.enrich") +
        write.fold(0.0)(s => (s.endMs - s.startMs) / 1e3 - writeOwnS)),
      "ops.Upsert.write_s" -> writeOwnS,
      "ops.Upsert.bytes_written" -> t.filter(_.span == "ops.Upsert.write")
        .map(_.bytesWritten).sum.toDouble) ++ p.counters
  }

  val units: Seq[(String, String)] = Seq(
    "Tables.jobs" -> "count", "Tables.job_s" -> "s",
    "queries.build_s" -> "s", "queries.build_jobs" -> "count", "queries.plan_s" -> "s",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.idle_s" -> "s", "exec.task_s" -> "s", "exec.busy_frac" -> "ratio",
    "exec.shuffle_write_bytes" -> "B", "exec.shuffle_read_bytes" -> "B",
    "exec.spill_bytes" -> "B", "exec.peak_exec_mem_bytes" -> "B",
    "jvm.gc_s" -> "s",
    "osm.parse_s" -> "s", "osm.elements" -> "count", "osm.xml_reads" -> "ratio",
    "pipeline.import_s" -> "s", "pipeline.enrich_s" -> "s",
    "raster.tile_fetches.z12" -> "count", "raster.tile_fetches.z15" -> "count",
    "raster.distinct_tiles" -> "count", "raster.fetch_amplification" -> "ratio",
    "raster.fetch_s" -> "s",
    "ops.Upsert.write_s" -> "s", "ops.Upsert.bytes_written" -> "B")

  def apply(w: Workload, profiles: Seq[(Int, OpProfile)], cores: Int): Seq[(String, (Double, String))] = {
    val perPass = profiles.groupBy(_._1).values.map { ps =>
      val sums = ps.map(p => raw(w, p._2)).reduce((x, y) => x.map { case (k, v) =>
        k -> (if (k == "exec.peak_exec_mem_bytes") v max y(k) else v + y(k)) })
      sums ++ derived(w, sums, cores)
    }.toSeq
    units.map { case (k, u) => k -> (Stats.median(perPass.map(_(k))), u) }
  }

  private def derived(w: Workload, s: Map[String, Double], cores: Int): Map[String, Double] = {
    val reads = w.parsedFile.fold(0.0)(s("file_bytes_read") / _)
    val fetches = s("raster.tile_fetches.z12") + s("raster.tile_fetches.z15")
    Map(
      "exec.busy_frac" -> s("exec.task_s") / (s("wall_s") * cores),
      "osm.xml_reads" -> reads,
      "raster.fetch_amplification" ->
        (if (s("raster.distinct_tiles") > 0) fetches / s("raster.distinct_tiles") else 0.0))
  }

  def opJson(w: Workload, pass: Int, p: OpProfile, cores: Int): Map[String, Any] = {
    val r = raw(w, p)
    Map("pass" -> pass, "op" -> p.op,
      "counters" -> (r ++ derived(w, r, cores)),
      "spans" -> p.spans.map(s => Map("name" -> s.name, "parent" -> (if (s.name == "op") "" else "op"),
        "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
  }
}

/** JSON text of the harness's maps, sequences and numbers. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}

/** Order-free hash of a query result: each row is rendered with its columns
  * in name order and doubles rounded to 6 significant digits (the last bits
  * of a floating sum depend on partition order), hashed, and the row hashes
  * summed -- so any row order gives the same value.
  */
object ResultHash {
  private val ctx = new java.math.MathContext(6)

  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else new java.math.BigDecimal(if (d == 0.0) 0.0 else d).round(ctx)
        .stripTrailingZeros.toPlainString
    case f: Float => canon(f.toDouble)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  def apply(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val md = MessageDigest.getInstance("SHA-256")
    val sum = rows.foldLeft(0L) { (acc, r) =>
      val bytes = md.digest(order.map(i => canon(r.get(i))).mkString("\u0001").getBytes("UTF-8"))
      acc + java.nio.ByteBuffer.wrap(bytes).getLong
    }
    f"${rows.length}:$sum%016x"
  }
}

/** Register queries over the generated tables; one operation builds one
  * query's DataFrame and collects it. The seed fixes each pass's order.
  */
final class Register(harness: Run, dir: String, pinsFile: String) extends Workload {
  private val spark = harness.spark
  val name = "register_floor"
  /** Driver-floor-bound: table resolution, planning, per-job scheduling and
    * iterative-loop jobs dominate (cores mostly idle). An odd number of
    * queries keeps the median operation inside one query's samples.
    */
  private val queries = Seq("q10_join3_revenue", "q70_interval_overlap",
    "q96_inverted_index", "q89_graph_bfs", "q152_pagerank")
  /** Pinned result hashes, `<query> <hash>` per line. */
  private val pins: Map[String, String] =
    if (pinsFile == null || pinsFile.isEmpty || !Files.exists(Paths.get(pinsFile))) Map.empty
    else Files.readAllLines(Paths.get(pinsFile)).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\s+")).collect { case Array(q, h) => q -> h }.toMap
  private val tableBytes = Files.list(Paths.get(dir)).iterator().asScala
    .filter(_.toString.endsWith(".parquet")).map(Files.size(_)).sum

  def passSeconds = 3.5
  def inputBytes: Long = tableBytes
  def inputSize: Map[String, Any] = Map("bytes" -> tableBytes, "queries" -> queries.size)

  def pass(seed: Long, p: Int): Seq[String] = new Random(seed * 1000003L + p).shuffle(queries)

  def run(op: String): Any = {
    val df = harness.span("queries.build")(Registry.queries(op)(spark, dir))
    val rows = harness.span("exec")(df.collect())
    (df.schema, rows)
  }

  def check(op: String, out: Any): Option[String] = {
    val (schema, rows) = out.asInstanceOf[(StructType, Array[Row])]
    val h = ResultHash(schema, rows)
    println(s"[perfbench] hash $op $h")
    pins.get(op) match {
      case None => Some(s"no pinned hash for $op (got $h)")
      case Some(`h`) => None
      case Some(want) => Some(s"result hash $h, pinned $want")
    }
  }
}

/** The paper's pipeline on one generated OSM extract: import the table
  * set, enrich the routable ways from the raster passes, upsert the result
  * into `ways_metadata`.
  */
final class OsmRegion(harness: Run, xmlPath: String, work: String) extends Workload {
  private val spark = harness.spark
  val name = "osm_region"
  private val out = s"$work/osm_out"
  private val xmlBytes = Files.size(Paths.get(xmlPath))
  private var checksum: Option[String] = None

  private val counts: Map[String, Int] = {
    val txt = new String(Files.readAllBytes(Paths.get(xmlPath)), "UTF-8")
    Seq("node", "way", "relation").map(k => k -> s"<$k ".r.findAllMatchIn(txt).size).toMap
  }

  /** Distinct tiles per pass zoom, addressed by the engine's own sampler. */
  private lazy val tilesPerZoom: Map[String, Long] = {
    val t = graft.osm.OsmXml.parse(spark, xmlPath)
    val coords = WaysEnrichment.edgeCoords(graft.osm.RoutingGraph.edges(
      graft.osm.RoutingGraph.routableWays(t.ways), t.nodes)).cache()
    val r = WaysEnrichment.defaultPasses().filter(_.enabled).map { p =>
      s"z${p.zoom}" -> RasterSampler.address(coords, p.zoom, p.store.tileSize)
        .select("tx", "ty").distinct().count()
    }.toMap ++ Map("coordinates" -> coords.count())
    spark.catalog.clearCache()
    r
  }

  def passSeconds = 8.0
  def inputBytes: Long = xmlBytes
  override def parsedFile: Option[Long] = Some(xmlBytes)
  def inputSize: Map[String, Any] = Map(
    "bytes" -> xmlBytes, "elements" -> counts.values.sum,
    "nodes" -> counts("node"), "ways" -> counts("way"), "relations" -> counts("relation"))

  /** Costs a few jobs, so only traced runs record it (in the side file). */
  override def sideInfo: Map[String, Any] = Map("distinct_tiles" -> tilesPerZoom)

  def pass(seed: Long, p: Int): Seq[String] = Seq("osm_region")

  private def passes = WaysEnrichment.defaultPasses()
    .map(p => p.copy(store = harness.store(p.store)))

  def run(op: String): Any = {
    harness.span("pipeline.import")(OsmImport.writeAll(spark, xmlPath, s"$out/tables"))
    val md = harness.span("pipeline.enrich")(WaysEnrichment.run(spark, xmlPath, passes))
    harness.span("ops.Upsert.write")(Upsert.writeAtomic(md, s"$out/ways_metadata"))
  }

  private def metadata: DataFrame = spark.read.parquet(s"$out/ways_metadata")

  /** FIXTURES.md B4: gid unique, FK into ways.gid, each metric in [0,1]
    * with max exactly 1.0; plus a checksum that must repeat on every pass.
    */
  def check(op: String, o: Any): Option[String] = {
    val md = metadata
    val rows = md.collect()
    val wayGids = spark.read.parquet(s"$out/tables/ways").select("gid").collect()
      .map(_.getLong(0)).toSet
    val gids = rows.map(_.getAs[Long]("gid"))
    def metric(c: String): Option[String] = {
      val vs = rows.map(r => Option(r.getAs[java.lang.Double](c)))
      if (vs.exists(_.isEmpty)) Some(s"null $c values")
      else if (vs.flatten.exists(v => v < 0 || v > 1) || vs.flatten.map(_.doubleValue).max != 1.0)
        Some(s"$c outside [0,1] or max != 1")
      else None
    }
    val sum = ResultHash(md.schema, rows)
    val problems = (Seq(
      rows.isEmpty -> "ways_metadata is empty",
      (gids.distinct.length != gids.length) -> "gid not unique",
      gids.exists(g => !wayGids(g)) -> "gids not in ways",
      checksum.exists(_ != sum) -> s"checksum $sum differs from first pass ${checksum.orNull}")
      .collect { case (true, why) => why } ++
      (if (rows.isEmpty) Nil else Seq("popularity", "greenery").flatMap(metric)))
    if (checksum.isEmpty) {
      checksum = Some(sum)
      println(s"[perfbench] osm_region checksum $sum")
    }
    problems.headOption
  }

  /** The upsert of the greenery pass keeps popularity: every gid's
    * popularity equals that of a popularity-only run.
    */
  override def finalCheck(): Option[String] = {
    val pop = WaysEnrichment.run(spark, xmlPath, WaysEnrichment.defaultPasses().take(1))
    val diff = metadata.join(pop.withColumnRenamed("popularity", "p0"), Seq("gid"), "full_outer")
      .filter(col("p0").isNull || col("popularity").isNull ||
        abs(col("popularity") - col("p0")) > 1e-12)
      .count()
    spark.catalog.clearCache()
    if (diff == 0) None else Some(s"$diff gids lost or changed popularity in the upsert")
  }
}
