package perfbench

import java.util.Properties
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{ExternalRDDScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.types.ObjectType
import org.apache.spark.sql.util.QueryExecutionListener

import graft.raster.{Tile, TileStore}

/** Local properties the harness sets on its own thread around each layer
  * call. Spark copies them onto every job and stage that thread launches
  * (broadcast and adaptive-execution threads inherit them), which is how
  * the listener attributes work to an operation and a span.
  */
object Attr {
  val Op = "perfbench.op"
  val Span = "perfbench.span"
}

final case class JobRec(span: String, start: Long, tablesSite: Boolean) {
  var end: Long = start
}

final case class TaskRec(span: String, launch: Long, finish: Long,
    runMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
    peakMem: Long, bytesRead: Long, bytesWritten: Long)

/** Everything the listeners saw for one operation. `parsedRows` counts the
  * element rows the OSM parser's scans produced.
  */
final case class OpRecords(jobs: Seq[JobRec], stages: Int, tasks: Seq[TaskRec],
    planS: Double, parsedRows: Long)

/** SparkListener + QueryExecutionListener that record jobs, stages, tasks
  * and SQL planning time, keyed by the operation that launched them.
  * Registered only around traced passes.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.Map.empty[Int, (String, JobRec)]
  private val stages = mutable.Map.empty[Int, (String, String)]
  private val tasks = mutable.ArrayBuffer.empty[(String, TaskRec)]
  private val sql = mutable.ArrayBuffer.empty[(String, Double)]
  /** The OSM parser's scans each operation's queries ran, once each. */
  private val parseScans = new java.util.IdentityHashMap[ExternalRDDScanExec[_], String]()
  /** Operation the harness is running; read by the SQL callbacks, which
    * carry no local properties. The harness drains the bus before moving
    * it on, so every callback lands while its own operation is current.
    */
  @volatile var currentOp: String = ""

  private def attr(p: Properties): (String, String) =
    if (p == null) ("", "")
    else (p.getProperty(Attr.Op, ""), p.getProperty(Attr.Span, ""))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val (op, span) = attr(e.properties)
    // A job's short call site names the first frame outside Spark: a job
    // launched from a Tables loader reads "... at Tables.scala:<line>".
    val fromTables = e.stageInfos.exists(_.name.contains(" at Tables.scala:"))
    jobs(e.jobId) = (op, JobRec(span, e.time, fromTables))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_._2.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages(e.stageInfo.stageId) = attr(e.properties)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val (op, span) = stages.getOrElse(e.stageId, ("", ""))
    val i = e.taskInfo
    val m = e.taskMetrics
    tasks += op -> (if (m == null) TaskRec(span, i.launchTime, i.finishTime, 0, 0, 0, 0, 0, 0, 0)
      else TaskRec(span, i.launchTime, i.finishTime, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled, m.peakExecutionMemory, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      sql += currentOp -> qe.tracker.phases.values.map(_.durationMs).sum / 1e3
      nodes(qe.executedPlan).foreach {
        case s: ExternalRDDScanExec[_] if s.outputObjectType == OsmRawType =>
          parseScans.put(s, currentOp)
        case _ =>
      }
    }

  private val OsmRawType = ObjectType(Class.forName("graft.osm.OsmRaw"))

  /** Every node of a physical plan, through adaptive plans, query stages,
    * subqueries and the plans that fill cached relations.
    */
  private def nodes(p: SparkPlan): Iterator[SparkPlan] = Iterator(p) ++ (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
    case _ => Iterator.empty
  }) ++ (p.children ++ p.subqueries).iterator.flatMap(nodes)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Remove and return what was recorded for `op`; drop everything else
    * (untimed checks and cleanup), so memory stays bounded.
    */
  def take(op: String): OpRecords = synchronized {
    val r = OpRecords(
      jobs.values.collect { case (`op`, j) => j }.toSeq,
      stages.values.count(_._1 == op),
      tasks.collect { case (`op`, t) => t }.toSeq,
      sql.collect { case (`op`, s) => s }.sum,
      parseScans.asScala.collect { case (s, `op`) => s.metrics("numOutputRows").value }.sum)
    jobs.clear(); stages.clear(); tasks.clear(); sql.clear(); parseScans.clear()
    r
  }
}

/** Tile fetches that reached the wrapped store, per operation. Executors run
  * in the driver JVM (`local[n]`), so tasks update this one object.
  */
object RasterCounters {
  private val byZoom = new ConcurrentHashMap[Int, AtomicLong]()
  private val nanos = new AtomicLong()
  private val tiles = ConcurrentHashMap.newKeySet[(Long, Long, Int)]()

  def record(x: Long, y: Long, z: Int, ns: Long): Unit = {
    byZoom.computeIfAbsent(z, _ => new AtomicLong()).incrementAndGet()
    nanos.addAndGet(ns)
    tiles.add((x, y, z))
  }

  def fetches(z: Int): Long = Option(byZoom.get(z)).fold(0L)(_.get)
  def fetchSeconds: Double = nanos.get / 1e9
  def distinctTiles: Int = tiles.size

  def reset(): Unit = { byZoom.clear(); nanos.set(0); tiles.clear() }
}

/** Counts and times every fetch that reaches `inner` -- the fetches the
  * sampler's per-partition cache did not absorb.
  */
final class CountingTileStore(inner: TileStore) extends TileStore {
  override def tileSize: Int = inner.tileSize
  override def fetch(x: Long, y: Long, z: Int): Option[Tile] = {
    val t0 = System.nanoTime()
    try inner.fetch(x, y, z)
    finally RasterCounters.record(x, y, z, System.nanoTime() - t0)
  }
}
