package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.BusBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wraps a call into one layer. The end-to-end runs use [[NoTrace]]; the
  * traced run uses a [[Tracer]]. */
trait Timer {
  def span[T](name: String)(body: => T): T
}

object NoTrace extends Timer {
  def span[T](name: String)(body: => T): T = body
}

/** Counters charged to one span. Spark jobs, stages and tasks arrive by
  * job group, so they are attributed correctly under concurrency;
  * planning time and codegen compiles are read around the call and are
  * only attributed in serial phases. */
final class Counters {
  val jobs, stages, tasks, taskMs, gcMs, shuffleRead, shuffleWrite, spill,
      planMs, queries = new AtomicLong
  var compileNs, compiles = 0L
  def +=(o: Counters): Unit = {
    Seq(jobs -> o.jobs, stages -> o.stages, tasks -> o.tasks,
      taskMs -> o.taskMs, gcMs -> o.gcMs, shuffleRead -> o.shuffleRead,
      shuffleWrite -> o.shuffleWrite, spill -> o.spill,
      planMs -> o.planMs, queries -> o.queries)
      .foreach { case (a, b) => a.addAndGet(b.get) }
    compileNs += o.compileNs; compiles += o.compiles
  }
}

final case class Span(id: Int, name: String, parent: Int, thread: String,
                      startNs: Long, endNs: Long, c: Counters) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the traced run: one SparkListener, one
  * QueryExecutionListener, and a job group per span. Spans (name, start,
  * end, parent) are kept in memory and written out by [[write]] at the
  * end of the run. */
final class Tracer(spark: SparkSession) extends Timer {
  private val sc = spark.sparkContext
  private val t0 = System.nanoTime()
  private val nextId = new AtomicInteger(0)
  private val spans = ArrayBuffer.empty[Span]
  private val open = new ConcurrentHashMap[Int, Counters]()
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  /** Span charged with planning time; set only while calls run serially. */
  @volatile private var planBucket: Int = -1
  @volatile var serial: Boolean = true
  @volatile private var installed = false

  private val groupPrefix = "perfbench-"

  private def countersOf(id: Int): Option[Counters] = Option(open.get(id))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id")))
      group.filter(_.startsWith(groupPrefix)).foreach { g =>
        val id = g.stripPrefix(groupPrefix).toInt
        e.stageIds.foreach(stageSpan.put(_, id))
        countersOf(id).foreach(_.jobs.incrementAndGet())
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).flatMap(i => countersOf(i))
        .foreach(_.stages.incrementAndGet())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (id <- Option(stageSpan.get(e.stageId)); c <- countersOf(id);
           m <- Option(e.taskMetrics)) {
        c.tasks.incrementAndGet()
        c.taskMs.addAndGet(m.executorRunTime)
        c.gcMs.addAndGet(m.jvmGCTime)
        c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
  }

  private val qeListener = new QueryExecutionListener {
    private def charge(qe: QueryExecution): Unit =
      countersOf(planBucket).foreach { c =>
        c.planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
        c.queries.incrementAndGet()
      }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = charge(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = charge(qe)
  }

  def install(): Unit = if (!installed) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    installed = true
  }

  def remove(): Unit = if (installed) {
    BusBridge.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    installed = false
  }

  def span[T](name: String)(body: => T): T = {
    val id = nextId.incrementAndGet()
    val parents = stack.get
    val c = new Counters
    open.put(id, c)
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    val prevBucket = planBucket
    if (installed && serial) { BusBridge.drain(sc); planBucket = id }
    sc.setJobGroup(groupPrefix + id, name)
    stack.set(id :: parents)
    val ns0 = CodeGenerator.compileTime
    val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val start = System.nanoTime()
    try body
    finally {
      val end = System.nanoTime()
      c.compileNs = CodeGenerator.compileTime - ns0
      c.compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0
      stack.set(parents)
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, prevDesc)
      if (installed && serial) { BusBridge.drain(sc); planBucket = prevBucket }
      spans.synchronized {
        spans += Span(id, name, parents.headOption.getOrElse(0),
          Thread.currentThread.getName, start - t0, end - t0, c)
      }
    }
  }

  /** Finished spans, in end order. */
  def all: Seq[Span] = { BusBridge.drain(sc); spans.synchronized(spans.toList) }

  /** Counters of `s` and every span below it, summed. */
  def subtree(s: Span): Counters = {
    val spansNow = all
    val kids = spansNow.groupBy(_.parent)
    val total = new Counters
    def walk(x: Span): Unit = { total += x.c; kids.getOrElse(x.id, Nil).foreach(walk) }
    walk(s)
    total
  }

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Spans as JSON lines: id, name, parent, thread, start/end in ms since
    * the tracer started, and the span's own counters. */
  def write(path: java.io.File): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      val c = s.c
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""thread":"${s.thread}","start_ms":${s.startNs / 1e6},""" +
        s""""end_ms":${s.endNs / 1e6},"jobs":${c.jobs},"stages":${c.stages},""" +
        s""""tasks":${c.tasks},"task_ms":${c.taskMs},"gc_ms":${c.gcMs},""" +
        s""""shuffle_read":${c.shuffleRead},"shuffle_write":${c.shuffleWrite},""" +
        s""""spill":${c.spill},"plan_ms":${c.planMs},"queries":${c.queries},""" +
        s""""compile_ms":${c.compileNs / 1e6},"compiles":${c.compiles}}"""
    }
    java.nio.file.Files.write(path.toPath, lines.asJava)
  }
}
