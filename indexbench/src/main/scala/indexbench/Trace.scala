package indexbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.IndexBenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Stage metrics of every job run under one job group. */
final class SpanStats {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var recordsRead = 0L

  def -(o: SpanStats): SpanStats = {
    val d = new SpanStats
    d.jobs = jobs - o.jobs; d.tasks = tasks - o.tasks; d.runMs = runMs - o.runMs
    d.gcMs = gcMs - o.gcMs; d.shuffleWrite = shuffleWrite - o.shuffleWrite
    d.spill = spill - o.spill; d.recordsRead = recordsRead - o.recordsRead
    d
  }
}

/** One traced span: wall time plus the stage metrics of its job group. */
final case class Span(seconds: Double, stats: SpanStats)

/** Traces operations from outside the engine. Each span runs under its own
  * job group id `<op>.<layer>`, so the spans of one operation share the
  * `<op>` prefix, and a listener attributes every completed stage to the
  * span whose job submitted it.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = new ConcurrentHashMap[String, SpanStats]()

  private def stats(g: String): SpanStats = groups.computeIfAbsent(g, _ => new SpanStats)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
        val s = stats(g)
        s.synchronized(s.jobs += 1)
        e.stageIds.foreach(stageGroup.put(_, g))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
        val s = stats(g)
        val m = e.stageInfo.taskMetrics
        s.synchronized {
          s.tasks += e.stageInfo.numTasks
          s.runMs += m.executorRunTime
          s.gcMs += m.jvmGCTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.recordsRead += m.inputMetrics.recordsRead
        }
      }
  }
  sc.addSparkListener(listener)

  /** Run `body` as span `id`; returns its result and the span. */
  def span[T](id: String)(body: => T): (T, Span) = {
    sc.setJobGroup(id, id, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val out = try body finally sc.clearJobGroup()
    val secs = (System.nanoTime() - t0) / 1e9
    IndexBenchBridge.drainListeners(sc)
    (out, Span(secs, stats(id)))
  }

  /** Span that drains `df` into the noop sink, forcing every operator. */
  def drain(id: String, df: => DataFrame): Span =
    span(id)(df.write.format("noop").mode("overwrite").save())._2
}
