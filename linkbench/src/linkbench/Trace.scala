package linkbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import scala.collection.mutable

/** The benchmark's layers, named after the engine modules its spans wrap. */
object Layers {
  val all: Seq[String] =
    Seq("transcripts", "normalize", "blocking", "matching", "similarity", "cluster", "io", "streaming")

  /** Engine class prefix -> layer, for jobs that an engine call submits
    * from deeper engine code (the fold's commits and clustering). The
    * hot-key statistic lives in Matcher but is a blocking step. */
  private val byFrame: Seq[(String, String)] = Seq(
    "graft.matching.Matcher$.hotBlockKeys" -> "blocking",
    "graft.matching.Matcher$.blockHistogram" -> "blocking",
    "graft.io." -> "io",
    "graft.cluster." -> "cluster",
    "graft.matching." -> "matching",
    "graft.blocking." -> "blocking",
    "graft.similarity." -> "similarity",
    "graft.normalize." -> "normalize",
    "graft.transcripts." -> "transcripts",
    "graft.streaming." -> "streaming")

  /** A query from `Dataset.head` called in ConnectedComponents: the
    * convergence check it runs once on its input and once per round. */
  def isClusterCheck(details: String): Boolean = {
    val frames = details.linesIterator.map(_.trim).toSeq
    frames.headOption.exists(_.contains(".Dataset.head(")) &&
      frames.lift(1).exists(_.contains("graft.cluster.ConnectedComponents"))
  }

  /** Layer of the innermost engine frame of a stage's call site. */
  def ofCallSite(details: String): Option[String] =
    details.linesIterator.map(l => l.trim.substring(l.trim.lastIndexOf('/') + 1))
      .flatMap(f => byFrame.collectFirst { case (p, n) if f.startsWith(p) => n })
      .nextOption()
}

/** One layer call. Times are System.nanoTime. */
final class Span(val id: Int, val layer: String, val parent: Int, val startNs: Long,
    val derived: Boolean) {
  var endNs: Long = startNs
  var rowsIn = 0L
  var rowsOut = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var bytesWritten = 0L
  var recordsRead = 0L
  var recordsWritten = 0L
  var tasks = 0L
  val stages = mutable.Set.empty[Int]
  /** Queries that are the connected-components convergence check. */
  val ccChecks = mutable.Set.empty[Long]
}

/** Span recorder plus the listener that rolls Spark task metrics up into
  * spans. A span sets a job group on the calling thread; every job
  * started under that group, and every stage and task of those jobs,
  * belongs to the span. With `refine`, a query (or a job outside any
  * query) whose call site lies in a different engine layer gets a child
  * span of its own covering it: this splits a composite engine call into
  * the layers of the engine code that triggered each query.
  * Spans stay in memory until [[rollup]] reads them. */
final class Tracer(sc: SparkContext, cores: Int) extends SparkListener {
  private val GroupPrefix = "linkbench-span-"
  // currentTimeMillis -> nanoTime, for job event times
  private val msToNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  private var nextId = 0
  private var open: List[Span] = Nil
  // guarded by `this`: written by the listener thread, read after a drain
  private val spans = mutable.Map.empty[Int, Span]
  private val refined = mutable.Set.empty[Int]
  private val jobSpan = mutable.Map.empty[Int, Span]
  private val querySpan = mutable.Map.empty[Long, Span]
  private val stageSpan = mutable.Map.empty[Int, Span]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val stageWallMs = mutable.Map.empty[Int, Long]

  def reset(): Unit = synchronized {
    spans.clear(); refined.clear(); jobSpan.clear(); querySpan.clear(); stageSpan.clear()
    stageTaskMs.clear(); stageWallMs.clear()
  }

  /** Run `f` as one call of `layer`. */
  def span[A](layer: String, refine: Boolean = false)(f: Span => A): A = {
    val s = synchronized {
      nextId += 1
      val s = new Span(nextId, layer, open.headOption.map(_.id).getOrElse(0), System.nanoTime(), false)
      spans(s.id) = s
      if (refine) refined += s.id
      s
    }
    open = s :: open
    sc.setJobGroup(GroupPrefix + s.id, layer, interruptOnCancel = false)
    try f(s)
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(GroupPrefix + p.id, p.layer, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  private def groupSpan(group: Option[String]): Option[Span] =
    group.filter(_.startsWith(GroupPrefix)).flatMap(g => spans.get(g.stripPrefix(GroupPrefix).toInt))

  /** The span a query or job started under `owner` belongs to: a child
    * span when `owner` is refined and the call site is in another layer. */
  private def target(owner: Span, callSite: String, timeMs: Long): Span =
    Layers.ofCallSite(callSite) match {
      case Some(l) if refined(owner.id) && l != owner.layer =>
        nextId += 1
        val c = new Span(nextId, l, owner.id, timeMs * 1000000L + msToNs, true)
        spans(c.id) = c
        c
      case _ => owner
    }

  // A query's call site is recorded when it starts, on the calling thread;
  // its jobs may be submitted from other threads (adaptive query stages).
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case q: SparkListenerSQLExecutionStart => synchronized {
      groupSpan(q.jobGroupId).foreach { owner =>
        val t = target(owner, q.details, q.time)
        querySpan(q.executionId) = t
        if (Layers.isClusterCheck(q.details)) t.ccChecks += q.executionId
      }
    }
    case q: SparkListenerSQLExecutionEnd => synchronized {
      querySpan.get(q.executionId).filter(_.derived)
        .foreach(s => s.endNs = math.max(s.endNs, q.time * 1000000L + msToNs))
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val query = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    query.flatMap(querySpan.get)
      .orElse(groupSpan(props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))))
        .map(owner => target(owner, e.stageInfos.map(_.details).mkString("\n"), e.time)))
      .foreach { t =>
        jobSpan(e.jobId) = t
        e.stageInfos.foreach(si => stageSpan.getOrElseUpdate(si.stageId, t))
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.get(e.jobId).filter(_.derived)
      .foreach(s => s.endNs = math.max(s.endNs, e.time * 1000000L + msToNs))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      val m = e.taskMetrics
      s.tasks += 1
      s.stages += e.stageId
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      if (m != null) {
        s.taskMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.diskBytesSpilled
        s.bytesWritten += m.outputMetrics.bytesWritten
        s.recordsRead += m.inputMetrics.recordsRead
        s.recordsWritten += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    for (a <- si.submissionTime; b <- si.completionTime) stageWallMs(si.stageId) = b - a
  }

  /** The spans recorded since the last reset, one JSON line each. */
  def dump(rep: Int): String = synchronized {
    spans.values.toSeq.sortBy(_.id).map { s =>
      Json.obj(Seq("rep" -> rep.toString, "id" -> s.id.toString, "layer" -> Json.str(s.layer),
        "parent" -> s.parent.toString, "derived" -> s.derived.toString,
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
        "rows_in" -> s.rowsIn.toString, "rows_out" -> s.rowsOut.toString,
        "task_ms" -> s.taskMs.toString, "stages" -> s.stages.size.toString,
        "tasks" -> s.tasks.toString)) + "\n"
    }.mkString
  }

  /** Per-layer metrics of every span recorded since the last reset, with
    * derived spans reporting the records their tasks read and wrote. */
  def rollup(): Map[String, Double] = {
    org.apache.spark.ListenerBusDrain.drain(sc)
    synchronized {
      val all = spans.values.toSeq
      val out = mutable.LinkedHashMap.empty[String, Double]
      for (layer <- Layers.all) {
        val own = all.filter(_.layer == layer)
        val ownIds = own.map(_.id).toSet
        val kids = all.filter(k => ownIds(k.parent) && k.layer != layer)
        val wallNs = Intervals.length(own.map(s => (s.startNs, s.endNs)))
        val covered = Intervals.overlap(own.map(s => (s.startNs, s.endNs)),
          kids.map(s => (s.startNs, s.endNs)))
        val wall = wallNs / 1e9
        val taskS = own.map(_.taskMs).sum / 1e3
        val stages = own.flatMap(_.stages).distinct
        val skew = if (stages.isEmpty) 0.0 else {
          val longest = stages.maxBy(st => (stageWallMs.getOrElse(st, 0L), st))
          val ts = stageTaskMs.getOrElse(longest, mutable.ArrayBuffer(0L)).sorted
          val med = Stats.median(ts.map(_.toDouble).toSeq)
          if (med > 0) ts.last / med else 1.0
        }
        out(s"$layer.wall_s") = wall
        out(s"$layer.self_s") = (wallNs - covered) / 1e9
        out(s"$layer.task_s") = taskS
        out(s"$layer.gc_s") = own.map(_.gcMs).sum / 1e3
        out(s"$layer.idle_share") = if (wall > 0) 1.0 - taskS / (wall * cores) else 0.0
        out(s"$layer.stages") = stages.size.toDouble
        out(s"$layer.tasks") = own.map(_.tasks).sum.toDouble
        out(s"$layer.shuffle_bytes") = own.map(_.shuffleBytes).sum.toDouble
        out(s"$layer.spill_bytes") = own.map(_.spillBytes).sum.toDouble
        out(s"$layer.skew") = skew
        out(s"$layer.rows_in") =
          own.map(s => if (s.derived) s.recordsRead else s.rowsIn).sum.toDouble
        out(s"$layer.rows_out") =
          own.map(s => if (s.derived) s.recordsWritten else s.rowsOut).sum.toDouble
      }
      out("io.bytes_written") = all.filter(_.layer == "io").map(_.bytesWritten).sum.toDouble
      // one clustering call checks convergence once on its input and once
      // per round; a derived span holds one query, so its call is its parent
      out("cluster.rounds") = all.filter(_.layer == "cluster")
        .groupBy(s => if (s.derived) s.parent else s.id).values
        .map(call => math.max(0, call.map(_.ccChecks.size).sum - 1)).sum.toDouble
      val sim = all.filter(_.layer == "similarity")
      out("similarity.pairs_per_s") =
        if (out("similarity.wall_s") > 0) sim.map(_.rowsIn).sum / out("similarity.wall_s") else 0.0
      // the self-time sum covers the chain; the similarity probe runs beside it
      out("trace.self_sum_s") = Layers.all.filter(_ != "similarity")
        .map(l => out(s"$l.self_s")).sum
      out.toMap
    }
  }
}

/** Interval arithmetic on (start, end) nanosecond pairs. */
object Intervals {
  def union(xs: Seq[(Long, Long)]): List[(Long, Long)] =
    xs.filter { case (a, b) => b > a }.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((ha, hb) :: t, (a, b)) if a <= hb => (ha, math.max(hb, b)) :: t
      case (acc, x) => x :: acc
    }.reverse

  def length(xs: Seq[(Long, Long)]): Long = union(xs).map { case (a, b) => b - a }.sum

  /** Length of union(xs) ∩ union(ys). */
  def overlap(xs: Seq[(Long, Long)], ys: Seq[(Long, Long)]): Long = {
    val u = union(ys)
    union(xs).map { case (a, b) =>
      u.map { case (c, d) => math.max(0L, math.min(b, d) - math.max(a, c)) }.sum
    }.sum
  }
}
