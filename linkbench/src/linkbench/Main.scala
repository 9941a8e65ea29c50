package linkbench

import java.lang.management.ManagementFactory

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import scala.collection.mutable
import scala.jdk.CollectionConverters._

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest whole percentile with at least ten samples above it, and its value. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val n = xs.size
    val p = math.floor(100.0 * (n - 10) / n).toInt
    if (n < 11 || p < 1) None
    else Some(p -> xs.sorted.apply(math.ceil(p / 100.0 * n).toInt - 1))
  }
}

/** Minimal JSON rendering for the result lines. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** Benchmark main: one workload, one seed, one measured window.
  *
  * Closed loop, one caller: a repetition starts when the previous one has
  * returned its checked result. Repetitions run until `--seconds` have
  * passed. With `--trace 1` every second repetition is traced (spans and
  * materialized layer outputs) and the rest are not, so the run reports
  * the tracing overhead beside the per-layer metrics. */
object Main {
  /** Task threads of the one local session. */
  val Cores = 4
  val SetupRounds = 3
  /** Seed whose results are pinned at the commit that defined this benchmark. */
  val DefaultSeed = 1L
  /** (rows, hash, pair_f1) of each workload's result at DefaultSeed. */
  val pinned: Map[String, Check] = Map(
    "link_batch" -> Check(2774, 6457856029420225203L, 0.06274041973024298),
    "fold_stream" -> Check(5200, 7666214178153748129L, 0.054931640625))

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, data: String, sourceSha: String, gitCommit: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("data"), m.getOrElse("source-sha", "unknown"),
      m.getOrElse("git-commit", "unknown"))
  }

  private def log(msg: String): Unit = System.err.println(s"[linkbench] $msg")

  private def secondsOf[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("linkbench")
      .config("spark.sql.shuffle.partitions", Cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def hostRecord(o: Opts, spark: SparkSession): String = {
    val memKb = scala.util.Try(scala.io.Source.fromFile("/proc/meminfo").getLines()
      .collectFirst { case l if l.startsWith("MemTotal:") => l.replaceAll("\\D", "").toLong })
      .toOption.flatten.getOrElse(-1L)
    Json.obj(Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "mem_total_mb" -> (memKb / 1024).toString,
      "local" -> Json.str(s"local[$Cores]"),
      "jvm" -> Json.str(System.getProperty("java.vm.name") + " " + System.getProperty("java.version")),
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .map(Json.str).mkString("[", ", ", "]"),
      "spark" -> Json.str(spark.version),
      "git_commit" -> Json.str(o.gitCommit),
      "source_sha" -> Json.str(o.sourceSha)))
  }

  final case class Rep(traced: Boolean, secs: Double, batchSecs: Seq[Double], ok: Boolean,
      heapMb: Double, layers: Map[String, Double])

  /** Heap in use after a full collection. The first collection hands
    * Spark's context cleaner the objects that only it still references;
    * the second, once the cleaner has had time to drop them, frees those. */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch {
        case e: Throwable =>
          log(s"failed: $e")
          e.printStackTrace()
          1
      }
    System.out.flush()
    // Hadoop's shutdown hooks can hang after the session stops; every
    // result is already printed and the caller removes the scratch files
    Runtime.getRuntime.halt(code)
  }

  private def run(o: Opts): Int = {
    val nproc = Runtime.getRuntime.availableProcessors
    if (Cores > nproc) {
      log(s"refusing local[$Cores]: the host has $nproc cores")
      return 2
    }
    val (spark, sessionS) = secondsOf(session(o.work))
    val sc = spark.sparkContext
    println(Json.obj(Seq("host" -> hostRecord(o, spark))))

    val wl = Workload(o.workload, spark, o.work, o.seed, o.data)
    val setups = (0 until SetupRounds).map(i => secondsOf(wl.setup(s"${o.work}/setup$i"))._2)
    val setupS = sessionS + Stats.median(setups)
    log(f"setup: session $sessionS%.2fs, inputs ${setups.map(s => f"$s%.2f").mkString("/")}s")

    val tracer = if (o.trace) Some(new Tracer(sc, Cores)) else None
    tracer.foreach(sc.addSparkListener)
    val spans = mutable.ArrayBuffer.empty[String]
    val codegen0 = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

    val reps = mutable.ArrayBuffer.empty[Rep]
    var first: Option[Check] = None
    // untraced: the cold one and two warm; traced: two of each kind. Four
    // untraced repetitions of fold_stream would not fit the run budget
    val minReps = if (o.trace) 5 else 3
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    while (reps.size < minReps || System.nanoTime() < deadline) {
      val i = reps.size
      val traced = o.trace && i % 2 == 1
      tracer.foreach(_.reset())
      // every repetition starts from a collected heap, so a full collection
      // left over from the previous one does not land in its time
      System.gc()
      val rep = try {
        val (out, secs) = secondsOf(wl.run(if (traced) tracer else None, i))
        val layers = tracer.filter(_ => traced).map { t =>
          out.probe.foreach(wl.probe(t, _))
          val l = t.rollup() ++ out.counts
          spans += t.dump(i)
          l + ("trace.wall_s" -> secs)
        }.getOrElse(Map.empty)
        // the heap a finished repetition holds: its result, caches and checkpoints
        val (c, heapMb) = try (wl.check(out), liveHeapMb()) finally out.release()
        val expected = first.orElse(if (o.seed == DefaultSeed) pinned.get(o.workload) else None)
        val ok = c.rows > 0 && c.f1 > 0 && expected.forall(_ == c)
        if (!ok) log(s"rep $i: check failed: got $c, expected ${expected.getOrElse("rows > 0 and pair_f1 > 0")}")
        if (first.isEmpty && ok) first = Some(c)
        Rep(traced, secs, if (out.batchSecs.isEmpty) Seq(secs) else out.batchSecs, ok, heapMb, layers)
      } catch {
        case e: Exception =>
          log(s"rep $i failed: $e")
          Rep(traced, 0.0, Nil, ok = false, 0.0, Map.empty)
      }
      log(f"rep $i${if (traced) " traced" else ""}: ${rep.secs}%.3fs live heap ${rep.heapMb}%.1f MB ok=${rep.ok}")
      reps += rep
    }
    val codegenMs = (CodeGenerator.compileTime - codegen0._1) / 1e6
    val codegenClasses = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegen0._2).toDouble

    val plain = reps.filterNot(_.traced)
    val warm = if (plain.size > 1) plain.tail.filter(_.ok) else plain.filter(_.ok)
    val wallS = Stats.median(warm.map(_.secs).toSeq)
    val batches = warm.flatMap(_.batchSecs).toSeq
    val pairs = first.map(wl.pairs).getOrElse(0L)
    val f1 = first.map(_.f1).getOrElse(0.0)
    val failed = reps.count(!_.ok)

    val endToEnd: Seq[(String, String, Double, Seq[Double])] = Seq(
      ("setup_s", "s", setupS, setups.map(_ + sessionS)),
      ("wall_s", "s", wallS, warm.map(_.secs).toSeq),
      ("first_run_s", "s", reps.head.secs, Seq(reps.head.secs)),
      ("records_per_s", "1/s", if (wallS > 0) wl.records / wallS else 0.0, Nil),
      ("pairs_per_s", "1/s", if (wallS > 0) pairs / wallS else 0.0, Nil),
      ("batch_s", "s", Stats.median(batches), batches),
      ("live_heap_mb", "MB", Stats.median(warm.map(_.heapMb).toSeq), warm.map(_.heapMb).toSeq),
      ("pair_f1", "share", f1, Nil))
    endToEnd.foreach { case (n, u, v, samples) =>
      val tail = if (samples.isEmpty) "" else Stats.tail(samples) match {
        case Some((p, x)) => f" (median of ${samples.size}; p$p = $x%.4f $u)"
        case None => f" (median of ${samples.size}; fewer than 11 samples, no tail percentile)"
      }
      println(f"metric $n = $v%.6f $u$tail")
    }
    println(f"metric failed_share = ${failed.toDouble / reps.size}%.6f share ($failed of ${reps.size} repetitions)")
    println(s"inputs: ${wl.records} records, $pairs candidate pairs per repetition; " +
      s"result ${first.map(c => s"rows=${c.rows} hash=${c.hash} pair_f1=${c.f1}").getOrElse("none")}")

    val metrics: Seq[(String, String, Double)] =
      if (!o.trace) endToEnd.map { case (n, u, v, _) => (n, u, v) }
      else {
        val traced = reps.filter(r => r.traced && r.ok)
        val tracedWall = Stats.median(traced.map(_.secs).toSeq)
        val layer = Layers.all.flatMap(l => PerLayer.each.map(m => s"$l.$m"))
        def med(k: String) = Stats.median(traced.map(_.layers.getOrElse(k, 0.0)).toSeq)
        val values = (layer ++ PerLayer.counts).map(k => k -> med(k)).toMap ++ Map(
          "codegen.compile_ms" -> codegenMs,
          "codegen.classes" -> codegenClasses,
          "trace.wall_s" -> tracedWall,
          "trace.overhead_s" -> (tracedWall - wallS),
          "trace.gap_s" -> Stats.median(traced.map(r =>
            r.secs - r.layers.getOrElse("trace.self_sum_s", 0.0)).toSeq))
        println(f"trace: traced wall $tracedWall%.3fs, untraced wall $wallS%.3fs, " +
          f"overhead ${tracedWall - wallS}%.3fs; layer self-time sum ${med("trace.self_sum_s")}%.3fs, " +
          f"gap ${values("trace.gap_s")}%.3fs")
        PerLayer.all.map { case (k, u) => (k, u, values.getOrElse(k, 0.0)) }
      }
    if (o.trace) metrics.foreach { case (n, u, v) => println(s"metric $n = ${Json.num(v)} $u") }
    if (spans.nonEmpty)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(o.work, "spans.jsonl"), spans.mkString)

    val result = Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> reps.size.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, u, v) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    println(result)
    scala.util.Try(spark.stop())
    0
  }
}

/** Names and units of the per-layer metrics. */
object PerLayer {
  val each: Seq[String] = Seq("wall_s", "self_s", "task_s", "gc_s", "idle_share", "stages",
    "tasks", "shuffle_bytes", "spill_bytes", "skew", "rows_in", "rows_out")
  private val units = Map("wall_s" -> "s", "self_s" -> "s", "task_s" -> "s", "gc_s" -> "s",
    "idle_share" -> "share", "stages" -> "count", "tasks" -> "count", "shuffle_bytes" -> "B",
    "spill_bytes" -> "B", "skew" -> "ratio", "rows_in" -> "rows", "rows_out" -> "rows")
  val counts: Seq[String] = Seq("blocking.candidate_pairs", "blocking.hot_keys",
    "matching.pass_ratio", "similarity.pairs_per_s", "cluster.rounds", "io.bytes_written")
  val all: Seq[(String, String)] =
    Layers.all.flatMap(l => each.map(m => s"$l.$m" -> units(m))) ++ Seq(
      "blocking.candidate_pairs" -> "count", "blocking.hot_keys" -> "count",
      "matching.pass_ratio" -> "share", "similarity.pairs_per_s" -> "1/s",
      "cluster.rounds" -> "count", "io.bytes_written" -> "B",
      "codegen.compile_ms" -> "ms", "codegen.classes" -> "count",
      "trace.wall_s" -> "s", "trace.overhead_s" -> "s", "trace.gap_s" -> "s")
}
