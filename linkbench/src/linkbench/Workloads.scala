package linkbench

import graft.blocking.BlockKeys
import graft.cluster.ConnectedComponents
import graft.fixtures.AddressFixture
import graft.io.TableIO
import graft.matching.{MatchConfig, Matcher}
import graft.normalize.Normalizer
import graft.similarity.FuzzFunctions
import graft.streaming.StreamingLink
import graft.transcripts.Transcripts
import graft.util.CheckpointHygiene
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** A repetition's result, materialized (cached, checkpointed or committed). */
final case class Outcome(
    result: DataFrame,
    /** Per-micro-batch latencies; one entry, the whole run, for batch workloads. */
    batchSecs: Seq[Double],
    /** Layer counters a traced repetition measured. */
    counts: Map[String, Double] = Map.empty,
    /** Input of the scorer probe, for a traced repetition that blocks. */
    probe: Option[Probe] = None,
    release: () => Unit = () => ())

/** The two sides a repetition matched, their text column, and the config
  * whose block key pairs them and whose scorer rates the pairs. */
final case class Probe(left: DataFrame, right: DataFrame, text: String, cfg: MatchConfig)

/** Result fingerprint: rows, order-insensitive hash, pairwise F1. */
final case class Check(rows: Long, hash: Long, f1: Double)

/** One benchmark workload: seeded inputs, one closed-loop repetition, and
  * the check of its result. The engine is called only through its public
  * functions. In a traced repetition every layer's output is materialized
  * inside that layer's span, so the spans partition the work. */
abstract class Workload(val spark: SparkSession, val work: String, val seed: Long) {
  /** Generate the inputs into `dir` and fill caches. */
  def setup(dir: String): Unit
  /** Input records one repetition links. */
  def records: Long
  /** Candidate pairs one repetition scores, computed after the measured
    * window; `result` is the checked result of the first repetition. */
  def pairs(result: Check): Long
  def run(t: Option[Tracer], rep: Int): Outcome
  /** Pairwise F1 of a result against the latent entities. */
  protected def f1(result: DataFrame): Double

  def check(o: Outcome): Check = {
    val (rows, hash) = fingerprint(o.result)
    Check(rows, hash, f1(o.result))
  }

  protected val held = mutable.ArrayBuffer.empty[DataFrame]
  protected def keep(df: DataFrame): DataFrame = { held += df; df }
  protected def releaseHeld(): () => Unit = {
    val hs = held.toList
    held.clear()
    () => hs.foreach(_.unpersist(blocking = true))
  }

  /** Materialize `df` as the output of `s`. */
  protected def materialize(s: Span, rowsIn: Long, df: DataFrame): DataFrame = {
    val d = keep(df.persist())
    s.rowsIn = rowsIn
    s.rowsOut = d.count()
    d
  }

  /** Score up to ProbeMax candidate pairs with the scorer kernel alone, in
    * a `similarity` span outside the chain. The pairs are built by a block
    * join of the probe's own, and materialized before the span opens. */
  def probe(t: Tracer, p: Probe): Unit = {
    def keyed(df: DataFrame, side: String) =
      df.select(col(p.text).as(s"${side}_text"), BlockKeys.blockKey(col(p.text), p.cfg.blockBy).as("bk"))
    val pairs = keyed(p.left, "left").join(keyed(p.right, "right"), "bk")
      .select("left_text", "right_text").limit(Workload.ProbeMax)
      .repartition(Main.Cores).persist()
    val n = pairs.count()
    t.span("similarity") { s =>
      pairs.agg(sum(FuzzFunctions.scorer(p.cfg.scorer)(col("left_text"), col("right_text")))).collect()
      s.rowsIn = n
      s.rowsOut = n
    }
    pairs.unpersist(blocking = true)
  }

  protected def candidateCount(l: DataFrame, r: DataFrame, cfg: MatchConfig,
      text: String): Long =
    Matcher.blockHistogram(l, r, cfg, text).agg(sum("pairs")).head().getLong(0)

  protected def fingerprint(df: DataFrame): (Long, Long) = {
    val h = xxhash64(df.columns.map(col).toSeq: _*).cast("decimal(38,0)")
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1).longValue)
  }

  /** Pairwise F1 of a clustering (id, component) against labels
    * (id, entity, side); unclustered records are singletons. */
  protected def clusterF1(clusters: DataFrame, labels: DataFrame): Double = {
    def pairs(df: DataFrame, keys: String*): Long =
      df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(col("n") * (col("n") - 1) / 2), lit(0.0))).head().getDouble(0).toLong
    val joined = clusters.join(labels, "id")
    f1(pairs(joined, "component", "entity"), pairs(clusters, "component"), pairs(labels, "entity"))
  }

  /** Pairwise F1 of linked pairs (left_id, right_id) against the true
    * cross-side pairs of the labels. */
  protected def linkF1(links: DataFrame, labels: DataFrame): Double = {
    val l = labels.select(col("id").as("left_id"), col("entity").as("le"))
    val r = labels.select(col("id").as("right_id"), col("entity").as("re"))
    val distinct = links.select("left_id", "right_id").distinct()
    val tp = distinct.join(l, "left_id").join(r, "right_id").filter(col("le") === col("re")).count()
    val t = labels.groupBy("entity")
      .agg(sum(when(col("side") === 0, 1L).otherwise(0L)).as("nl"),
        sum(when(col("side") === 1, 1L).otherwise(0L)).as("nr"))
      .agg(coalesce(sum(col("nl") * col("nr")), lit(0L))).head().getLong(0)
    f1(tp, distinct.count(), t)
  }

  private def f1(tp: Long, predicted: Long, truth: Long): Double =
    if (predicted + truth == 0) 0.0 else 2.0 * tp / (predicted + truth)
}

object Workload {
  val ProbeMax = 100000

  val names: Seq[String] = Seq("link_batch", "fold_stream")

  def apply(name: String, spark: SparkSession, work: String, seed: Long,
      data: String): Workload = name match {
    case "link_batch" => new LinkBatch(spark, work, seed, s"$data/sf0.1-documents.tsv.gz")
    case "fold_stream" => new FoldStream(spark, work, seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other'; expected one of ${names.mkString(", ")}")
  }

  /** Turn table -> conversation docs (conv_id, variant, doc). */
  def convDocs(turns: DataFrame): DataFrame =
    turns.groupBy(col("conv_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("turn_idx"), col("text")))),
        x => x.getField("text")), "").as("doc"))
      .select(col("conv_id"),
        regexp_extract(col("conv_id"), "_([0-9]+)$", 1).cast("int").as("variant"),
        col("doc"))

  def normalized(conv: DataFrame): DataFrame =
    conv.select(col("conv_id"), col("variant"), Normalizer.normalize(col("doc")).as("text_norm"))
}

/** Transcripts (12 variants per document) -> normalize -> block on
  * digits+prefix6 -> token_set_ratio -> top-3 -> connected components,
  * from the generated documents on disk to the committed clustering. */
final class LinkBatch(spark: SparkSession, work: String, seed: Long, pool: String)
    extends Workload(spark, work, seed) {
  /** A fifth of the sf0.1 corpus. */
  val Docs = 1000
  val Variants = 12
  val cfg: MatchConfig = MatchConfig.reference.copy(saltBuckets = 8)
  private var dir = ""
  private var labels: DataFrame = _

  def setup(d: String): Unit = {
    val ids = Gen.documents(spark, Gen.pool(pool), seed, Docs, d)
    labels = Gen.transcriptLabels(spark, ids, Variants)
    dir = d
  }

  def records: Long = Docs.toLong * Variants

  private def turns: DataFrame = Transcripts.turns(spark, dir, Variants).toDF()
  private def sides(norm: DataFrame) =
    (norm.filter(col("variant") === 0), norm.filter(col("variant") > 0))

  def pairs(result: Check): Long = {
    val (l, r) = sides(Workload.normalized(Workload.convDocs(turns)))
    candidateCount(l, r, cfg, "text_norm")
  }

  def run(t: Option[Tracer], rep: Int): Outcome = t match {
    case None =>
      val norm = keep(Workload.normalized(Workload.convDocs(turns)).cache())
      val (l, r) = sides(norm)
      val hot = Matcher.hotBlockKeys(l, r, cfg, "text_norm")
      val m = Matcher.matchPairs(l, r, cfg.copy(knownHotKeys = Some(hot)), "conv_id", "text_norm")
      val clusters = ConnectedComponents.run(m, "left_id", "right_id")
      Outcome(clusters, Nil, release = andFree(clusters, releaseHeld()))
    case Some(tr) =>
      val (conv, nConv) = tr.span("transcripts")(s =>
        (materialize(s, Docs, Workload.convDocs(turns)), s.rowsOut))
      val norm = tr.span("normalize")(s => materialize(s, nConv, Workload.normalized(conv)))
      val (l, r) = sides(norm)
      // the engine's block join runs inside scoredPairs, so it counts as matching
      val (hot, nCands) = tr.span("blocking") { s =>
        val hist = materialize(s, nConv, Matcher.blockHistogram(l, r, cfg, "text_norm"))
        val n = hist.agg(coalesce(sum("pairs"), lit(0L))).head().getLong(0)
        (Matcher.hotBlockKeys(l, r, cfg, "text_norm"), n)
      }
      val (nScored, m, nMatches) = tr.span("matching") { s =>
        val scored = keep(Matcher.scoredPairs(l, r, cfg.copy(knownHotKeys = Some(hot)),
          "conv_id", "text_norm").persist())
        val n = scored.count()
        (n, materialize(s, nCands, Matcher.rankTopK(scored, cfg.topk)), s.rowsOut)
      }
      val clusters = tr.span("cluster") { s =>
        val c = ConnectedComponents.run(m, "left_id", "right_id")
        s.rowsIn = nMatches
        s.rowsOut = c.count()
        c
      }
      Outcome(clusters, Nil,
        Map("blocking.candidate_pairs" -> nCands.toDouble, "blocking.hot_keys" -> hot.size.toDouble,
          "matching.pass_ratio" -> (if (nCands > 0) nScored.toDouble / nCands else 0.0)),
        Some(Probe(l, r, "text_norm", cfg)),
        andFree(clusters, releaseHeld()))
  }

  protected def f1(result: DataFrame): Double = clusterF1(result, labels)

  private def andFree(df: DataFrame, rest: () => Unit): () => Unit =
    () => { CheckpointHygiene.free(df); rest() }
}

/** A committed address left side; the right side arrives as seeded
  * micro-batches folded through StreamingLink.foldBatch (lev_ratio + geo,
  * snapshot commits, incremental connected components). A repetition
  * folds every batch into a fresh table root. */
final class FoldStream(spark: SparkSession, work: String, seed: Long)
    extends Workload(spark, work, seed) {
  val LeftRows = 4000
  val Batches = 2
  val BatchKeys = 300 // two right rows (the r and s spellings) per key
  val cfg: MatchConfig = MatchConfig(scorer = "lev_ratio", threshold = 75, topk = 3,
    blockBy = "digits+prefix6", wDigits = 0.15, wGeo = 0.05, geoMaxKm = 1.5, saltBuckets = 8)
  private var left: DataFrame = _
  private var right = ""
  private var labels: DataFrame = _

  private def batch(b: Int) = spark.read.parquet(s"$right/batch=$b")

  def setup(d: String): Unit = {
    val keys = Gen.addressKeys(LeftRows)
    val arriving = Gen.arrivals(seed, keys, Batches * BatchKeys)
    Gen.writeKeys(spark, keys, s"$d/left")
    Gen.writeKeys(spark, arriving, s"$d/right")
    left = Gen.write(normAddr(AddressFixture.left(spark, s"$d/left")), s"$d/left_norm.parquet")
    // the batch of a right row is the position of its key in the arrival order
    val batchOf = spark.createDataFrame(arriving.zipWithIndex.map { case (k, i) => (k, i / BatchKeys) })
      .toDF("key", "batch")
    right = s"$d/right.parquet"
    AddressFixture.rightAll(spark, s"$d/right")
      .join(batchOf, regexp_extract(col("id"), "[0-9]+", 0).cast("long") === col("key"))
      .drop("key").write.mode("overwrite").partitionBy("batch").parquet(right)
    labels = Gen.addressLabels(spark, keys, arriving)
  }

  private def normAddr(df: DataFrame) =
    df.withColumn("address_norm", Normalizer.normalizeAddress(col("address")))

  def records: Long = 2L * Batches * BatchKeys

  def pairs(result: Check): Long =
    (0 until Batches).map(b => candidateCount(left, normAddr(batch(b)), cfg, "address_norm")).sum

  private def root(rep: Int) = java.nio.file.Paths.get(work, "fold", s"rep$rep")

  def run(t: Option[Tracer], rep: Int): Outcome = {
    val dir = root(rep).toString
    Dirs.deleteTree(root(rep))
    val secs = (0 until Batches).map { b =>
      val t0 = System.nanoTime()
      t match {
        case None =>
          StreamingLink.foldBatch(normAddr(batch(b)), left, cfg, dir,
            "id", "address_norm", hasGeo = true, batchId = b.toLong)
        case Some(tr) =>
          val normed = tr.span("normalize")(s =>
            materialize(s, 2L * BatchKeys, normAddr(batch(b))))
          tr.span("streaming", refine = true) { s =>
            StreamingLink.foldBatch(normed, left, cfg, dir, "id", "address_norm",
              hasGeo = true, batchId = b.toLong)
            s.rowsIn = 2L * BatchKeys
          }
      }
      (System.nanoTime() - t0) / 1e9
    }
    val rel = releaseHeld()
    Outcome(TableIO.readTable(spark, dir, "clusters"), secs,
      release = () => { rel(); Dirs.deleteTree(root(rep)) })
  }

  protected def f1(result: DataFrame): Double = clusterF1(result, labels)
}

object Dirs {
  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => java.nio.file.Files.delete(x))
      finally s.close()
    }
}
