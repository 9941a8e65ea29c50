package linkbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.util.Random

/** Seeded input generator. Everything the engine reads is written here
  * as parquet. Documents are drawn from the sf0.1 test corpus, and address
  * keys are customer keys of sf0.1; the seed picks which documents and
  * the order in which the keys arrive, and the sizes are fixed. */
object Gen {

  /** The 5 000 documents (doc_id, text) of the sf0.1 test corpus, in
    * doc_id order, from the gzipped `doc_id<TAB>text` copy at `path`. */
  def pool(path: String): IndexedSeq[(Long, String)] = {
    val in = scala.io.Source.fromInputStream(
      new java.util.zip.GZIPInputStream(new java.io.FileInputStream(path)), "UTF-8")
    try in.getLines().map { l =>
      val tab = l.indexOf('\t')
      (l.take(tab).toLong, l.drop(tab + 1))
    }.toIndexedSeq
    finally in.close()
  }

  /** The prefix of a text's `digits+prefix6` block key (the texts have no digits). */
  private def prefix6(text: String): String = text.toLowerCase.replaceAll("[^a-z0-9]", "").take(6)

  /** How many of `n` sampled documents each block key gets: its share of
    * the pool, rounded by largest remainder (ties by key). The same for
    * every seed, so block sizes and the candidate-pair count barely move
    * with the seed. */
  private def quotas(pool: IndexedSeq[(Long, String)], n: Int): Map[String, Int] = {
    val sizes = pool.groupBy(d => prefix6(d._2)).view.mapValues(_.size).toSeq.sortBy(_._1)
    val exact = sizes.map { case (k, c) => (k, c.toDouble * n / pool.size) }
    val floors = exact.map { case (k, x) => k -> x.toInt }.toMap
    val extra = exact.sortBy { case (k, x) => (-(x - x.toInt), k) }
      .take(n - floors.values.sum).map(_._1).toSet
    floors.map { case (k, q) => k -> (q + (if (extra(k)) 1 else 0)) }
  }

  /** `n` documents of the pool, written as documents.parquet (doc_id, text).
    * The seed picks which documents of each block key are taken; the
    * number per key is fixed by [[quotas]]. */
  def documents(spark: SparkSession, pool: IndexedSeq[(Long, String)], seed: Long, n: Int,
      dir: String): Seq[Long] = {
    import spark.implicits._
    val r = new Random(seed)
    val q = quotas(pool, n)
    val docs = pool.groupBy(d => prefix6(d._2)).toSeq.sortBy(_._1)
      .flatMap { case (k, ds) => r.shuffle(ds).take(q(k)) }
    docs.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    docs.map(_._1)
  }

  /** The address fixture derives the blocking attributes (street name and
    * number) from a key modulo 204. */
  private val AddressCycle = 204

  /** The first `n` customer keys of sf0.1 (c_custkey 0 until n, the only
    * column the address fixture reads): key i has residue i % 204. */
  def addressKeys(n: Int): Seq[Long] = 0L until n.toLong

  /** The first `n` of `keys` in a seeded arrival order. The seed shuffles
    * the keys of each residue modulo 204 among that residue's positions,
    * so the arriving set and each batch's block-size histogram are fixed,
    * and the seed decides which keys of a residue arrive in which batch.
    * The fixture's other attributes vary with the key itself, so a seed
    * that picked other keys would change the number of matches. */
  def arrivals(seed: Long, keys: Seq[Long], n: Int): Seq[Long] = {
    val r = new Random(seed)
    val first = keys.take(n)
    val byResidue = first.groupBy(_ % AddressCycle).toSeq.sortBy(_._1)
      .map { case (k, v) => k -> r.shuffle(v).iterator }.toMap
    first.map(k => byResidue(k % AddressCycle).next())
  }

  def writeKeys(spark: SparkSession, keys: Seq[Long], dir: String): Unit = {
    import spark.implicits._
    keys.toDF("c_custkey").coalesce(1).write.mode("overwrite").parquet(s"$dir/customer.parquet")
  }

  /** Latent-entity labels (id, entity, side) for transcript records
    * c<doc>_<variant>: side 0 = variant 0, side 1 = the rest. */
  def transcriptLabels(spark: SparkSession, docIds: Seq[Long], variants: Int): DataFrame = {
    import spark.implicits._
    (for (d <- docIds; v <- 0 until variants)
      yield (s"c${d}_$v", d.toString, if (v == 0) 0 else 1)).toDF("id", "entity", "side")
  }

  /** Labels for the address fixture: left id k, right ids rk and sk. */
  def addressLabels(spark: SparkSession, left: Seq[Long], right: Seq[Long]): DataFrame = {
    import spark.implicits._
    (left.map(k => (k.toString, k.toString, 0)) ++
      right.flatMap(k => Seq((s"r$k", k.toString, 1), (s"s$k", k.toString, 1))))
      .toDF("id", "entity", "side")
  }

  def write(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }
}
