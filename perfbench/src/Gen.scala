package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator. Every table is a pure function of
  * (seed, sizes): the same seed gives byte-identical rows, and the
  * engine only ever sees the parquet files written from them.
  *
  * Schemas follow the engine's fixture contract (`Tables`):
  * `embeddings(vec_id BIGINT, embedding ARRAY<FLOAT>, label INT)` and
  * `documents(doc_id BIGINT, text STRING, lang STRING, source STRING,
  * n_chars BIGINT)`.
  */
object Gen {
  final case class Vecs(ids: Array[Long], vecs: Array[Array[Float]], labels: Array[Int]) {
    def n: Int = ids.length
  }
  final case class Docs(ids: Array[Long], texts: Array[String], langs: Array[String],
                        sources: Array[String]) {
    def n: Int = ids.length
  }

  /** Clustered corpus: `clusters` centres drawn uniform in
    * [-0.25, 0.25)^dim, points = centre + N(0, 0.06²) per dim;
    * `label` is the cluster. Within-cluster squared distances sit
    * near 0.46 and between-cluster ones near 3, so IVF cells, label
    * filters and block pruning all see real structure. */
  def clustered(seed: Long, n: Int, dim: Int, clusters: Int): Vecs = {
    val r = new SplittableRandom(seed * 0x9e3779b97f4a7c15L + 1)
    val centres = Array.fill(clusters, dim)((r.nextDouble() - 0.5) * 0.5)
    val labels = Array.fill(n)(r.nextInt(clusters))
    val vecs = labels.map { c =>
      val cv = centres(c)
      Array.tabulate(dim)(j => (cv(j) + gauss(r) * 0.06).toFloat)
    }
    Vecs(Array.tabulate(n)(_.toLong), vecs, labels)
  }

  /** Uniform corpus in the envelope of the engine's reference fixture
    * (per-dim uniform with std 0.125) with a `dupShare` of rows
    * replaced by near-copies (±0.02 per dim) of earlier rows. Returns
    * the corpus and the planted (copy, original) pairs. */
  def withNearDups(seed: Long, n: Int, dim: Int, dupShare: Double): (Vecs, Seq[(Long, Long)]) = {
    val r = new SplittableRandom(seed * 0x9e3779b97f4a7c15L + 2)
    val vecs = Array.fill(n, dim)(((r.nextDouble() - 0.5) * 0.433).toFloat)
    val pairs = plantedRows(r, n, dupShare).map { case (copy, orig) =>
      vecs(copy) = vecs(orig).map(x => (x + (r.nextDouble() - 0.5) * 0.04).toFloat)
      (copy.toLong, orig.toLong)
    }
    (Vecs(Array.tabulate(n)(_.toLong), vecs, Array.tabulate(n)(i => i % 10)), pairs)
  }

  private val Vocab = Array("a", "the", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "value", "vector", "window")
  private val Langs = Array("de", "en", "es", "fr", "zh")

  /** Documents in the style of the engine's reference fixture: 5
    * languages × 20 sources, 10–90 words from a 30-word vocabulary.
    * A `dupShare` of documents are near-copies of earlier ones (one
    * word replaced), and a further third of that share are exact
    * copies, so every dedup operator has true positives to find.
    * Returns the corpus and the planted (copy, original) pairs. */
  def documents(seed: Long, n: Int, dupShare: Double): (Docs, Seq[(Long, Long)]) = {
    val r = new SplittableRandom(seed * 0x9e3779b97f4a7c15L + 3)
    val texts = Array.fill(n) {
      Array.fill(10 + r.nextInt(81))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
    }
    val pairs = plantedRows(r, n, dupShare).map { case (copy, orig) =>
      val w = texts(orig).split(" ")
      if (r.nextInt(3) != 0) w(r.nextInt(w.length)) = Vocab(r.nextInt(Vocab.length))
      texts(copy) = w.mkString(" ")
      (copy.toLong, orig.toLong)
    }
    val langs = Array.fill(n)(Langs(r.nextInt(Langs.length)))
    val sources = Array.fill(n)(s"src${r.nextInt(20)}")
    (Docs(Array.tabulate(n)(_.toLong), texts, langs, sources), pairs)
  }

  /** (copy, original) row pairs: `share` of the rows in the upper half
    * become copies of a uniformly chosen earlier row that is itself
    * not a copy. */
  private def plantedRows(r: SplittableRandom, n: Int, share: Double): Seq[(Int, Int)] = {
    val copies = scala.collection.mutable.LinkedHashSet.empty[Int]
    val want = math.min((n * share).toInt, n / 2)
    while (copies.size < want) copies += n / 2 + r.nextInt(n - n / 2)
    copies.toSeq.sorted.map(c => (c, r.nextInt(n / 2)))
  }

  private def gauss(r: SplittableRandom): Double = {
    // Box–Muller on two uniforms in (0, 1]
    val u = 1.0 - r.nextDouble()
    val v = r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * v)
  }

  /** Order-sensitive 64-bit fingerprint of generated inputs. */
  def fingerprint(v: Vecs): Long = {
    var h = 1125899906842597L
    var i = 0
    while (i < v.n) {
      h = 31 * h + v.ids(i)
      h = 31 * h + v.labels(i)
      v.vecs(i).foreach(x => h = 31 * h + java.lang.Float.floatToIntBits(x))
      i += 1
    }
    h
  }
  def fingerprint(d: Docs): Long =
    (0 until d.n).foldLeft(1125899906842597L) { (h, i) =>
      31 * (31 * (31 * h + d.ids(i)) + d.texts(i).hashCode) +
        (d.langs(i) + d.sources(i)).hashCode
    }

  private val VecSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))
  private val DocSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** One parquet file per table, like the reference fixtures. */
  def writeVecs(s: SparkSession, dir: String, v: Vecs): Unit = {
    val rows = (0 until v.n).map(i => Row(v.ids(i), v.vecs(i).toSeq, v.labels(i)))
    s.createDataFrame(s.sparkContext.parallelize(rows, 1), VecSchema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }
  def writeDocs(s: SparkSession, dir: String, d: Docs): Unit = {
    val rows = (0 until d.n).map(i =>
      Row(d.ids(i), d.texts(i), d.langs(i), d.sources(i), d.texts(i).length.toLong))
    s.createDataFrame(s.sparkContext.parallelize(rows, 1), DocSchema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }
}
