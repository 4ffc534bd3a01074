package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import java.util.SplittableRandom

/** Seeded input generators. They live with the benchmark, not in
  * graft.datasets, so a change to the library cannot change what the
  * benchmark feeds it. The same seed gives the same rows on any core count:
  * every generator partition draws from its own stream, keyed by
  * (seed, partition), and the partition count is a constant here. */
object Inputs {

  /** Generator partitions of the distributed GLM generators. */
  val GenParts = 8

  // ---------------------------------------------------------------- GLM

  /** BASELINE shape: the reference notebook's 6.4×10⁵-row, 5-feature taxi
    * split (VendorID, passenger_count, trip_distance, payment_type,
    * fare_amount; label tip_amount > 0). */
  val TallRows = 640000
  val TallP = 5

  /** Wide dense design: few rows, p = 100, so the p² Hessian and the
    * driver-side solver loops dominate and ingest is small. */
  val WideRows = 20000
  val WideP = 100

  private val featureSchema = (labels: Seq[String]) => StructType(
    StructField("features", ArrayType(DoubleType, containsNull = false), nullable = false) +:
      labels.map(l => StructField(l, DoubleType, nullable = false)))

  private def sigmoid(x: Double): Double = 1.0 / (1.0 + math.exp(-x))

  private def poisson(rng: SplittableRandom, mean: Double): Double = {
    val l = math.exp(-mean)
    var k = 0
    var p = rng.nextDouble()
    while (p > l) { k += 1; p *= rng.nextDouble() }
    k.toDouble
  }

  private def generate(spark: SparkSession, seed: Long, rows: Int,
      labels: Seq[String])(row: SplittableRandom => Row): DataFrame = {
    val parts = GenParts
    val rdd = spark.sparkContext.parallelize(0 until parts, parts).flatMap { part =>
      val rng = new SplittableRandom(seed * 1000003L + part)
      val n = (part + 1).toLong * rows / parts - part.toLong * rows / parts
      Iterator.fill(n.toInt)(row(rng))
    }
    spark.createDataFrame(rdd, featureSchema(labels))
  }

  /** Generated with column expressions: Spark's rand/randn draw from
    * (seed, partition index), and the range's partition count is fixed. */
  def glmTall(spark: SparkSession, seed: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    def u(k: Int) = rand(seed * 64 + k)
    def g(k: Int) = randn(seed * 64 + k)
    // Poisson(0.6) by inverse CDF over its first terms
    val pc = (0 to 5).scanLeft(0.0)((acc, k) =>
      acc + math.exp(-0.6) * math.pow(0.6, k) / (1 to k).product).tail
    val passengers = pc.zipWithIndex.foldRight(lit(6.0)) { case ((c, k), rest) =>
      when(col("__u1") < c, lit(k.toDouble)).otherwise(rest)
    } + 1.0
    spark.range(0, TallRows, 1, GenParts)
      .select(
        (lit(1.0) + (u(0) < 0.55).cast("double")).as("vendor"),
        u(1).as("__u1"),
        exp(lit(0.7) + g(2) * 0.8).as("distance"),
        when(u(3) < 0.62, 1.0).otherwise(2.0).as("payment"),
        abs(g(4) * 1.5).as("__fare_noise"),
        u(5).as("__u5"))
      .withColumn("passengers", passengers)
      .withColumn("fare", lit(2.5) + col("distance") * 2.6 + col("__fare_noise"))
      .withColumn("__m", lit(-1.2) + col("vendor") * 0.15 - col("passengers") * 0.05 +
        col("distance") * 0.08 + when(col("payment") === 1.0, 2.4).otherwise(-1.6) +
        col("fare") * 0.01)
      .select(
        array(col("vendor"), col("passengers"), col("distance"), col("payment"),
          col("fare")).as("features"),
        (col("__u5") < lit(1.0) / (lit(1.0) + exp(-col("__m")))).cast("double").as("label"))
  }

  /** One design matrix with a label per family the wide workload fits. The
    * true coefficients are drawn from `seed` too, so every seed is a
    * different problem of the same shape and conditioning. */
  def glmWide(spark: SparkSession, seed: Long): DataFrame = {
    val p = WideP
    val coefRng = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val scale = Array.tabulate(p)(j => 0.5 + (j % 5))
    val shift = Array.tabulate(p)(j => (j % 3) - 1.0)
    val beta = Array.fill(p)(coefRng.nextGaussian() * 1.2 / math.sqrt(p))
    generate(spark, seed, WideRows,
        Seq("label_logistic", "label_poisson", "label_normal")) { rng =>
      val z = Array.fill(p)(rng.nextGaussian())
      val x = Array.tabulate(p)(j => shift(j) + scale(j) * z(j))
      var m = 0.0
      var j = 0
      while (j < p) { m += z(j) * beta(j); j += 1 }
      Row(x.toSeq,
        if (rng.nextDouble() < sigmoid(m - 0.3)) 1.0 else 0.0,
        poisson(rng, math.exp(0.4 + 0.4 * m)),
        2.0 + 3.0 * m + rng.nextGaussian())
    }
  }

  // ------------------------------------------------------------- corpus

  /** Corpus shape. Unique documents are the majority. The planted groups
    * are what the dedup and similarity ops must find, sized so the verified
    * pair graph has more than 10⁵ symmetrized edges (clusterPairs' local
    * threshold) while a pass stays short:
    *  - chains of successive one-word edits: neighbours verify, chain ends
    *    do not, so the pair graph has long paths;
    *  - template families (one base, each member one edit off it): dense
    *    components, most of the verified pairs;
    *  - one boilerplate flood above Dedup.DefaultMaxBucket: star pairs;
    *  - short and symbol-heavy documents the Gopher rules drop. */
  val DocWords = (24, 34)
  val MinWords = 20
  /** Words in a chain or template document: 32 shingles, so one edit
    * apart is Jaccard ≈ 0.84 and two apart ≈ 0.68. */
  val PlantedWords = 34
  val UniqueDocs = 9000
  val ChainCount = 150
  val ChainLength = 8
  val TemplateCount = 40
  val TemplateSize = 56
  val FloodSize = 4200
  val ShortDocs = 500
  val SymbolDocs = 400
  val EmbDim = 32
  val EmbClusters = 600
  val EmbClusterSize = 4

  val StopWords: Array[String] =
    Array("the", "be", "to", "of", "and", "that", "have", "with")

  /** A generated corpus plus the ground truth the checks compare against.
    * Arrays are indexed by document id. */
  final class Corpus(
      val text: Array[String],
      val emb: Array[Array[Double]],
      /** planted near-duplicate chains, ids in edit order */
      val chains: Array[Array[Long]],
      val flood: Array[Long],
      /** documents built to fail the Gopher rules */
      val lowQuality: Set[Long],
      /** planted embedding clusters (each member within noise of a base) */
      val embClusters: Array[Array[Long]]) {
    def size: Int = text.length
  }

  def corpus(seed: Long): Corpus = {
    val rng = new SplittableRandom(seed * 7919L + 17L)
    val vocab = Array.fill(4000) {
      val len = 3 + rng.nextInt(7)
      new String(Array.fill(len)(('a' + rng.nextInt(26)).toChar))
    }
    def word(): String = vocab(rng.nextInt(vocab.length))
    // every document opens with two distinct stop words, so the Gopher
    // stop-word rule never depends on chance; edits never touch them
    def doc(words: Int): Array[String] = {
      val s1 = rng.nextInt(StopWords.length)
      val s2 = (s1 + 1 + rng.nextInt(StopWords.length - 1)) % StopWords.length
      Array(StopWords(s1), StopWords(s2)) ++ Array.fill(words - 2) {
        if (rng.nextDouble() < 0.1) StopWords(rng.nextInt(StopWords.length)) else word()
      }
    }
    def words(): Int = DocWords._1 + rng.nextInt(DocWords._2 - DocWords._1 + 1)
    def edit(d: Array[String]): Array[String] = {
      val e = d.clone()
      e(2 + rng.nextInt(e.length - 2)) = word()
      e
    }
    def gauss(): Array[Double] = Array.fill(EmbDim)(rng.nextGaussian())

    val docs = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    def add(d: Array[String]): Int = { docs += d; docs.length - 1 }
    val uniques = (0 until UniqueDocs).map(_ => add(doc(words())))
    // a chain edits a different position at every step, so its ends differ
    // in ChainLength − 1 places and fall below the verification threshold
    val chains = Array.fill(ChainCount) {
      var cur = doc(PlantedWords)
      val positions = Array.range(2, PlantedWords)
      for (i <- positions.length - 1 to 1 by -1) {
        val j = rng.nextInt(i + 1)
        val t = positions(i); positions(i) = positions(j); positions(j) = t
      }
      Array.tabulate(ChainLength) { k =>
        val i = add(cur)
        cur = cur.clone()
        cur(positions(k)) = word()
        i
      }
    }
    for (_ <- 0 until TemplateCount) {
      val base = doc(PlantedWords)
      for (_ <- 0 until TemplateSize) add(edit(base))
    }
    val boilerplate = doc(PlantedWords)
    val flood = Array.fill(FloodSize)(add(boilerplate))
    val low = (0 until ShortDocs).map(_ => add(doc(5 + rng.nextInt(11)))) ++
      (0 until SymbolDocs).map { _ =>
        val d = doc(words())
        for (i <- 2 until d.length by 3) d(i) = "#" + d(i)
        add(d)
      }

    // ids: a seeded permutation, so no planted group occupies an id range
    val n = docs.length
    val perm = Array.range(0, n)
    for (i <- n - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    // ids rise along every chain (each edit gets a later id than the
    // document it copies), so every chain has the same id layout and
    // clusterPairs needs the same number of rounds for every seed; a
    // random order inside chains makes the round count, and so pass_s,
    // depend on the seed
    for (c <- chains) {
      val sorted = c.map(perm(_)).sorted
      for (k <- c.indices) perm(c(k)) = sorted(k)
    }
    val text = new Array[String](n)
    val emb = new Array[Array[Double]](n)
    for (i <- 0 until n) { text(perm(i)) = docs(i).mkString(" "); emb(perm(i)) = gauss() }
    // embedding clusters over distinct unique documents
    val clusters = Array.tabulate(EmbClusters) { c =>
      val base = gauss()
      Array.tabulate(EmbClusterSize) { k =>
        val id = perm(uniques(c * EmbClusterSize + k))
        emb(id) = base.map(_ + 0.1 * rng.nextGaussian())
        id.toLong
      }
    }
    def ids(xs: Array[Int]): Array[Long] = xs.map(i => perm(i).toLong)
    new Corpus(text, emb, chains.map(ids), ids(flood),
      low.map(i => perm(i).toLong).toSet, clusters)
  }

  def corpusFrame(spark: SparkSession, c: Corpus, parts: Int): DataFrame = {
    val rows = (0 until c.size).map(i => Row(i.toLong, c.text(i), c.emb(i).toSeq))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("text", StringType, nullable = false),
      StructField("embedding", ArrayType(DoubleType, containsNull = false), nullable = false))))
  }
}
