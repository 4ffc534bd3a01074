package graft

import graft.estimators.Metrics
import graft.functions.MathFunctions._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // local mode may surface a kernel's IllegalArgumentException bare or
  // wrapped (SparkException / AnalysisException) — match through the chain
  private def causeChainHas(t: Throwable, msg: String): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(6)
      .exists(e => Option(e.getMessage).exists(_.contains(msg)))

  test("sigmoid / log1pexp values and stability") {
    val df = Seq(-800.0, -10.0, 0.0, 10.0, 800.0).toDF("x")
    val rows = df.select(col("x"), sigmoid(col("x")).as("s"), log1pexp(col("x")).as("l"))
      .orderBy("x").collect()
    assert(rows.map(_.getDouble(1)).forall(v => v >= 0 && v <= 1))
    assert(rows(0).getDouble(2) == 0.0) // log1pexp(-800) finite, not NaN
    assert(math.abs(rows(2).getDouble(1) - 0.5) < 1e-15)
    assert(math.abs(rows(2).getDouble(2) - math.log(2)) < 1e-15)
    assert(rows(4).getDouble(2) == 800.0) // large-x asymptote
  }

  test("null array ELEMENTS propagate to null scores; index kernels fail fast") {
    // the HOF compositions the native folds replaced returned NULL for a
    // null element; getDouble on a null slot would fold a garbage 0.0.
    // Score expressions (dot/sqdist/cosine/quantize) propagate null —
    // every ranker filters null/NaN scores; INDEX kernels (cells, codes,
    // signatures, projections) throw — a zero-patched vector would be
    // silently misassigned, not filterably wrong.
    val df = Seq(
      (1L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](1.0, 1.0)),
      (2L, Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 1.0))
    ).toDF("id", "a", "b")
    val out = df.select(col("id"),
        graft.functions.ArrayMath.dot(col("a"), col("b")).as("d"),
        graft.functions.ArrayMath.sqDist(col("a"), col("b")).as("s"),
        graft.functions.ArrayMath.cosineSim(col("a"), col("b")).as("c"),
        graft.ops.Similarity.quantizeInt8(col("a")).as("q"))
      .orderBy("id").collect()
    assert(out(0).getDouble(1) == 3.0 && !out(0).isNullAt(2) &&
      !out(0).isNullAt(3) && !out(0).isNullAt(4))
    assert(out(1).isNullAt(1) && out(1).isNullAt(2) && out(1).isNullAt(3) &&
      out(1).isNullAt(4))
    // tail-loop null (beyond the common prefix) also nulls the cosine
    val tail = Seq((Seq[java.lang.Double](1.0), Seq[java.lang.Double](1.0, null)))
      .toDF("a", "b")
      .select(graft.functions.ArrayMath.cosineSim(col("a"), col("b")).as("c"))
      .head()
    assert(tail.isNullAt(0))
    val dirty = df.filter(col("id") === 2)
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val err = intercept[Exception] {
      dirty.select(graft.ops.Similarity.ivfCell(col("a"), cents)).collect()
    }
    assert(causeChainHas(err, "NULL element"), err.toString)
    val err2 = intercept[Exception] {
      dirty.select(graft.ops.Similarity.randomProject(col("a"),
        fromDim = 2, toDim = 2)).collect()
    }
    assert(causeChainHas(err2, "NULL element"), err2.toString)
  }

  test("arrayDot / norm / cosine") {
    val df = Seq((Array(1.0, 2.0, 2.0), Array(2.0, 0.0, 1.0))).toDF("a", "b")
    val r = df.select(
      arrayDot(col("a"), col("b")).as("d"),
      arrayNorm(col("a")).as("na"),
      cosineSim(col("a"), col("a")).as("cs")).head()
    assert(r.getDouble(0) == 4.0)
    assert(r.getDouble(1) == 3.0)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
  }

  test("native ArrayDot/ArraySqDist ≡ HOF fold bit-for-bit, and codegen'd") {
    val e = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val plane = (0 until 64).map(i => math.sin(i * 131.0 + 523.0))
    val hofDot = aggregate(zip_with(col("v"), typedLit(plane), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val hofSq = aggregate(zip_with(col("v"), typedLit(plane), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)
    val df = e.select(col("vec_id"),
      graft.functions.ArrayMath.dot(col("v"), typedLit(plane)).as("nd"),
      hofDot.as("hd"),
      graft.functions.ArrayMath.sqDist(col("v"), typedLit(plane)).as("ns"),
      hofSq.as("hs"))
    val rows = df.collect()
    // identical left fold → identical doubles, not just approx
    assert(rows.forall(r => r.getDouble(1) == r.getDouble(2)))
    assert(rows.forall(r => r.getDouble(3) == r.getDouble(4)))
    // the native projection stays inside whole-stage codegen
    val lean = e.select(graft.functions.ArrayMath.dot(col("v"), typedLit(plane)).as("d"))
    lean.collect()
    val plan = lean.queryExecution.executedPlan.toString
    val dotLines = plan.linesIterator.filter(_.contains("array_dot")).toSeq
    assert(dotLines.nonEmpty && dotLines.exists(_.contains("*(")), plan)
  }

  test("fused ArrayCosineSim ≡ dot/(norm·norm) composition bit-for-bit") {
    val e = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val plane = (0 until 64).map(i => math.sin(i * 131.0 + 523.0))
    val composed =
      graft.functions.ArrayMath.dot(col("v"), typedLit(plane)) /
        (sqrt(graft.functions.ArrayMath.dot(col("v"), col("v"))) *
         sqrt(graft.functions.ArrayMath.dot(typedLit(plane), typedLit(plane))))
    val rows = e.select(
      graft.functions.ArrayMath.cosineSim(col("v"), typedLit(plane)).as("f"),
      composed.as("c")).collect()
    assert(rows.nonEmpty && rows.forall(r => r.getDouble(0) == r.getDouble(1)))
    // unequal lengths: dot over common prefix, each norm over its OWN array
    import spark.implicits._
    val odd = Seq((Seq(3.0, 4.0, 12.0), Seq(1.0, 2.0))).toDF("a", "b")
    val got = odd.select(
      graft.functions.ArrayMath.cosineSim(col("a"), col("b"))).head().getDouble(0)
    val want = (3.0 * 1.0 + 4.0 * 2.0) /
      (math.sqrt(9.0 + 16.0 + 144.0) * math.sqrt(1.0 + 4.0))
    assert(got == want)
    // stays inside whole-stage codegen
    val lean = e.select(
      graft.functions.ArrayMath.cosineSim(col("v"), typedLit(plane)).as("cs"))
    lean.collect()
    val plan = lean.queryExecution.executedPlan.toString
    val csLines = plan.linesIterator.filter(_.contains("array_cosine_sim")).toSeq
    assert(csLines.nonEmpty && csLines.exists(_.contains("*(")), plan)
  }

  test("array_dot SQL surface: implicit cast from array<int>, analysis error otherwise") {
    graft.functions.ArrayMath.register(spark)
    // int arrays coerce to array<double> at analysis time (without
    // inputTypes, getDouble over int-backed UnsafeArrayData reinterprets
    // bytes and returns silently wrong values)
    assert(spark.sql("SELECT array_dot(array(1, 2, 3), array(4, 5, 6)) AS d")
      .head().getDouble(0) == 32.0)
    assert(spark.sql("SELECT array_sqdist(array(1, 2), array(3, 4)) AS d")
      .head().getDouble(0) == 8.0)
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT array_dot('abc', array(1.0))").collect()
    }
  }

  test("text-hash expressions handle unicode/emoji/empty text like the HOF twin") {
    graft.functions.TextHashFunctions.register(spark)
    // multi-byte UTF-8 (accents, CJK, emoji), repeated tokens, empty and
    // whitespace-only strings — the md5 must hash the UTF-8 bytes exactly
    // as Spark's own md5(), per token occurrence
    val df = Seq(
      (1L, "café über straße"), (2L, "日本語 テスト 日本語"),
      (3L, "🙂 🙃 🙂 🙂"), (4L, ""), (5L, "   "), (6L, "mixed café 日本 🙂 end"))
      .toDF("id", "text")
    df.createOrReplaceTempView("uni_docs")
    val toks = split(col("text"), " +")
    val tokHash = transform(toks, t =>
      conv(substring(md5(t), 1, 8), 16, 10).cast("long"))
    val bitsC = (0 until 16).map { b =>
      val vote = aggregate(tokHash, lit(0L),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      (vote > 0).cast("long") * lit(1L << b)
    }
    val expected = df.select(col("id"), bitsC.reduce(_ + _).as("expected"))
    val mismatches = spark.sql(
        "SELECT id, simhash_fp(text, 16) AS fp FROM uni_docs")
      .join(expected, "id").filter(col("fp") =!= col("expected")).count()
    assert(mismatches == 0)
    // minhash over unicode shingles: deterministic, no crash, sentinel for
    // short docs (empty/whitespace rows have <3 tokens → all-MaxValue)
    val sigs = spark.sql("SELECT id, minhash_sig(text) AS s FROM uni_docs ORDER BY id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
    assert(sigs.length == 6)
    assert(sigs.toMap.apply(4L).forall(_ == Long.MaxValue))
    assert(sigs.toMap.apply(5L).forall(_ == Long.MaxValue))
    assert(sigs.toMap.apply(2L) != sigs.toMap.apply(3L))
  }

  test("SQL builders: exact arity and clean width-literal errors at plan time") {
    graft.functions.ArrayMath.register(spark)
    graft.functions.TextHashFunctions.register(spark)
    Seq((Seq(1.0, 2.0), Seq(3.0, 4.0), "a b c d")).toDF("a", "b", "t")
      .createOrReplaceTempView("arity_t")
    // a third argument would otherwise be SILENTLY dropped (a user's
    // weighted-dot attempt computing the unweighted dot with no error);
    // a missing one died with a bare IndexOutOfBoundsException
    val e1 = intercept[Exception] {
      spark.sql("SELECT array_dot(a, b, a) FROM arity_t").collect()
    }
    assert(causeChainHas(e1, "exactly 2 arguments"), e1.toString)
    val e2 = intercept[Exception] {
      spark.sql("SELECT array_cosine_sim(a) FROM arity_t").collect()
    }
    assert(causeChainHas(e2, "exactly 2 arguments"), e2.toString)
    // width literals: NULL NPE'd, a string ClassCastException'd, and an
    // absurd width attempted a multi-GB per-row array on the executors
    val e3 = intercept[Exception] {
      spark.sql("SELECT minhash_sig(t, CAST(NULL AS INT)) FROM arity_t").collect()
    }
    assert(causeChainHas(e3, "non-NULL"), e3.toString)
    val e4 = intercept[Exception] {
      spark.sql("SELECT minhash_sig(t, 2000000000) FROM arity_t").collect()
    }
    assert(causeChainHas(e4, "[1, 4096]"), e4.toString)
    val e5 = intercept[Exception] {
      spark.sql("SELECT minhash_sig(t, '8') FROM arity_t").collect()
    }
    assert(causeChainHas(e5, "integer literal"), e5.toString)
  }

  test("token_ngrams / hashed_ngram_buckets SQL surface: values match the ops, literal guards hold") {
    import spark.implicits._
    graft.functions.CharLmFunctions.register(spark)
    graft.functions.DsirFunctions.register(spark)
    Seq((1L, "a b c"), (2L, "x")).toDF("id", "t").createOrReplaceTempView("tng_t")
    val grams = spark.sql("SELECT id, token_ngrams(t, 2) AS g FROM tng_t ORDER BY id")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1))
    assert(grams.toMap.apply(1L) == Seq("a b", "b c"))
    assert(grams.toMap.apply(2L).isEmpty)
    // buckets: same walk as the Dsir op (2n-1 features, in range)
    val bs = spark.sql("SELECT hashed_ngram_buckets(t, 64) AS b FROM tng_t WHERE id = 1")
      .collect().head.getSeq[Int](0)
    assert(bs.length == 5 && bs.forall(b => b >= 0 && b < 64))
    val e1 = intercept[Exception] {
      spark.sql("SELECT token_ngrams(t) FROM tng_t").collect()
    }
    assert(causeChainHas(e1, "exactly 2 arguments"), e1.toString)
    val e2 = intercept[Exception] {
      spark.sql("SELECT token_ngrams(t, '2') FROM tng_t").collect()
    }
    assert(causeChainHas(e2, "integer literal"), e2.toString)
    val e3 = intercept[Exception] {
      spark.sql("SELECT hashed_ngram_buckets(t, CAST(NULL AS INT)) FROM tng_t").collect()
    }
    assert(causeChainHas(e3, "non-NULL"), e3.toString)
    val e4 = intercept[Exception] {
      spark.sql("SELECT hashed_ngram_buckets(t, 1) FROM tng_t").collect()
    }
    assert(causeChainHas(e4, "numBuckets"), e4.toString)
  }

  test("lsh_signature / pq_codes public-surface guards on degenerate index state") {
    val df = Seq(Tuple1(Seq(1.0, 2.0))).toDF("v")
    val sc = spark.sparkContext
    // empty planes → every row signature 0 (single-bucket join);
    // >32 planes → Java masks 1<<j to 5 bits, plane 32 ORs into bit 0
    val e1 = intercept[Exception] {
      df.select(graft.functions.IndexExpr.lshSignature(col("v"),
        sc.broadcast(Array.empty[Array[Double]]))).collect()
    }
    assert(causeChainHas(e1, "empty plane table"), e1.toString)
    val e2 = intercept[Exception] {
      df.select(graft.functions.IndexExpr.lshSignature(col("v"),
        sc.broadcast(Array.fill(33)(Array(1.0, 0.0))))).collect()
    }
    assert(causeChainHas(e2, "32-bit"), e2.toString)
    // empty codebooks → bare AIOOBE; an empty SUBSPACE would silently
    // emit code 0 for every row (argmin loop never runs)
    val e3 = intercept[Exception] {
      df.select(graft.functions.IndexExpr.pqCodes(col("v"),
        sc.broadcast(Array.empty[Array[Array[Double]]]), -1)).collect()
    }
    assert(causeChainHas(e3, "empty codebook table"), e3.toString)
    val e4 = intercept[Exception] {
      df.select(graft.functions.IndexExpr.pqCodes(col("v"),
        sc.broadcast(Array(Array.empty[Array[Double]])), -1)).collect()
    }
    assert(causeChainHas(e4, "no codewords"), e4.toString)
  }

  test("ivfCells bounded selection ≡ full stable sort, including distance ties") {
    import graft.functions.IndexExpressions.roundTo
    val rnd = new scala.util.Random(42)
    val half = Array.fill(25)(Array.fill(4)(rnd.nextDouble()))
    // duplicate every centroid: distance ties MUST resolve to lower ids
    val cents = half ++ half.map(_.clone)
    val vecs = Seq.fill(20)(Seq.fill(4)(rnd.nextDouble()))
    val df = vecs.map(Tuple1(_)).toDF("v")
    for (nprobe <- Seq(1, 3, cents.length)) {
      val got = df
        .select(graft.ops.Similarity.ivfCells(col("v"), cents, nprobe, roundDp = 6)
          .as("c"))
        .collect().map(_.getSeq[Int](0).toList)
      val expected = vecs.map { v =>
        cents.zipWithIndex.map { case (c, i) =>
          (roundTo(6, v.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum), i)
        }.sortBy(t => t)(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int))
          .take(nprobe).map(_._2).toList
      }
      assert(got.toList == expected.toList, s"nprobe=$nprobe")
      // the first-ranked cell IS ivfCell's argmin (same rounding and tie
      // rule) — the multi-probe semDedup reads its primary cell this way
      val heads = df.select(
        element_at(graft.ops.Similarity.ivfCells(col("v"), cents, nprobe,
          roundDp = 6), 1).as("head"),
        graft.ops.Similarity.ivfCell(col("v"), cents, roundDp = 6).as("cell"))
        .collect().map(r => (r.getInt(0), r.getInt(1)))
      assert(heads.forall { case (h, c) => h == c },
        s"nprobe=$nprobe: element_at(ivfCells, 1) != ivfCell: " +
          heads.filter { case (h, c) => h != c }.mkString(", "))
    }
  }

  test("GlmLossGradAggregator fails loudly on ragged rows") {
    import graft.functions.{GlmLossGradAggregator, GlmRow}
    import graft.families.Logistic
    val ds = Seq(GlmRow(Seq(1.0, 2.0), 1.0), GlmRow(Seq(1.0), 0.0)).toDS()
    val agg = new GlmLossGradAggregator(Logistic, Array(0.1, 0.2))
    val e = intercept[Exception] { ds.select(agg.toColumn).head() }
    assert(causeChainHas(e, "ragged row"), e.toString)
  }

  test("GlmLossGradAggregator (UDAF facade) equals the RDD kernel") {
    import graft.functions.{GlmLossGradAggregator, GlmRow}
    import graft.families.Logistic
    val li = spark.read.parquet(s"${TestSpark.sf0001}/lineitem.parquet")
    val df = li.select(
      array(col("l_quantity"), col("l_discount")).as("features"),
      (col("l_returnflag") === "R").cast("double").as("label"))
    val beta = Array(0.02, -1.3)
    val ds = df.as[GlmRow]
    val agg = new GlmLossGradAggregator(Logistic, beta)
    val viaUdaf = ds.select(agg.toColumn).head()
    val data = graft.core.GlmData.fromDF(df, numFeatures = 2)
    val (loss, grad) = graft.linalg.Kernels.lossGrad(
      data, breeze.linalg.DenseVector(beta), Logistic)
    assert(math.abs(viaUdaf.loss - loss) < 1e-9 * math.abs(loss))
    viaUdaf.grad.zip(grad.toArray).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9 * math.max(1.0, math.abs(b)))
    }
  }

  test("metrics: accuracy, mse, poisson deviance (log1p form)") {
    val df = Seq((1.0, 1.0), (0.0, 1.0), (1.0, 1.0), (0.0, 0.0))
      .toDF("y", "p")
    assert(Metrics.accuracyScore(df, col("y"), col("p")) == 0.75)
    assert(Metrics.meanSquaredError(df, col("y"), col("p")) == 0.25)
    val dev = Seq((2.0, 1.0)).toDF("y", "p")
    // 2*(2*log1p(2/1) - (2-1)) = 4*ln(3) - 2
    assert(math.abs(Metrics.poissonDeviance(dev, col("y"), col("p"))
      - (4 * math.log(3.0) - 2)) < 1e-12)
  }
}
