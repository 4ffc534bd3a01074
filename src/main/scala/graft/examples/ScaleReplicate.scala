package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up fixture generator for the sf1 dry run: replicate an sf dir
  * `factor`× with ISOMORPHIC replicas — transformations that preserve
  * each replica's internal duplicate/near-duplicate structure exactly
  * while making replicas mutually unrelated, so a `factor`× corpus has
  * `factor`× the dup pairs (not `factor²`×) and any super-linear bench
  * growth is attributable to the ALGORITHM, not to a fixture artifact
  * (naive replication would hand every doc `factor−1` cross-replica
  * near-dups and every embedding a cross-replica cosine-1 clique,
  * quadratically inflating exactly the candidate structures the heavy
  * rows are built to bound).
  *
  *  - documents: replica r suffixes every token with `xr` EXCEPT the
  *    q80 language-gate evidence set — a BIJECTIVE vocabulary renaming,
  *    so within-replica exact-dup and shingle-Jaccard structure is
  *    preserved exactly, while cross-replica shingles share only runs
  *    of ≥3 consecutive preserved stopwords (negligible). doc_ids
  *    offset by r·N.
  *  - embeddings: replica r cyclically shifts the 64 components by
  *    r·7 mod 64 — an ISOMETRY (within-replica cosines bit-preserved)
  *    whose cross-replica dot is a circular autocorrelation ≈ 0 for
  *    the fixture's centered components. vec_ids offset by r·M.
  *  - lineitem: plain copies (the GLM fit has no dedup semantics;
  *    row count is the only thing that matters).
  *
  * Run: sbt "runMain graft.examples.ScaleReplicate /root/testdata/sf0.1 /root/repo/tmp/sf1 10"
  */
object ScaleReplicate {

  /** Tokens q80's language gate keys on — preserved verbatim so the
    * gate's pass rate per replica matches the original. */
  private val Preserved = Seq("the", "a", "and", "of", "fast", "slow")

  /** The document replica family (exposed for ScaleReplicateSpec, which
    * proves the isomorphism claim the scale-up table rests on). */
  /** `suffix` tags the renaming family: replica r appends s"$suffix$r"
    * to every non-preserved token. A COMPOSED build (replicating an
    * already-replicated dir, the fourth-decade fixture path) must use a
    * suffix distinct from the inner build's: with the same "x" on both
    * levels, outer-r applied to the inner IDENTITY replica reproduces
    * inner-r's vocabulary on the same base text — outer-r(inner-0) and
    * inner-r become exact cross-replica duplicates for every r below
    * the outer factor, the quadratic artifact this family exists to
    * exclude. Distinct suffixes ("y" over "x") keep every level's
    * renaming a mutually disjoint bijection. */
  def docReplicas(docs: DataFrame, factor: Int, nDoc: Long,
      suffix: String = "x"): Seq[DataFrame] = {
    val preservedArr = array(Preserved.map(lit): _*)
    (0 until factor).map { r =>
      if (r == 0) docs
      else {
        val renamed = array_join(
          transform(split(col("text"), " +"),
            w => when(array_contains(preservedArr, w), w)
              .otherwise(concat(w, lit(s"$suffix$r")))), " ")
        docs
          .withColumn("doc_id", col("doc_id") + lit(r * nDoc))
          .withColumn("text", renamed)
          .withColumn("n_chars", length(col("text")).cast("long"))
      }
    }
  }

  /** Single-plan replica families (r16). The batched-union path pays
    * Catalyst per BATCH — planning/codegen of a 250-branch union plus
    * one job's scheduling per write — which measured ~2.3 min/batch on
    * the r16 sf1000 docs build (~40 batches ≈ 90 min of mostly driver
    * overhead for a 5.5 GB fixture). These builders produce the SAME
    * row multiset through ONE plan: the replica index r becomes a
    * joined column (`range(0, factor)` cross-joined against the
    * broadcast BASE table), so 10⁴ replicas plan once and the write
    * parallelizes over the range side's `rParts` partitions. Row order
    * and file layout differ from the union path — both invisible to
    * every reader here (compares sort before hashing; scans glob the
    * directory). ScaleReplicateSpec pins exact row-multiset equality
    * against the Seq builders. Assumes the BASE table fits a broadcast
    * (the sf0.1 bases top out at lineitem's ~11 MB parquet / ~60 MB
    * rows — trivially true; a non-broadcastable base belongs on the
    * batched path). */
  def docReplicasExploded(docs: DataFrame, factor: Int, nDoc: Long,
      suffix: String = "x", rParts: Int = 160): DataFrame = {
    val preservedArr = array(Preserved.map(lit): _*)
    val np = math.max(1, math.min(rParts, factor))
    val rs = docs.sparkSession.range(0L, factor.toLong, 1L, np).toDF("__r")
    val renamed = array_join(
      transform(split(col("text"), " +"),
        w => when(array_contains(preservedArr, w), w)
          .otherwise(concat(w, lit(suffix), col("__r").cast("string")))), " ")
    rs.crossJoin(broadcast(docs))
      .withColumn("text",
        when(col("__r") === 0L, col("text")).otherwise(renamed))
      .withColumn("doc_id", col("doc_id") + col("__r") * lit(nDoc))
      // r = 0 keeps the source row byte-identical (the Seq builder
      // returns `docs` itself there), so n_chars is only recomputed on
      // renamed replicas
      .withColumn("n_chars",
        when(col("__r") === 0L, col("n_chars"))
          .otherwise(length(col("text")).cast("long")))
      .drop("__r")
  }

  /** Exploded twin of [[keyOffsetReplicas]] — see
    * [[docReplicasExploded]] for the single-plan rationale. */
  def keyOffsetExploded(df: DataFrame, factor: Int,
      offsets: Map[String, Long], rParts: Int = 160): DataFrame = {
    val np = math.max(1, math.min(rParts, factor))
    val rs = df.sparkSession.range(0L, factor.toLong, 1L, np).toDF("__r")
    val joined = rs.crossJoin(broadcast(df))
    offsets.foldLeft(joined) { case (d, (c, base)) =>
      d.withColumn(c, col(c) + col("__r") * lit(base))
    }.drop("__r")
  }

  /** One-plan write for the exploded builders (no batching needed —
    * there is exactly one plan). Natural partitioning: `rParts` tasks,
    * each encoding factor/rParts replicas. */
  def writeExploded(df: DataFrame, path: String): Unit = {
    val codec = sys.env.get("SPARK_GRAFT_REPLICATE_CODEC")
    val w = df.write.mode("overwrite")
    codec.fold(w)(c => w.option("compression", c)).parquet(path)
  }

  /** The embedding replica family — all ISOMETRIES (within-replica
    * L2/cosine structure preserved):
    *
    *  - r in [0, 128): cyclic component shifts (r·7 mod 64),
    *    sign-flipped on the second 64-cycle. The flip matters above
    *    factor 64: shifts repeat mod 64, and two replicas sharing a
    *    shift would be EXACT duplicates (cos = 1 cliques — the
    *    quadratic fixture artifact the whole design avoids); a flipped
    *    twin sits at cos = −1 instead, invisible to any positive
    *    threshold.
    *  - r ≥ 128: SEEDED SIGNED PERMUTATIONS (the r8-verdict "richer
    *    isometry family"): replica r applies a Fisher–Yates permutation
    *    + per-component sign vector drawn from Random(seed = r). The
    *    family is effectively unbounded (64!·2⁶⁴ isometries; a seeded
    *    draw colliding with another replica's map — or with one of the
    *    128 shift isometries — has probability ~0), cross-replica dots
    *    are sign-randomized sums ≈ 0, and within-replica L2/cosine
    *    structure is preserved BIT-EXACTLY up to summation order: the
    *    dot product folds the same 64 products in permuted order, so
    *    rounded-to-6dp pipeline cosines (every similarity query here
    *    rounds before comparing) are unchanged, which is the
    *    ScaleReplicateSpec exactness bar the shift family also meets.
    *
    * Compositionality caveat unchanged: build replicas from the BASE
    * corpus in one pass — re-replicating a replicated dir composes
    * maps and voids the disjointness argument (see main's scaladoc). */
  def embReplicas(emb: DataFrame, factor: Int, nVec: Long): Seq[DataFrame] = {
    (0 until factor).map { r =>
      if (r == 0) emb.withColumn("vec_id", col("vec_id") + lit(0L))
      else if (r < 128) {
        val s = (r * 7) % 64
        val flip = (r / 64) % 2 == 1
        val shifted =
          if (s == 0) col("embedding")
          else concat(slice(col("embedding"), s + 1, 64 - s),
            slice(col("embedding"), 1, s))
        val body =
          if (flip) transform(shifted, x => -x)
          else shifted
        if (s == 0 && !flip)
          emb.withColumn("vec_id", col("vec_id") + lit(r * nVec))
        else emb
          .withColumn("vec_id", col("vec_id") + lit(r * nVec))
          .withColumn("embedding", body)
      } else {
        val rng = new scala.util.Random(r.toLong)
        val perm = rng.shuffle((0 until 64).toVector)
        val sign = Array.fill(64)(if (rng.nextBoolean()) 1.0 else -1.0)
        val body = array(perm.zipWithIndex.map { case (src, j) =>
          (element_at(col("embedding"), src + 1) * lit(sign(j)))
            .cast("float")
        }: _*)
        emb
          .withColumn("vec_id", col("vec_id") + lit(r * nVec))
          .withColumn("embedding", body)
      }
    }
  }

  /** Relational replica family: key-offset copies. Replica r offsets
    * every PRIMARY and FOREIGN key by r·(max(key)+1) consistently
    * across tables (o_orderkey/l_orderkey share the orders-derived
    * offset; o_custkey/c_custkey the customer-derived one), so join
    * multiplicity is preserved exactly: a factor× corpus yields
    * factor× join rows, never factor²× (plain copies would match every
    * orders copy to every lineitem copy of the same key — the
    * relational analog of the cross-replica near-dup artifact the
    * document family avoids). Dimension tables (nation/region/part/
    * supplier) stay fixed, as in TPC-H scaling; non-key attributes are
    * untouched, so key-free aggregates (q01, q10) grow counts exactly
    * factor× and keyed plans (q03, q05) grow rows factor×.
    * ScaleReplicateSpec pins both invariants. */
  def keyOffsetReplicas(df: DataFrame, factor: Int,
      offsets: Map[String, Long]): Seq[DataFrame] =
    (0 until factor).map { r =>
      if (r == 0) df
      else offsets.foldLeft(df) { case (d, (c, base)) =>
        d.withColumn(c, col(c) + lit(r * base))
      }
    }

  /** Write a replica family in BOUNDED-PLAN batches: union at most
    * `batch` replicas per write (first overwrite, rest append — parquet
    * appends are new part files, invisible to every reader here, which
    * all glob the directory). A single 1000-way union was not a data
    * problem but a PLANNING one: the r ≥ 128 embedding replicas carry a
    * 64-expression projection each, and Catalyst spent >12 min
    * single-threaded analyzing the ~56k-expression union plan (measured
    * r14, sf100 build) before touching a row. At factor ≤ batch this
    * degenerates to the historical single write. `parts` is the TOTAL
    * target part count, apportioned per batch. */
  def writeBatched(replicas: Seq[DataFrame], path: String, batch: Int,
      parts: Int): Unit = {
    val groups = replicas.grouped(batch).toSeq
    // parts <= 0: keep the union's natural partitioning (input parts ×
    // replicas per batch) instead of repartitioning. The repartition is
    // a full shuffle of the OUTPUT volume through local disk — on a
    // space-bounded box it transiently doubles the build's footprint
    // (the r15 sf1000 compose hit ENOSPC exactly there), and a composed
    // replica family needs no rebalance: every replica inherits the
    // source's healthy layout.
    // SPARK_GRAFT_REPLICATE_CODEC (e.g. zstd): parquet codec override for
    // the replica writes. The sf1000 lineitem sits within ~2 GB of this
    // box's free space under snappy; zstd buys the margin. Readers on
    // both engines are codec-agnostic. Unset = session default (snappy).
    val codec = sys.env.get("SPARK_GRAFT_REPLICATE_CODEC")
    groups.zipWithIndex.foreach { case (g, i) =>
      val u = g.reduce(_ unionAll _)
      val perBatch = math.max(1, math.round(
        parts.toDouble * g.size / replicas.size).toInt)
      val out = if (parts <= 0) u else u.repartition(perBatch)
      val w = out.write.mode(if (i == 0) "overwrite" else "append")
      codec.fold(w)(c => w.option("compression", c)).parquet(path)
    }
  }

  /** args: srcDir dstDir factor [tables] [docSuffix]
    *
    * `tables` (comma list ⊆ documents,embeddings,lineitem,orders,
    * customer,events; default documents,embeddings,lineitem)
    * selects what to replicate — the sf100 third-decade fixture needs
    * only the q87/glm_fit inputs, and SKIPPING embeddings there is
    * load-bearing, not just thrift: DOCUMENT replicas compose (re-
    * replicating an already-replicated dir re-suffixes every token, and
    * suffix-of-suffix renamings are still mutually disjoint bijections),
    * but EMBEDDING replicas do NOT — cyclic shifts compose additively
    * (outer shift a ∘ inner shift b = shift a+b), so an outer replica
    * of one inner replica collides with a different inner replica's
    * isometry and the two become exact cos-1 duplicates, the quadratic
    * artifact this generator exists to exclude. Growing embeddings past
    * factor 128 needs a richer isometry family (e.g. seeded signed
    * permutations), applied from the BASE corpus in one pass. */
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = args(2).toInt
    val tables: Set[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).filter(_.nonEmpty).toSet
      else Set("documents", "embeddings", "lineitem")
    // composed builds pass a suffix distinct from the source dir's own
    // renaming family (see docReplicas's compose caveat)
    val docSuffix = if (args.length > 4) args(4) else "x"
    // SPARK_GRAFT_REPLICATE_NO_SHUFFLE=1: pass parts=0 (no repartition)
    // for ALL replica writes — see writeBatched's scaladoc. Originally
    // relational-only; r16 extended it to documents/embeddings, whose
    // hardcoded parts=32 rounds to ONE partition per 250-replica batch
    // (32·250/10⁴), i.e. a single-threaded parquet encode of each
    // ~140 MB batch — measured ~2.6 min/batch on the r16 docs build vs
    // seconds with the natural (per-replica) layout. File count grows
    // to ~one per replica, the same shape the r15 lineitem fixture
    // already swept green through DuckDB's glob reader.
    val relParts: Int => Int =
      if (sys.env.get("SPARK_GRAFT_REPLICATE_NO_SHUFFLE").contains("1")) _ => 0
      else identity
    val known = Set("documents", "embeddings", "lineitem",
      "orders", "customer", "events")
    val unknown = tables -- known
    require(unknown.isEmpty, s"unknown table(s): ${unknown.mkString(", ")}")
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("graft-scale-replicate")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if (tables("documents")) {
      val docs = spark.read.parquet(s"$src/documents.parquet")
      val nDoc = docs.agg(max("doc_id")).head().getLong(0) + 1L
      writeExploded(docReplicasExploded(docs, factor, nDoc, docSuffix),
        s"$out/documents.parquet")
      println(s"[scale-replicate] documents x$factor: ${nDoc * factor}")
    }

    if (tables("embeddings")) {
      val emb = spark.read.parquet(s"$src/embeddings.parquet")
      val nVec = emb.agg(max("vec_id")).head().getLong(0) + 1L
      writeBatched(embReplicas(emb, factor, nVec),
        s"$out/embeddings.parquet", batch = 25, parts = relParts(32))
      println(s"[scale-replicate] embeddings x$factor: ${nVec * factor}")
    }

    // Relational key offsets are shared across tables: the orderkey
    // stride comes from ORDERS (lineitem's orderkeys are a subset) and
    // the custkey stride from CUSTOMER, so foreign keys stay aligned
    // replica-by-replica. Read lazily — only when a relational table
    // is requested.
    lazy val orderStride = spark.read.parquet(s"$src/orders.parquet")
      .agg(max("o_orderkey")).head().getLong(0) + 1L
    lazy val custStride = spark.read.parquet(s"$src/customer.parquet")
      .agg(max("c_custkey")).head().getLong(0) + 1L

    if (tables("lineitem")) {
      // SPARK_GRAFT_REPLICATE_LINEITEM_COLS (comma list): build the
      // replica set over a COLUMN SUBSET. The fourth-decade (sf1000)
      // lineitem is ~108 GB full-width — past this box's 78 GB free —
      // but the rows swept there (q20/q24/q25/q26, the GLM kernel
      // family) read exactly 5 columns (~73 GB). A column-pruned
      // fixture is byte-identical to the full one for every query that
      // reads only those columns, on BOTH engines (parquet is columnar;
      // the full-width scan would prune to the same bytes), and any
      // query touching a missing column fails loudly at analysis
      // rather than silently drifting. Unset = full width (every
      // historical recipe unchanged).
      val liRaw = spark.read.parquet(s"$src/lineitem.parquet")
      val li = sys.env.get("SPARK_GRAFT_REPLICATE_LINEITEM_COLS") match {
        case Some(cols) =>
          val keep = cols.split(",").map(_.trim).filter(_.nonEmpty)
          println(s"[scale-replicate] lineitem column subset: ${keep.mkString(", ")}")
          liRaw.select(keep.map(col): _*)
        case None => liRaw
      }
      val reps =
        if (tables("orders") ||
            sys.env.get("SPARK_GRAFT_REPLICATE_LINEITEM_KEYED").contains("1")) {
          // relational mode: preserve join structure against the
          // replicated orders table (factor× join rows, not factor²×).
          // SPARK_GRAFT_REPLICATE_LINEITEM_KEYED=1 forces this WITHOUT
          // building orders: the sf1000 sweep needs l_orderkey to reach
          // its true fourth-decade magnitude (600k·10⁴ = 6e9, past the
          // 2⁶³/2654435761 ≈ 3.47e9 overflow line the q20/q26 pins were
          // overflow-proofed for) while orders itself (27 GB) stays
          // unbuilt on the space-bounded box.
          Left(keyOffsetExploded(li, factor, Map("l_orderkey" -> orderStride)))
        } else {
          // glm-only mode (the historical sf30/sf100 fixtures): plain
          // copies — the fit reads no key column, row count is the
          // only thing that matters
          Right(Seq.fill(factor)(li))
        }
      val keyed = tables("orders") ||
        sys.env.get("SPARK_GRAFT_REPLICATE_LINEITEM_KEYED").contains("1")
      reps match {
        case Left(one) => writeExploded(one, s"$out/lineitem.parquet")
        case Right(rs) =>
          writeBatched(rs, s"$out/lineitem.parquet", batch = 200, parts = relParts(64))
      }
      println(s"[scale-replicate] lineitem x$factor" +
        (if (keyed) " (orderkey-offset)" else " (plain)"))
    }

    if (tables("orders")) {
      val o = spark.read.parquet(s"$src/orders.parquet")
      writeBatched(keyOffsetReplicas(o, factor,
          Map("o_orderkey" -> orderStride, "o_custkey" -> custStride)),
        s"$out/orders.parquet", batch = 200, parts = relParts(32))
      println(s"[scale-replicate] orders x$factor (key-offset)")
    }

    if (tables("customer")) {
      val c = spark.read.parquet(s"$src/customer.parquet")
      writeBatched(keyOffsetReplicas(c, factor,
          Map("c_custkey" -> custStride)),
        s"$out/customer.parquet", batch = 200, parts = relParts(32))
      println(s"[scale-replicate] customer x$factor (key-offset)")
    }

    if (tables("events")) {
      // event_id/user_id offsets keep per-user order streams disjoint
      // (factor× sessions of the original shape); timestamps are
      // untouched, so windowed aggregates grow counts ×factor over the
      // same bucket grid — the high-cardinality-keys stress shape
      val ev = spark.read.parquet(s"$src/events.parquet")
      val evIdStride = ev.agg(max("event_id")).head().getLong(0) + 1L
      val userStride = ev.agg(max("user_id")).head().getLong(0) + 1L
      writeBatched(keyOffsetReplicas(ev, factor,
          Map("event_id" -> evIdStride, "user_id" -> userStride)),
        s"$out/events.parquet", batch = 200, parts = relParts(32))
      println(s"[scale-replicate] events x$factor (key-offset)")
    }

    println(s"[scale-replicate] wrote $out at ${factor}x " +
      s"(${tables.toSeq.sorted.mkString(", ")})")
    spark.stop()
  }
}
