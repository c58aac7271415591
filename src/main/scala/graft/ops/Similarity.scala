package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity-search operators.
  *
  * Scale design: brute force is the correctness baseline (probe side
  * broadcast, scan side streamed — never a shuffled cross join); the LSH
  * path buckets vectors by random-hyperplane sign bits so candidate
  * generation becomes an equi-join on the bucket id. Hyperplane components
  * are derived from a closed-form integer formula (no RNG state), so any
  * engine — and the DuckDB oracle — derives the identical planes.
  */
object Similarity {

  /** In-order double-precision dot product of two array<double> columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))

  /** Codegen'd cosine — bit-identical to `dot(a,b)/(norm(a)*norm(b))`
    * (independent in-order folds) but ~50× faster on wide fan-outs because
    * Spark's higher-order functions are CodegenFallback. */
  def cosine(a: Column, b: Column): Column = graft.functions.CosineSim.of(a, b)

  /** Sign-bit LSH bucket id over `bits` pseudo-random hyperplanes for a
    * `dim`-dimensional array<double> column named `vCol`. Plane j component i
    * is `(1103515245*(j*dim+i) + 12345) % 2001 - 1000` — engine-agnostic
    * integer arithmetic (cf. ExtQueries oracle SQL). */
  def lshBucket(vCol: String, bits: Int = 8, dim: Int = 64): Column =
    graft.functions.LshBucket.of(col(vCol), bits, dim)

  /** Int8 scalar quantization: per-vector scale = 127/max|component|,
    * components rounded half-away-from-zero — the standard 8×-memory-cut
    * for candidate scoring (score quantized, refine exact on the short
    * list). `qv` stays array<double> of integral values so the codegen'd
    * [[graft.functions.Dot]] applies unchanged and stays *exact*: |q|≤127
    * ⇒ a 64-dim integer dot ≤ ~10^6, far inside double exactness, so the
    * quantized similarity is engine-reproducible bit-for-bit. Adds `qv`
    * and the quantized norm `qn` to `vectors`. */
  def quantize(vectors: DataFrame, vCol: String = "v"): DataFrame =
    Scale.ensureParallelism(vectors)
      // zero vectors get scale 0 (→ qv all zeros, qn 0) instead of a
      // divide-by-zero scale poisoning qv with nulls/NaN
      .withColumn("__maxabs", array_max(transform(col(vCol), x => abs(x))))
      .withColumn("__scale",
        when(col("__maxabs") === 0.0, lit(0.0))
          .otherwise(lit(127.0) / col("__maxabs")))
      .withColumn("qv", transform(col(vCol), x => round(x * col("__scale"))))
      .withColumn("qn", sqrt(graft.functions.Dot.of(col("qv"), col("qv"))))
      .drop("__scale", "__maxabs")

  /** Per-group pooled (mean) embedding over int8-quantized components —
    * average-pooling for cluster summaries / group centroids. Sums run over
    * integral quantized values (|q| ≤ 127 ⇒ exact in double at any
    * realistic group size, order-independent), so the pooled means are
    * engine-reproducible where a float mean is not.
    *
    * One whole-vector aggregation via the [[graft.functions.CentroidAgg]]
    * UDAF: partial (sum-array, count) buffers combine map-side, shuffle
    * volume is O(groups × dim) independent of corpus size — the same
    * shuffle as the previous posexplode + (grp, component) hash-aggregate
    * shape, but without multiplying the pre-aggregation row count by dim
    * (measured at 128k×64 vectors: 2.4–8× across 8 and 4096 groups —
    * the low end is the well-combining 8-group case, the high end 4096
    * groups where the explode shape's hash table holds groups×dim
    * entries). `dim` has no default on purpose: a silently
    * wrong dimensionality would abort deep inside the aggregate; the
    * caller states it and mismatches fail loudly with the length named.
    * The cost of the win is fixed-dim STRICTNESS: a null or ragged vector fails
    * loudly with its length named (the explode shape silently dropped
    * nulls and averaged ragged components over differing counts — corrupt
    * input for a pooling whose output rows all claim the same group). */
  def pooledQuantizedCentroids(vectors: DataFrame, grpCol: Column,
      vCol: String = "v", dim: Int): DataFrame = {
    val pool = udaf(new graft.functions.CentroidAgg(dim))
    quantize(vectors, vCol)
      .groupBy(grpCol.as("grp"))
      .agg(pool(col("qv")).as("c"))
      .select(col("grp"), posexplode(col("c")).as(Seq("i", "m")))
      .select(col("grp"), (col("i") + 1).cast("long").as("i"),
        round(col("m"), 6).as("mean_q"))
  }

  /** Top-k neighbors by quantized cosine: quantization runs once per vector
    * (the only higher-order-function work); every pairwise score is the
    * codegen'd native Dot over precomputed norms. */
  def quantizedTopK(vectors: DataFrame, probeIds: Column, k: Int): DataFrame = {
    // zero vectors have no defined cosine (qn = 0 would divide by zero) —
    // drop them from both sides, as any cosine ranking must
    val q = quantize(vectors).filter(col("qn") > 0.0)
    val probes = q.filter(probeIds)
      .select(col("vec_id").as("query_id"), col("qv").as("qa"), col("qn").as("qna"))
    val w = Window.partitionBy("query_id").orderBy(col("qsim").desc, col("vec_id"))
    q.join(broadcast(probes), col("vec_id") =!= col("query_id"))
      .withColumn("qsim",
        round(graft.functions.Dot.of(col("qa"), col("qv")) / (col("qna") * col("qn")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("query_id", "vec_id", "qsim", "rn")
  }

  /** Brute-force top-k cosine neighbors for a (small) probe set. Similarity
    * is rounded to 6dp before ranking so rank order is engine-stable. */
  def bruteTopK(vectors: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val scored = vectors
      .join(broadcast(probes), col("vec_id") =!= col("query_id"))
      .withColumn("sim", round(cosine(col("q"), col("v")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("query_id", "vec_id", "sim", "rn")
  }

  /** LSH-bucketed top-k: probes only compare against vectors in their own
    * sign-bit bucket. Recall < 1 by construction; at scale this turns a
    * full scan per probe into a bucket-local one (multi-probe or fewer bits
    * widen recall). */
  def lshTopK(vectors: DataFrame, probeIds: Column, k: Int,
      bits: Int = 8, dim: Int = 64): DataFrame = {
    val bucketed = vectors
      .withColumn("bucket", lshBucket("v", bits, dim))
    val probes = bucketed.filter(probeIds)
      .select(col("vec_id").as("query_id"), col("v").as("q"), col("bucket"))
    val scored = bucketed.join(probes, "bucket")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim", round(cosine(col("q"), col("v")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("query_id", "vec_id", "sim", "rn")
  }

  /** Closed-form IVF coarse-quantizer centroids (driver-side arrays):
    * centroid j component i is
    * `((1103515245*(j*dim+i) + 12345) % 2001 - 1000) / 1000.0` — fixed
    * random directions, derivable identically by any engine (the DuckDB
    * oracle regenerates them from the same formula). A data-adaptive
    * refinement ([[kMeans]]) can replace these engine-side; the fixed form
    * is the oracle-checked path. */
  def ivfCentroidArrays(nlist: Int = 16, dim: Int = 64): Seq[Seq[Double]] =
    (0 until nlist).map { j =>
      (0 until dim).map(i =>
        ((1103515245L * (j * dim + i) + 12345L) % 2001L - 1000L) / 1000.0)
    }

  /** Same centroids as a (cid, c) DataFrame — for callers that want to join
    * or inspect them; assignment itself never joins (see [[assignCells]]). */
  def ivfCentroids(spark: org.apache.spark.sql.SparkSession,
      nlist: Int = 16, dim: Int = 64): DataFrame = {
    val rows = ivfCentroidArrays(nlist, dim).zipWithIndex.map {
      case (c, j) => (j.toLong, c)
    }
    spark.createDataFrame(rows).toDF("cid", "c")
  }

  /** Cell assignment: top-`nprobe` cells by (rounded cosine desc, cid asc),
    * as a per-row codegen'd expression over plan-time centroids
    * ([[graft.functions.NearestCells]]) — zero joins, zero shuffles; the
    * previous crossJoin+window argmax shuffled nlist×n rows for a per-row
    * decision. Output: input columns + `cid` (one row per probed cell). */
  private def assignCells(vectors: DataFrame, cents: Seq[Seq[Double]],
      vCol: String, nprobe: Int): DataFrame =
    if (nprobe == 1)
      vectors.withColumn("cid",
        graft.functions.NearestCells.of(col(vCol), cents, 1).getItem(0))
    else
      vectors.withColumn("cid",
        explode(graft.functions.NearestCells.of(col(vCol), cents, nprobe)))

  /** One Lloyd refinement step over the closed-form centroids — kept as the
    * single-step named entry point; see [[kMeans]] for the iterated form.
    * Engine-side path — the oracle-checked q26 keeps the closed-form
    * centroids; refined centroids are for recall, not for parity. */
  def refineCentroids(vectors: DataFrame,
      nlist: Int = 16, dim: Int = 64): DataFrame = {
    val spark = vectors.sparkSession
    val cents = lloydStep(vectors, ivfCentroidArrays(nlist, dim), dim)
    spark.createDataFrame(cents.zipWithIndex.map { case (c, j) => (j.toLong, c) })
      .toDF("cid", "c")
  }

  /** One Lloyd assignment+mean pass: nearest plan-time centroid per vector
    * (shuffle-free expression), then per-cell mean via the typed
    * [[graft.functions.CentroidAgg]] (map-side combined — one shuffle of
    * nlist partial sums per input partition). Cells that lose every vector
    * keep their previous centroid. */
  private def lloydStep(vectors: DataFrame, cents: Seq[Seq[Double]],
      dim: Int): Seq[Seq[Double]] = {
    import vectors.sparkSession.implicits._
    val assigned = assignCells(vectors, cents, "v", 1)
      .select(col("cid"), col("v").cast("array<double>"))
      .as[(Long, Seq[Double])]
    val means = assigned.groupByKey(_._1).mapValues(_._2)
      .agg(new graft.functions.CentroidAgg(dim).toColumn.name("c"))
      .collect().toMap // nlist rows — bounded, driver-side by design
    cents.indices.map(j => means.getOrElse(j.toLong, cents(j)))
  }

  /** Iterated Lloyd k-means over the closed-form seed centroids, stopping
    * after `maxIters` or when the max centroid shift (L∞ over all
    * components) drops below `tol`. Each iteration is one Spark job: a
    * shuffle-free assignment expression + a map-side-combined mean; only
    * nlist×dim doubles cross the driver per iteration. Returns (cid, c). */
  def kMeans(vectors: DataFrame, nlist: Int = 16, dim: Int = 64,
      maxIters: Int = 10, tol: Double = 1e-4): DataFrame = {
    var cents = ivfCentroidArrays(nlist, dim)
    var it = 0
    var moved = Double.MaxValue
    while (it < maxIters && moved >= tol) {
      val next = lloydStep(vectors, cents, dim)
      moved = cents.zip(next).map { case (a, b) =>
        a.zip(b).map { case (x, y) => math.abs(x - y) }.max
      }.max
      cents = next
      it += 1
    }
    vectors.sparkSession
      .createDataFrame(cents.zipWithIndex.map { case (c, j) => (j.toLong, c) })
      .toDF("cid", "c")
  }

  /** IVF top-k: vectors live in their nearest centroid cell; probes search
    * their `nprobe` nearest cells. Assignment is a per-row expression (no
    * exchange); the only shuffle is the candidate equi-join on `cell`. At
    * scale the index side is partitioned by cell (one shuffle at build),
    * probes touch nprobe/nlist of the data. */
  def ivfTopK(vectors: DataFrame, probeIds: Column, k: Int,
      nlist: Int = 16, nprobe: Int = 2, dim: Int = 64): DataFrame = {
    val cents = ivfCentroidArrays(nlist, dim)
    val indexed = assignCells(vectors, cents, "v", 1)
      .withColumnRenamed("cid", "cell")
    val probes = assignCells(
      vectors.filter(probeIds)
        .select(col("vec_id").as("query_id"), col("v").as("q")),
      cents, "q", nprobe)
      .withColumnRenamed("cid", "cell")
    val scored = indexed.join(probes, "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim", round(cosine(col("q"), col("v")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    scored
      .select(col("query_id"), col("vec_id"), col("sim"))
      .distinct() // a candidate may appear via both probed cells
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** LSH-bucketed top-k with XOR-1-bit multi-probe: each probe searches its
    * own bucket plus the `bits` neighbor buckets differing in exactly one
    * sign bit — the standard multi-probe trick (one flipped hyperplane is
    * the likeliest way a true neighbor lands elsewhere). Deterministic, so
    * the oracle mirrors it exactly. Buckets partition the index side, so a
    * candidate appears via at most one probed bucket — no dedup needed.
    * Candidate volume is (bits+1)× the single-probe cost; recall at
    * bits=8/k=3 measured ≥0.8 vs [[bruteTopK]] (SimilaritySpec). */
  def lshTopKMultiProbe(vectors: DataFrame, probeIds: Column, k: Int,
      bits: Int = 8, dim: Int = 64): DataFrame = {
    val bucketed = vectors
      .withColumn("bucket", lshBucket("v", bits, dim))
    val probeBuckets = (lit(0L) +: (0 until bits).map(j => lit(1L << j)))
      .map(mask => col("b0").bitwiseXOR(mask))
    val probes = bucketed.filter(probeIds)
      .select(col("vec_id").as("query_id"), col("v").as("q"),
        col("bucket").as("b0"))
      .withColumn("bucket", explode(array(probeBuckets: _*)))
      .drop("b0")
    val scored = bucketed.join(probes, "bucket")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim", round(cosine(col("q"), col("v")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("query_id", "vec_id", "sim", "rn")
  }

  /** Smallest `b >= floorBits` with `occupancy * 2^b >= n` — the band width
    * that caps expected bucket occupancy at `occupancy` vectors (so
    * candidate volume is `bands·occupancy/2` pairs PER VECTOR — constant,
    * and the refine join's shuffle scales linearly with the corpus). Pure
    * integer arithmetic, so the DuckDB oracle derives the identical width
    * (`SELECT MIN(b) FROM range(floorBits, 41) WHERE (1<<b)*occupancy >= n`;
    * q18 SQL) with no float-log boundary risk. */
  def adaptiveBandBits(n: Long, occupancy: Long = 4L,
      floorBits: Int = 4): Int = {
    var b = floorBits
    while (b < 40 && (1L << b) * occupancy < n) b += 1
    b
  }

  /** Banded-LSH near-duplicate vector pairs — the scale path for
    * [[nearDupPairs]]: `bands` sign-bit band keys per vector (band b over
    * plane family `b*bandBits..(b+1)*bandBits-1`), one band-key equi-join
    * per band (ids only — vector payloads are re-attached once after pair
    * dedup, so the band fan-out never shuffles embeddings), then an exact
    * rounded-cosine refine. All joins are equi-joins: no
    * BroadcastNestedLoopJoin anywhere in the plan (asserted in
    * SimilarityScaleSpec).
    *
    * `bandBits <= 0` (the default) derives the band width from the corpus
    * count via [[adaptiveBandBits]]: expected bucket occupancy is capped
    * (default 4), so expected candidate volume is `bands * n * occupancy /
    * 2` — LINEAR in n (16 candidate pairs per vector at the defaults),
    * where a fixed width (the old 8×4 default's 16 buckets per band) grows
    * candidates as `bands * n² / 2^bandBits`, a quadratic scale-killer past
    * ~10⁵ vectors. One count() job pays for the sizing.
    *
    * Band keys come from [[graft.functions.BandKey]]'s HASHED plane family,
    * not [[lshBucket]]'s affine stream — the affine stream's 667-period
    * component recycling correlates planes past index ~10, which held
    * measured collisions at ~0.7×/bit (a quadratic floor no amount of
    * adaptive sizing escapes); hashed planes halve collisions per bit, so
    * the occupancy cap actually binds.
    *
    * Recall: a pair collides in one band with prob (1−θ/π)^bandBits. Wider
    * adaptive bands trade borderline-pair recall for the linear candidate
    * bound — at bandBits=14 (n≈64k) a cos ≥ 0.999 duplicate still collides
    * with prob ≈ 1−(1−0.986^14)^8 ≈ 0.999999, while cos = 0.9 borderline
    * pairs drop to ~0.6; raise `bands` when borderline recall matters at
    * scale. The DuckDB oracle replicates the identical adaptive banding
    * (q18 SQL), so results stay engine-identical even where recall < 1. */
  def bandedNearDupPairs(vectors: DataFrame, minCos: Double,
      bands: Int = 8, bandBits: Int = 0, dim: Int = 64): DataFrame = {
    import graft.functions.Dot
    val spread = Scale.ensureParallelism(vectors)
    val bb =
      if (bandBits > 0) bandBits
      else adaptiveBandBits(spread.count())
    val keyed = spread
      .select(col("vec_id"), posexplode(array((0 until bands).map(b =>
        graft.functions.BandKey.of(col("v"), bb, dim, b * bb)): _*))
        .as(Seq("band", "key")))
    val cand = keyed.select(col("band"), col("key"), col("vec_id").as("id_a"))
      .join(keyed.select(col("band"), col("key"), col("vec_id").as("id_b")),
        Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    val withNorm = spread.withColumn("nrm", sqrt(Dot.of(col("v"), col("v"))))
    val a = withNorm.select(
      col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = withNorm.select(
      col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    cand.join(a, "id_a").join(b, "id_b")
      .withColumn("sim",
        round(Dot.of(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("sim") >= minCos)
      .select("id_a", "id_b", "sim")
  }

  /** Closed-form seed codebooks for product quantization — same
    * engine-agnostic integer family as [[ivfCentroidArrays]], offset so PQ
    * and IVF seeds decorrelate. Shape: m blocks × ks centroids × subDim. */
  def pqSeedBooks(m: Int, ks: Int, subDim: Int): Seq[Seq[Seq[Double]]] =
    (0 until m).map { b =>
      (0 until ks).map { j =>
        (0 until subDim).map { i =>
          ((1103515245L * ((b * ks + j) * subDim + i + 7919L) + 12345L)
            % 2001L - 1000L) / 1000.0
        }
      }
    }

  /** Lloyd-trained product-quantization codebooks: each of the `m`
    * sub-blocks is k-means'd independently (min-L2 assignment via the
    * codegen'd [[graft.functions.PqEncode]] — zero joins), with per-(block,
    * code) means through the map-side-combined [[graft.functions.CentroidAgg]].
    * One Spark job per iteration for ALL blocks at once; only m·ks·subDim
    * doubles cross the driver per iteration. Empty codes keep their previous
    * centroid. */
  def pqTrain(vectors: DataFrame, m: Int = 8, ks: Int = 16, dim: Int = 64,
      iters: Int = 3, vCol: String = "v"): Seq[Seq[Seq[Double]]] = {
    import vectors.sparkSession.implicits._
    val subDim = dim / m
    require(m * subDim == dim, s"m=$m must divide dim=$dim")
    var books = pqSeedBooks(m, ks, subDim)
    var it = 0
    while (it < iters) {
      val assigned = vectors
        .withColumn("__codes", graft.functions.PqEncode.of(col(vCol), books))
        .select(posexplode(col("__codes")).as(Seq("b", "code")), col(vCol))
        .select(col("b").cast("int").as("b"), col("code").cast("int").as("code"),
          slice(col(vCol), col("b") * subDim + 1, lit(subDim))
            .cast("array<double>").as("sv"))
        .as[(Int, Int, Seq[Double])]
      val means = assigned.groupByKey(t => (t._1, t._2)).mapValues(_._3)
        .agg(new graft.functions.CentroidAgg(subDim).toColumn.name("c"))
        .collect().toMap // m·ks rows — bounded, driver-side by design
      books = books.zipWithIndex.map { case (book, b) =>
        book.zipWithIndex.map { case (c, j) => means.getOrElse((b, j), c) }
      }
      it += 1
    }
    books
  }

  /** PQ top-k cosine (asymmetric distance): vectors are unit-normalized,
    * PQ-encoded to `m` codes (m bytes at ks ≤ 256 — a 64× memory cut on a
    * 64-dim double vector), and scored against each probe's per-block
    * lookup table in `m` adds instead of `dim` multiplies
    * ([[graft.functions.PqScore]]). The top `refineFactor·k` PQ candidates
    * per probe are re-ranked by exact cosine — the standard
    * short-list-then-refine recall repair. Probe side broadcasts; the scan
    * side streams — at 100 TB the index pass reads codes only, never raw
    * vectors (those join back just for the short list). */
  def pqTopK(vectors: DataFrame, probeIds: Column, k: Int,
      m: Int = 8, ks: Int = 16, dim: Int = 64, iters: Int = 3,
      refineFactor: Int = 4): DataFrame = {
    import graft.functions.{Dot, PqEncode, PqLut, PqScore}
    val unit = Scale.ensureParallelism(vectors)
      .withColumn("__nrm", sqrt(Dot.of(col("v"), col("v"))))
      .filter(col("__nrm") > 0.0) // zero vectors have no cosine
      .withColumn("vn", transform(col("v"), x => x / col("__nrm")))
      .drop("__nrm")
    val books = pqTrain(unit, m, ks, dim, iters, vCol = "vn")
    val index = unit.select(col("vec_id"), col("vn"),
      PqEncode.of(col("vn"), books).as("codes"))
    val probes = index.filter(probeIds)
      .select(col("vec_id").as("query_id"),
        PqLut.of(col("vn"), books).as("lut"), col("vn").as("q"))
    val wPq = Window.partitionBy("query_id")
      .orderBy(col("pq_score").desc, col("vec_id"))
    val wExact = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("vec_id"))
    index.join(broadcast(probes), col("vec_id") =!= col("query_id"))
      .withColumn("pq_score", PqScore.of(col("codes"), col("lut"), ks))
      .withColumn("prn", row_number().over(wPq))
      .filter(col("prn") <= k * refineFactor)
      .withColumn("sim", round(Dot.of(col("q"), col("vn")), 6))
      .withColumn("rn", row_number().over(wExact))
      .filter(col("rn") <= k)
      .select("query_id", "vec_id", "sim", "rn")
  }

  /** IVF+PQ top-k — the compounding 100 TB ANN shape: candidates come from
    * an equi-join on the IVF cell (probes touch nprobe/nlist of the index,
    * never a broadcast full scan), the scanned index carries only `m` PQ
    * codes per vector (no raw embeddings in the shuffle), and the exact
    * cosine refine joins the raw vectors back for just the
    * `refineFactor·k` short list per probe. Every join is an equi-join.
    *
    * A candidate appears via at most one probed cell (index cells
    * partition the vectors), so no dedup pass is needed. */
  def ivfPqTopK(vectors: DataFrame, probeIds: Column, k: Int,
      nlist: Int = 16, nprobe: Int = 4, m: Int = 8, ks: Int = 16,
      dim: Int = 64, iters: Int = 3, refineFactor: Int = 4): DataFrame = {
    import graft.functions.{Dot, PqEncode, PqLut, PqScore}
    val unit = Scale.ensureParallelism(vectors)
      .withColumn("__nrm", sqrt(Dot.of(col("v"), col("v"))))
      .filter(col("__nrm") > 0.0) // zero vectors have no cosine
      .withColumn("vn", transform(col("v"), x => x / col("__nrm")))
      .drop("__nrm")
    val cents = ivfCentroidArrays(nlist, dim)
    val books = pqTrain(unit, m, ks, dim, iters, vCol = "vn")
    val index = assignCells(unit, cents, "vn", 1)
      .withColumnRenamed("cid", "cell")
      .select(col("vec_id"), col("cell"), col("vn"),
        PqEncode.of(col("vn"), books).as("codes"))
    val probeVecs = unit.filter(probeIds)
      .select(col("vec_id").as("query_id"), col("vn").as("q"))
    val probes = assignCells(probeVecs, cents, "q", nprobe)
      .withColumnRenamed("cid", "cell")
      .select(col("query_id"), col("cell"), PqLut.of(col("q"), books).as("lut"))
    val wPq = Window.partitionBy("query_id")
      .orderBy(col("pq_score").desc, col("vec_id"))
    val wExact = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("vec_id"))
    val shortList = index.select("vec_id", "cell", "codes")
      .join(probes, "cell") // candidate generation: codes-only equi-join
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("pq_score", PqScore.of(col("codes"), col("lut"), ks))
      .withColumn("prn", row_number().over(wPq))
      .filter(col("prn") <= k * refineFactor)
      .select("query_id", "vec_id")
    shortList
      .join(index.select(col("vec_id"), col("vn")), "vec_id")
      .join(probeVecs, "query_id")
      .withColumn("sim", round(Dot.of(col("q"), col("vn")), 6))
      .withColumn("rn", row_number().over(wExact))
      .filter(col("rn") <= k)
      .select("query_id", "vec_id", "sim", "rn")
  }

  /** Near-duplicate vector pairs above a cosine threshold (brute pairwise).
    * O(n²) — correctness baseline for tests and small sets ONLY; use
    * [[bandedNearDupPairs]] for any real corpus. */
  def nearDupPairs(vectors: DataFrame, minCos: Double): DataFrame = {
    // Precompute each vector's norm once — per-pair work drops to one dot
    // product; sqrt(Σx²) is the same fold as in cosine(), so results are
    // bit-identical to the naive per-pair form.
    import graft.functions.Dot
    val withNorm = vectors.withColumn("nrm", sqrt(Dot.of(col("v"), col("v"))))
    val a = withNorm.select(
      col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = withNorm.select(
      col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("sim",
        round(Dot.of(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("sim") >= minCos)
      .select("id_a", "id_b", "sim")
  }
}
