package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Round4

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`array<float>`) — north-star extension surface
  * (BASELINE.json `north_star`; absent from the reference).
  *
  * Three tiers:
  *   - brute force: broadcast one side, score all pairs, per-query top-k.
  *     THE baseline; exact, oracle-gated. Cost O(|Q|·|C|·d) — fine when
  *     either side broadcasts; at 100 TB use it only for small query sets.
  *   - SRP-LSH (random hyperplane): per-row bit signatures (narrow),
  *     band-bucket join for candidates, exact re-scoring. Sub-linear
  *     candidate generation; probabilistic recall (spec-measured).
  *   - IVF: coarse quantizer (broadcast centroids), bucket-partitioned
  *     corpus, queries probe only nProbe buckets — the partition-pruning
  *     path that survives a 100× scale-up.
  *
  * All cosine math folds element products LEFT-TO-RIGHT in double
  * precision, exactly mirroring the DuckDB oracle's list_reduce — scores
  * are bit-identical across engines, so top-k selection (with vec_id
  * tie-break) is deterministic.
  */
object Similarity {

  /** Left-to-right double-precision dot product of two float/double
    * arrays — a codegen'd custom Expression (see [[graft.functions.VecDot]]),
    * bit-identical to the interpreted
    * `aggregate(zip_with(a,b,_*_), 0.0, _+_)` fold it replaces. */
  def dot(a: Column, b: Column): Column = graft.functions.VecDot(a, b)

  /** Cosine similarity, `dot / sqrt(norm_a * norm_b)` (mirrored verbatim
    * in oracle SQL). NULL on zero-norm inputs. */
  def cosine(a: Column, b: Column): Column = {
    val denom = sqrt(dot(a, a) * dot(b, b))
    when(denom > 0, dot(a, b) / denom)
  }

  /** Exact top-k neighbors for each query vector, by brute force:
    * broadcast the query set (small side), score every (query, corpus)
    * pair, rank per query. Excludes self-matches on equal ids.
    *
    * Two scale guards: (1) self-norms are computed ONCE per row before
    * the join — the naive per-pair `cosine(a,b)` evaluates three dot
    * products per pair, so this cuts 2/3 of the FLOPs; (2) the corpus
    * side is repartitioned to the session's default parallelism — small
    * single-file scans otherwise leave the whole O(|Q|·|C|) score loop on
    * one core (a 1000-executor cluster reading one 10 MB dimension file
    * has the same failure mode). */
  /** Conf key for the brute-force row cap honored by [[cosineTopK]] and
    * [[cosinePairs]] — the declared-exact O(n²) baselines. Oracle/fixture
    * scale passes comfortably; a 100×-scale misuse fails loudly naming
    * the sub-quadratic sibling instead of running for hours. Same
    * bounded-input contract the driver-collect paths already honor. */
  val BruteRowsCapConf = "spark.graft.similarity.maxBruteRows"
  private val DefaultBruteCap = 2000000L

  /** Fail fast when `df` exceeds the configured brute-force cap: counts
    * with a `limit(cap+1)` early-out (never a full scan past the cap). */
  private def bruteForceGuard(df: DataFrame, what: String,
      sibling: String): Unit = {
    val cap = df.sparkSession.conf
      .get(BruteRowsCapConf, DefaultBruteCap.toString).toLong
    val capInt = math.min(cap, Int.MaxValue - 1L).toInt
    val n = df.select(lit(1).as("one")).limit(capInt + 1).count()
    require(n <= cap,
      s"$what is an O(n²) exact baseline capped at $cap rows (input " +
        s"exceeds it) — use $sibling for corpora beyond the cap, or " +
        s"raise $BruteRowsCapConf if the quadratic scan is intended")
  }

  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    bruteForceGuard(corpus, "cosineTopK", "ivfTopK (or ivfKnnJoin)")
    val parallelism = corpus.sparkSession.sparkContext.defaultParallelism
    val c = corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("nbr_vec"),
        dot(col(vecCol), col(vecCol)).as("nbr_nrm"))
      .repartition(parallelism)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      dot(col(vecCol), col(vecCol)).as("q_nrm"))
    val denom = sqrt(col("q_nrm") * col("nbr_nrm"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("nbr_id"))
      .withColumn("cosine",
        when(denom > 0, dot(col("q_vec"), col("nbr_vec")) / denom))
    topKRank(scored, k)
  }

  /** Per-query top-k of scored candidates via the k-bounded
    * [[graft.functions.TopKAgg]] aggregate: partial aggregation prunes
    * every map partition to k rows per query BEFORE the shuffle — the
    * window-function formulation would ship all |Q|·|C| scored pairs.
    * Null scores (zero-norm vectors) sort below all real scores, matching
    * `ORDER BY cosine DESC NULLS LAST, nbr_id`. */
  private[operators] def topKRank(scored: DataFrame, k: Int): DataFrame = {
    val ranked = scored
      .withColumn("__s__", coalesce(col("cosine"), lit(Double.NegativeInfinity)))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg.topK(k)(col("__s__"), col("nbr_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("r0", "t")))
    ranked.select(col("query_id"), col("t.id").as("nbr_id"),
      when(col("t.score") =!= Double.NegativeInfinity, col("t.score"))
        .as("cosine"),
      (col("r0") + 1).cast("long").as("rank"))
  }

  /** Exact embedding near-duplicate pairs: every (a, b), a < b, with
    * cosine ≥ minCosine — the brute-force baseline the oracle gates.
    * O(n²) pair scan with one broadcast side; [[srpNearPairs]] is the
    * sub-quadratic path for corpora where n² is no longer an option. */
  def cosinePairs(vecs: DataFrame, minCosine: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    bruteForceGuard(vecs, "cosinePairs", "srpNearPairs")
    val parallelism = vecs.sparkSession.sparkContext.defaultParallelism
    val normed = vecs.select(col(idCol).as("vid"), col(vecCol).as("vec"),
      dot(col(vecCol), col(vecCol)).as("nrm"))
    val a = normed.select(col("vid").as("id_a"), col("vec").as("vec_a"),
      col("nrm").as("nrm_a")).repartition(parallelism)
    val b = normed.select(col("vid").as("id_b"), col("vec").as("vec_b"),
      col("nrm").as("nrm_b"))
    val denom = sqrt(col("nrm_a") * col("nrm_b"))
    a.crossJoin(broadcast(b))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        when(denom > 0, dot(col("vec_a"), col("vec_b")) / denom))
      .filter(col("cosine") >= minCosine)
      .select("id_a", "id_b", "cosine")
  }

  // --- SRP-LSH ----------------------------------------------------------

  /** Deterministic random hyperplanes (seeded), one per signature bit. */
  def hyperplanes(nBits: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nBits, dim)(rnd.nextGaussian())
  }

  /** Sign-random-projection signature: bit i = [dot(v, r_i) > 0]. Pure
    * per-row computation. */
  def srpSignature(vec: Column, nBits: Int = 32, dim: Int = 64): Column = {
    val planes = hyperplanes(nBits, dim)
    (0 until nBits).map { i =>
      val d = dot(vec, typedLit(planes(i).toSeq))
      when(d > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Near-neighbor pairs with cosine ≥ minCosine via SRP banding +
    * exact re-scoring. Precision is exact (verified); recall is
    * probabilistic: P(band match) = 1-(1-p^r)^b with p = 1-θ/π.
    * `dim` MUST equal the embedding width — hyperplanes are generated at
    * that length and [[graft.functions.VecDot]] returns NULL on a length
    * mismatch, so a wrong dim would NULL every hyperplane dot, collapse
    * all signatures to 0, and funnel the whole corpus into ONE LSH bucket
    * (an O(n²) candidate explosion; exact re-scoring would still keep the
    * output correct). We fail fast instead: each row's embedding width is
    * checked executor-side and a mismatch raises, rather than silently
    * degrading into the quadratic path. */
  def srpNearPairs(vecs: DataFrame, minCosine: Double,
      nBits: Int = 32, rowsPerBand: Int = 4, dim: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val nBands = nBits / rowsPerBand
    val width = rowsPerBand
    // Distributed width guard — no extra driver job, negligible next to
    // the nBits dot products per row.
    val checkedVec = when(size(col(vecCol)) === dim, col(vecCol))
      .otherwise(raise_error(concat(
        lit("srpNearPairs: embedding width "), size(col(vecCol)).cast("string"),
        lit(s" != dim $dim"))))
    val withSig = vecs.select(col(idCol).as("vid"), checkedVec.as("vec"))
      .withColumn("sig", srpSignature(col("vec"), nBits, dim))
    val chunks = array((0 until nBands).map(j =>
      shiftright(col("sig"), j * width).bitwiseAND(lit((1L << width) - 1))): _*)
    // Bands carry only (vid, band, bv): shuffling the vectors b× through
    // the self-join costs more than the join; vectors (+ precomputed
    // self-norms) are joined back onto the deduped candidate pairs.
    val bands = withSig.select(col("vid"),
      posexplode(chunks).as(Seq("band", "bv")))
    val l = bands.select(col("band"), col("bv"), col("vid").as("id_a"))
    val r = bands.select(col("band"), col("bv"), col("vid").as("id_b"))
    val cands = l.join(r, Seq("band", "bv"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    val normed = withSig.select(col("vid"), col("vec"),
      dot(col("vec"), col("vec")).as("nrm"))
    val denom = sqrt(col("nrm_a") * col("nrm_b"))
    cands
      .join(normed.select(col("vid").as("id_a"), col("vec").as("vec_a"),
        col("nrm").as("nrm_a")), Seq("id_a"))
      .join(normed.select(col("vid").as("id_b"), col("vec").as("vec_b"),
        col("nrm").as("nrm_b")), Seq("id_b"))
      .withColumn("cosine",
        when(denom > 0, dot(col("vec_a"), col("vec_b")) / denom))
      .filter(col("cosine") >= minCosine)
      .select("id_a", "id_b", "cosine")
  }

  /** Distributed Lloyd k-means assignments: deterministic init (the
    * vectors with `id < k`, centroid label = seed id), then `iters`
    * rounds of [assign by L2² argmin → per-dimension mean → ROUND to 4
    * decimals (epsilon-biased) → republish as literals]. Each round is
    * one narrow assign pass + one (cluster, dim) hash agg whose shuffle
    * carries O(k·dim) partials — row-count-independent, the
    * agg_vector_centroid shape — plus a bounded k·dim driver collect
    * (the broadcast-side contract, same as the IVF centroid bootstrap).
    *
    * The ROUNDING is what makes the loop cross-engine replayable: raw
    * per-dim means differ between engines by summation-order ulps
    * (~1e-13), which the next round's argmin could amplify into
    * different assignments; rounding with the 1e-9 bias collapses both
    * engines onto identical centroid doubles before each reassignment,
    * so the whole iteration — and the final assignment — is exactly
    * reproducible (the DuckDB oracle replays every round). Distances
    * drop the ‖v‖² term (constant per row, argmin-invariant — both
    * replays drop it); ties break toward the lowest centroid label.
    * Clusters that lose all members keep their previous centroid. */
  def kmeansAssignments(vecs: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 2 && iters >= 1, "kmeansAssignments needs k >= 2, iters >= 1")
    val v = vecs.select(col(idCol).as("vid"), col(vecCol).as("vec"))
    var cents: Array[(Long, Seq[Double])] = v.filter(col("vid") < k)
      .collect().sortBy(_.getLong(0))
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toSeq))
    require(cents.nonEmpty, "kmeansAssignments: no seed vectors with id < k")
    def assignDf(c: Array[(Long, Seq[Double])]): DataFrame = {
      val scores = c.map { case (j, cv) =>
        val cc = cv.foldLeft(0.0)((a, x) => a + x * x) // dotSql fold order
        struct((dot(col("vec"), typedlit(cv)) * -2.0 + lit(cc)).as("d"),
          lit(j).as("j"))
      }
      v.withColumn("cl", least(scores: _*).getField("j"))
    }
    val r4 = (c: Column) => Round4.of(c + lit(1e-9))
    for (_ <- 1 to iters) {
      val means = assignDf(cents)
        .select(col("cl"), posexplode(col("vec")).as(Seq("d", "x")))
        .groupBy("cl", "d").agg(r4(avg(col("x").cast("double"))).as("m"))
        .groupBy("cl")
        .agg(sort_array(collect_list(struct(col("d"), col("m")))).as("dm"))
        .select(col("cl"), transform(col("dm"), _.getField("m")).as("cv"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
      cents = cents.map { case (j, old) => (j, means.getOrElse(j, old)) }
    }
    assignDf(cents).select(col("vid"), col("cl"))
  }

  // --- IVF --------------------------------------------------------------

  // --- Product quantization (PQ / ADC) ---------------------------------

  /** PQ codebooks: `books(s)(j)` = (centroid subvector, its precomputed
    * left-fold ‖·‖²) for 0-based subspace s, code j. A vector's code in
    * subspace s is the INDEX of its nearest centroid — codes double as
    * positions into the per-query ADC distance table. */
  final case class PqCodebooks(subDim: Int,
      books: Array[Array[(Seq[Double], Double)]]) {
    def m: Int = books.length
  }

  /** Deterministic codebooks from existing rows (`id < maxCentroidId`),
    * ids in ascending order — no k-means iteration, so both engines see
    * bit-identical centroids (the same trick as [[ivfTopK]]'s centroid
    * choice). At real scale you'd fit k-means on a sample ONCE, persist
    * the codebooks, and share them across the fleet — they're a few KB. */
  def pqCodebooks(vecs: DataFrame, m: Int, maxCentroidId: Long,
      idCol: String = "vec_id", vecCol: String = "embedding"): PqCodebooks = {
    val rows = vecs.filter(col(idCol) < maxCentroidId)
      .select(col(idCol), col(vecCol)).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble)))
      .sortBy(_._1)
    require(rows.nonEmpty, "pqCodebooks: no centroid rows")
    val d = rows.head._2.length
    require(d % m == 0, s"dim $d not divisible into $m subspaces")
    val subDim = d / m
    val books = Array.tabulate(m) { s =>
      rows.map { case (_, v) =>
        val sub: Seq[Double] = v.slice(s * subDim, (s + 1) * subDim).toSeq
        // left fold — the same summation order as VecDot / the oracle's
        // list_reduce, so the baked-in norms are bit-identical
        (sub, sub.foldLeft(0.0)((acc, x) => acc + x * x))
      }
    }
    PqCodebooks(subDim, books)
  }

  /** ‖a − c‖² via the dot identity `‖a‖² − 2·a·c + ‖c‖²` with a
    * PRECOMPUTED ‖a‖² column — one VecDot per (row, centroid) instead of
    * three. The identity (not Σ(aᵢ−cᵢ)²) is also what the oracle mirrors,
    * term for term, left-associated. */
  private def adcDist(xNorm: Column, xSub: Column,
      cent: (Seq[Double], Double)): Column =
    xNorm - lit(2.0) * dot(xSub, typedLit(cent._1)) + lit(cent._2)

  /** Append `codes` (array<int>): per subspace, the index of the nearest
    * codebook centroid (L2², ties → lowest index). One fused compiled
    * pass ([[graft.functions.PqEncodeExpr]]) — the earlier declarative
    * form (per-subspace slice + 16 struct(adcDist, j) + struct-least)
    * paid an InternalRow per candidate and interpreted struct-ordering
    * comparisons, ~0.4 ms/row; the fused kernel computes the SAME
    * left-fold arithmetic ~50x faster. The 64-dim float vector
    * compresses to m ints — at 100 TB the encoded corpus is ~16×
    * smaller than the raw embeddings and is the ONLY thing the ADC scan
    * reads. Pure narrow map, stays in codegen. */
  def pqEncode(vecs: DataFrame, books: PqCodebooks,
      vecCol: String = "embedding"): DataFrame =
    vecs.withColumn("codes",
      graft.functions.PqEncodeExpr(col(vecCol), books.subDim, books.books))

  /** Approximate top-k by asymmetric distance computation: the corpus is
    * scanned as codes only; each query carries an m×|book| table of
    * subspace distances and scores a candidate with m array lookups — no
    * corpus-vector FLOPs at query time. Scale shape: tables broadcast
    * with the (tiny) query side, the encoded corpus streams map-side, and
    * [[graft.functions.TopKAgg]] prunes to k per query before the
    * shuffle. Deterministic (fixed codebooks, index tie-breaks), so the
    * oracle replays it exactly; accuracy vs exact search is a measured
    * property (see PqSpec), as with any quantized index. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, books: PqCodebooks,
      k: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val parallelism = corpus.sparkSession.sparkContext.defaultParallelism
    val enc = pqEncode(corpus.repartition(parallelism), books, vecCol)
      .select(col(idCol).as("nbr_id"), col("codes"))
    val qt = (0 until books.m).foldLeft(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))) {
      (df, s) =>
        val sub = slice(col("__qv"), s * books.subDim + 1, books.subDim)
        df.withColumn(s"__qsub_$s", sub)
          .withColumn(s"__qn_$s", dot(col(s"__qsub_$s"), col(s"__qsub_$s")))
          .withColumn(s"__tab_$s", array(books.books(s).map(cent =>
            adcDist(col(s"__qn_$s"), col(s"__qsub_$s"), cent)): _*))
    }.select(col("query_id") +:
      (0 until books.m).map(s => col(s"__tab_$s")): _*)
    val adist = (0 until books.m).map(s =>
        element_at(col(s"__tab_$s"), element_at(col("codes"), s + 1) + 1))
      .reduce(_ + _) // left-to-right, mirroring the oracle's list_reduce
    val scored = enc.crossJoin(broadcast(qt))
      .filter(col("query_id") =!= col("nbr_id"))
      .withColumn("adist", adist)
    scored.groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg.topK(k)(-col("adist"), col("nbr_id"))
        .as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("r0", "t")))
      .select(col("query_id"), col("t.id").as("nbr_id"),
        (-col("t.score")).as("adist"), (col("r0") + 1).cast("long").as("rank"))
  }

  /** Assign every vector to its nearest of `centroids` (broadcast lookup,
    * narrow). Returns the input plus a `cluster` column — at scale you
    * would write this out partitioned/bucketed by `cluster`, giving
    * queries physical partition pruning. */
  def ivfAssign(vecs: DataFrame, centroids: Array[(Long, Seq[Double])],
      vecCol: String = "embedding"): DataFrame = {
    // distance via -cosine (unit-normalized data); argmax over centroids.
    // NULL cosine (zero-norm side) coalesces to -Inf so degenerate
    // vectors rank below every real score instead of winning struct
    // comparisons — mirrors ORDER BY s DESC NULLS LAST in the oracle.
    require(centroids.nonEmpty, "ivfAssign needs at least one centroid")
    val scores = centroids.map { case (cid, cvec) =>
      struct(coalesce(cosine(col(vecCol), typedLit(cvec)),
        lit(Double.NegativeInfinity)).as("s"), lit(cid).as("cid"))
    }
    val best = // greatest() demands ≥ 2 args; one centroid is degenerate-but-legal
      if (scores.length == 1) scores.head else greatest(scores: _*)
    vecs.withColumn("cluster", best.getField("cid"))
  }

  /** Pull nProbe-bucket candidates for the query set and re-rank exactly.
    * Touches only |probed clusters| / |clusters| of the corpus — the
    * 100 TB path when buckets are physical partitions. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
      centroids: Array[(Long, Seq[Double])], k: Int, nProbe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val parallelism = corpus.sparkSession.sparkContext.defaultParallelism
    val assigned = ivfAssign(corpus.repartition(parallelism), centroids, vecCol)
      .select(col(idCol).as("nbr_id"), col(vecCol).as("nbr_vec"), col("cluster"),
        dot(col(vecCol), col(vecCol)).as("nbr_nrm"))
    // per query: the nProbe nearest centroids
    val qProbes = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        dot(col(vecCol), col(vecCol)).as("q_nrm"))
      .withColumn("probes", {
        // NULL cosine → +Inf neg-score: sorts LAST, matching the
        // oracle's ORDER BY s DESC NULLS LAST probe ranking
        val scored = centroids.map { case (cid, cvec) =>
          struct(coalesce(-cosine(col("q_vec"), typedLit(cvec)),
            lit(Double.PositiveInfinity)).as("neg"), lit(cid).as("cid"))
        }
        slice(array_sort(array(scored: _*)), 1, nProbe)
      })
      .withColumn("cluster", explode(transform(col("probes"), _.getField("cid"))))
      .select("query_id", "q_vec", "q_nrm", "cluster")
    val denom = sqrt(col("q_nrm") * col("nbr_nrm"))
    val cands = broadcast(qProbes).join(assigned, Seq("cluster"))
      .filter(col("query_id") =!= col("nbr_id"))
      .withColumn("cosine",
        when(denom > 0, dot(col("q_vec"), col("nbr_vec")) / denom))
    topKRank(cands, k)
  }

  /** IVF-PQ: coarse IVF probe + per-cluster ADC over PQ codes — the
    * composition behind every billion-vector index (FAISS IVFADC,
    * Jégou et al. 2011): the inverted lists bound WHICH rows are
    * scored (nProbe/C of the corpus) and the product codes bound WHAT
    * is read per row (m ints, no raw-vector FLOPs at query time).
    * Both halves are the already-gated operators verbatim —
    * [[ivfAssign]] buckets the corpus, [[pqEncode]] compresses it, the
    * query side carries [[ivfTopK]]'s probe list and [[pqTopK]]'s ADC
    * tables — so the composition stays deterministic and fully
    * replayable (fixed centroids/codebooks, index tie-breaks). Scale
    * shape: the encoded corpus (cluster, codes) is ~16× smaller than
    * raw embeddings and shuffles/broadcast-joins on the cluster id
    * only; at 100 TB the clusters are physical partitions and the scan
    * reads nProbe of them. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame,
      centroids: Array[(Long, Seq[Double])], books: PqCodebooks,
      k: Int, nProbe: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val parallelism = corpus.sparkSession.sparkContext.defaultParallelism
    val enc = pqEncode(
        ivfAssign(corpus.repartition(parallelism), centroids, vecCol),
        books, vecCol)
      .select(col(idCol).as("nbr_id"), col("cluster"), col("codes"))
    // query side: the m ADC tables (pqTopK's construction) ...
    val qBase = (0 until books.m).foldLeft(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))) {
      (df, s) =>
        val sub = slice(col("__qv"), s * books.subDim + 1, books.subDim)
        df.withColumn(s"__qsub_$s", sub)
          .withColumn(s"__qn_$s", dot(col(s"__qsub_$s"), col(s"__qsub_$s")))
          .withColumn(s"__tab_$s", array(books.books(s).map(cent =>
            adcDist(col(s"__qn_$s"), col(s"__qsub_$s"), cent)): _*))
    }
    // ... plus ivfTopK's probe list (cosine DESC, cid ASC tie order)
    val qProbes = qBase.withColumn("probes", {
        val scored = centroids.map { case (cid, cvec) =>
          struct(coalesce(-cosine(col("__qv"), typedLit(cvec)),
            lit(Double.PositiveInfinity)).as("neg"), lit(cid).as("cid"))
        }
        slice(array_sort(array(scored: _*)), 1, nProbe)
      })
      .withColumn("cluster",
        explode(transform(col("probes"), _.getField("cid"))))
      .select(col("query_id") +: col("cluster") +:
        (0 until books.m).map(s => col(s"__tab_$s")): _*)
    val adist = (0 until books.m).map(s =>
        element_at(col(s"__tab_$s"), element_at(col("codes"), s + 1) + 1))
      .reduce(_ + _) // left-to-right, mirroring the oracle's list_reduce
    val cands = broadcast(qProbes).join(enc, Seq("cluster"))
      .filter(col("query_id") =!= col("nbr_id"))
      .withColumn("adist", adist)
    cands.groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg.topK(k)(-col("adist"), col("nbr_id"))
        .as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("r0", "t")))
      .select(col("query_id"), col("t.id").as("nbr_id"),
        (-col("t.score")).as("adist"),
        (col("r0") + 1).cast("long").as("rank"))
  }

  /** kNN GRAPH via IVF: top-k neighbors for EVERY corpus row —
    * the sub-quadratic sibling of [[cosineTopK]]'s self-join form. Each
    * row scores only the rows in its `nProbe` nearest clusters:
    * O(n²·nProbe/C) score work instead of O(n²). Unlike [[ivfTopK]],
    * whose SMALL query side is broadcast, both sides here are the corpus,
    * so candidates come from a SHUFFLE equi-join on the cluster id — the
    * corpus is hashed C-way, never broadcast and never crossed. At real
    * scale C is thousands of centroids, so per-cluster candidate lists
    * stay bounded; a hot cluster is AQE's skew-split case, not a plan
    * rewrite. Probe/rank tie-breaks match [[ivfTopK]] exactly. */
  def ivfKnnJoin(corpus: DataFrame, centroids: Array[(Long, Seq[Double])],
      k: Int, nProbe: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val parallelism = corpus.sparkSession.sparkContext.defaultParallelism
    val assigned = ivfAssign(corpus.repartition(parallelism), centroids, vecCol)
      .select(col(idCol).as("nbr_id"), col(vecCol).as("nbr_vec"),
        col("cluster"), dot(col(vecCol), col(vecCol)).as("nbr_nrm"))
    val qProbes = corpus.repartition(parallelism)
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        dot(col(vecCol), col(vecCol)).as("q_nrm"))
      .withColumn("probes", {
        val scored = centroids.map { case (cid, cvec) =>
          struct(coalesce(-cosine(col("q_vec"), typedLit(cvec)),
            lit(Double.PositiveInfinity)).as("neg"), lit(cid).as("cid"))
        }
        slice(array_sort(array(scored: _*)), 1, nProbe)
      })
      .withColumn("cluster", explode(transform(col("probes"), _.getField("cid"))))
      .select("query_id", "q_vec", "q_nrm", "cluster")
    val denom = sqrt(col("q_nrm") * col("nbr_nrm"))
    val cands = qProbes.join(assigned, Seq("cluster"))
      .filter(col("query_id") =!= col("nbr_id"))
      .withColumn("cosine",
        when(denom > 0, dot(col("q_vec"), col("nbr_vec")) / denom))
    topKRank(cands, k)
  }
}
