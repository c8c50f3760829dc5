package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 → sf10 spot probe for the TOPOLOGY-SENSITIVE keys (round-14,
  * r13 verdict item 2): SF1CORRECTNESS + Sf1Probe prove the 10×
  * direction; the 100 TB claims for the keys whose cost depends on
  * graph/bin/span topology — cluster-propagation round counts, span
  * dup fan-in, interval bin explosion, multi-round edge relaxation —
  * rested on design arguments past sf1. This main materializes a
  * 100×-of-sf0.1 fixture (~60M lineitem rows / 10M events / 600k
  * docs) by composing [[Sf1Probe.buildScaled]] a second time (fresh
  * `zz9dup` token tag — see its scaladoc for why re-tagging matters,
  * and the tag is a sentinel no corpus token can start with (r14
  * advice: a plain `d` prefix could silently shrink the certified
  * collocation slice if a real token matched `d[0-9]_`); embeddings
  * via the hop-2-safe per-copy SIGN-FLIP transform — round 15, the
  * similarity arms read them) and, per arm:
  *
  *   - times sf1 vs sf10 in the SAME session (min of two passes each;
  *     ratio ≈ 10 is linear scaling for 10× input);
  *   - checks the 10-independent-copies ROW invariant (rows(sf10) =
  *     10 × rows(sf1); the nation-keyed graph key instead pins
  *     rows(sf10) = rows(sf1) — same 25-node domain);
  *   - where the construction makes copy 0 of sf10 BIT-IDENTICAL to
  *     sf1 (key-local computations — five of six keys), hash-gates
  *     the copy-0 SLICE of the sf10 result against the full sf1
  *     result: an exact differential correctness check at 100× with
  *     no external oracle. (graph_shortest_path_k is excluded by
  *     design: its edge weights derive from GLOBAL trade volume, so
  *     values legitimately change with scale.)
  *
  * Run: `sbt "runMain graft.Sf10Probe"` → SF10PROBE.json. */
object Sf10Probe {

  /** Copy-0 slice for the differential hash gate — None when values
    * legitimately change with global scale. The slice fn gets
    * (df, maxSf1DocId, maxSf1SuppKey, maxSf1VecId, maxSf1UserId). */
  private type Slice = (DataFrame, Long, Long, Long, Long) => DataFrame

  /** One probe arm: inventory keys ride `SparkEntry.queries`; the
    * round-15 similarity arms (r14 verdict item 5) are OPERATOR-level
    * pipelines over the FULL embeddings corpus, because the gated
    * similarity keys deliberately pin small fixed fixtures (vec_id <
    * 500 planted-twin set, 10 queries) whose cost cannot scale — the
    * 100 TB claims live in the operators. fn gets (spark, dir,
    * isSf10). */
  /** `work` (round 16, r15 verdict item 6): per-scale WORK counters —
    * candidate pairs, cluster/bucket load stats — emitted into the
    * arm's JSON row. A near-1× wall ratio alone is consistent with
    * overhead-dominated linear work AND with a degenerate space where
    * nobody collides and no work happens; the counters prove the work
    * itself scaled. One extra aggregate over the arm's own frames. */
  private[graft] case class Arm(name: String, mult: Int, slice: Option[Slice],
      fn: (SparkSession, String, Boolean) => DataFrame,
      work: Option[(SparkSession, String, Boolean) => Seq[(String, Long)]] =
        None)

  private def key(name: String, mult: Int, slice: Option[Slice]): Arm =
    Arm(name, mult, slice,
      (s, dir, _) => SparkEntry.queries(name)(s, dir))

  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** Planted exact-double twin per 40th vector — the
    * embedding_dup_pairs_lsh determinism argument (2·x is an IEEE
    * exponent bump: twin cosines are exactly 1 and SRP signs are
    * bit-identical, so LSH recall is STRUCTURALLY 1) applied to the
    * whole corpus. The copy step (20000·i) is a multiple of 40, so
    * every copy plants the same per-copy twin count and copy-0's
    * planted set is exactly sf1's. */
  private val TwinOff = 1000000000L
  private def plantTwins(e: DataFrame): DataFrame = {
    val base = e.select(col("vec_id"), col("embedding"))
    base.unionByName(base.filter(col("vec_id") % 40 === 0)
      .select((col("vec_id") + TwinOff).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding")))
  }

  private[graft] val Arms: Seq[Arm] = Seq(
    key("dedup_clusters_distributed", 10,
      Some((df, maxDoc, _, _, _) => df.filter(col("doc_id") <= maxDoc))),
    key("text_dedup_passages", 10,
      Some((df, maxDoc, _, _, _) => df.filter(col("doc_id") <= maxDoc))),
    key("join_interval_overlap", 10,
      Some((df, _, maxSupp, _, _) =>
        df.filter(col("l_suppkey") <= maxSupp))),
    key("window_rolling_minmax_wide", 10,
      Some((df, _, maxSupp, _, _) =>
        df.filter(col("l_suppkey") <= maxSupp))),
    // collocation counts are per-copy-local but PMI carries the GLOBAL
    // totals — slice compares (bg, cnt) only; copy-0 bigrams are
    // exactly the sf1 strings (copies 1-9 carry the sentinel
    // zz9dup{i}_ tag, which no corpus token can start with)
    key("text_collocations", 10,
      Some((df, _, _, _, _) => df.filter(!col("bg").rlike("^zz9dup[0-9]_"))
        .select(col("bg"), col("cnt")))),
    // weights = f(global trade volume): values change with scale by
    // design; the 25-nation output domain must not
    key("graph_shortest_path_k", 1, None),
    // round-14 widening: the banded-LSH candidate pipeline (copy-local
    // pairs — disjoint shingle spaces), the w=200 trailing-stats
    // key, and the second fixed-domain iterative graph
    // key (pagerank: 25 nations, volumes change values, domain fixed)
    key("dedup_minhash", 10,
      Some((df, maxDoc, _, _, _) => df.filter(col("doc_a") <= maxDoc))),
    key("window_rolling_std_wide", 10,
      Some((df, _, maxSupp, _, _) => df.filter(col("l_suppkey") <= maxSupp))),
    key("graph_pagerank", 1, None),
    // ---- round-15 similarity arms (r14 verdict item 5) ----
    // IVF-PQ serving: the FIXED 10-query set over a 10×-bigger index —
    // rows invariant (10 queries × k), cost = probed-cluster scan
    // (~n/4): the ratio is the claim; neighbor identities legitimately
    // change with the corpus, so no slice
    key("ann_ivfpq_topk", 1, None),
    // nation-domain graph: every copy adds the SAME per-nation-pair
    // volume, so edge weights scale exactly 10× and the mean-weight
    // edge filter keeps the IDENTICAL edge set → the ppjoin output
    // (pairs, integer cn, rational jaccard) is hash-IDENTICAL — the
    // whole frame is its own slice; the ratio prices the 10× edge
    // BUILD joins
    key("graph_common_neighbors_ppjoin", 1,
      Some((df, _, _, _, _) => df)),
    // full-corpus SRP-LSH near-dup: twins planted per 40th vector at
    // every scale, 2×24-bit bands (16.7M buckets — organic collisions
    // stay negligible at 10×, so candidate work scales with PAIRS not
    // bucket-load²); output = the planted pair set (recall
    // structurally 1, precision exact) → rows 10×, copy-0 pairs ARE
    // sf1's full output
    Arm("embedding_dup_pairs_lsh_corpus", 10,
      Some((df, _, _, maxVec, _) => df.filter(col("id_a") <= maxVec)),
      (s, dir, _) => graft.operators.Similarity.srpNearPairs(
          plantTwins(emb(s, dir)), minCosine = 0.95,
          nBits = 48, rowsPerBand = 24)
        .select(col("id_a"), col("id_b")),
      // work counters: per-band bucket loads under the IDENTICAL
      // 2×24-bit banding (same seeded hyperplanes srpNearPairs uses);
      // candidate_pairs = Σ load·(load−1)/2 per (band, bucket) — the
      // actual self-join work BEFORE cross-band dedup and cosine
      // verification
      work = Some { (s, dir, _) =>
        import graft.operators.Similarity
        val sig = plantTwins(emb(s, dir))
          .select(Similarity.srpSignature(col("embedding"), 48, 64)
            .as("sig"))
        val bands = sig.select(posexplode(array((0 until 2).map(j =>
            shiftright(col("sig"), j * 24)
              .bitwiseAND(lit((1L << 24) - 1))): _*))
          .as(Seq("band", "bv")))
        val r = bands.groupBy("band", "bv").agg(count(lit(1)).as("n"))
          .agg(sum(expr("n * (n - 1) div 2")).as("cand"),
            max(col("n")).as("maxload"), count(lit(1)).as("nbuckets"))
          .head
        Seq("candidate_pairs" -> r.getLong(0),
          "max_bucket" -> r.getLong(1), "n_buckets" -> r.getLong(2))
      }),
    // full-corpus SemDeDup with an LSH-PARTITIONED coarse space: the
    // cluster id is the vector's b-bit SRP signature (spherical,
    // scale-invariant — a twin provably lands with its base), b grown
    // with n so per-cluster load stays ~100 and Σ|c|² stays LINEAR in
    // n — the k ∝ n assignment against explicit centroids would
    // itself be n·k = O(n²), which is exactly the trap this arm
    // documents. dup = lower-id same-cluster neighbor at cosine ≥
    // 0.95 → keep flags are corpus-invariant (only planted twins
    // qualify), so (vec_id, keep) slices exactly despite b differing
    // between scales
    Arm("dedup_semantic_lshpart", 10,
      Some((df, _, _, maxVec, _) => df.filter(col("vec_id") <= maxVec ||
        (col("vec_id") >= TwinOff &&
          col("vec_id") - TwinOff <= maxVec))),
      (s, dir, isSf10) => {
        import graft.operators.Similarity
        val bBits = if (isSf10) 11 else 8
        val corpus = plantTwins(emb(s, dir))
        val assigned = corpus
          .withColumn("cluster",
            Similarity.srpSignature(col("embedding"), bBits, 64))
          .withColumn("nrm",
            Similarity.dot(col("embedding"), col("embedding")))
        val a = assigned.select(col("cluster"), col("vec_id").as("id_a"),
          col("embedding").as("va"), col("nrm").as("na"))
        val b = assigned.select(col("cluster"), col("vec_id").as("id_b"),
          col("embedding").as("vb"), col("nrm").as("nb2"))
        val denom = sqrt(col("na") * col("nb2"))
        val dups = a.join(b, Seq("cluster"))
          .filter(col("id_a") < col("id_b"))
          .withColumn("cos", when(denom > 0,
            Similarity.dot(col("va"), col("vb")) / denom))
          .filter(col("cos") >= 0.95)
          .select(col("id_b").as("vec_id")).distinct()
          .withColumn("dup", lit(true))
        assigned.select("vec_id")
          .join(dups, Seq("vec_id"), "left")
          .select(col("vec_id"),
            coalesce(!col("dup"), lit(true)).as("keep"))
      },
      // work counters (the r15 verdict's named demand): cluster-size
      // distribution of the SAME coarse space the arm joins on —
      // candidate_pairs = Σ |c|·(|c|−1)/2 is the exact pair count the
      // same-cluster self-join produces before the cosine filter, and
      // sum_c2 = Σ|c|² is the SemDeDup cost functional the b-grows-
      // with-n design keeps linear. A 1.1× wall ratio with ~10×
      // candidate_pairs proves real work scaled; a degenerate space
      // would show pairs collapsing instead.
      work = Some { (s, dir, isSf10) =>
        import graft.operators.Similarity
        val bBits = if (isSf10) 11 else 8
        val r = plantTwins(emb(s, dir))
          .select(Similarity.srpSignature(col("embedding"), bBits, 64)
            .as("cluster"))
          .groupBy("cluster").agg(count(lit(1)).as("n"))
          .agg(sum(expr("n * (n - 1) div 2")).as("cand"),
            max(col("n")).as("maxc"),
            sum(expr("n * n")).as("sumc2"),
            count(lit(1)).as("nclusters"))
          .head
        Seq("candidate_pairs" -> r.getLong(0), "max_cluster" -> r.getLong(1),
          "sum_c2" -> r.getLong(2), "n_clusters" -> r.getLong(3))
      }),
    // ---- round-17 arm (r16 verdict item 4): the distinct-window
    // rewrite at 60M rows ----
    // The STRICTLY-OFFSET sibling (widened-spine shifted-probe path,
    // the one the r16 verdict said had no 100×-scale evidence) per
    // user over 10M events: count(DISTINCT event_type) OVER
    // (PARTITION BY user_id ORDER BY day RANGE BETWEEN 6 PRECEDING
    // AND 2 PRECEDING). Copies shift user_id, so sf10 is 10 disjoint
    // per-user problems: rows 10×, and the copy-0 slice (user_id ≤
    // sf1's max) is bit-identical to sf1 — an exact differential gate
    // at 100× with no oracle. Work counter: spine_buckets = distinct
    // observed (user, day) pairs — under the round-17 SPARSE lowering
    // the spine the running sums traverse is exactly the observed ∪
    // shifted bucket set (≤ 2× this counter), so spine cost provably
    // scales with DATA, not with the bucket-domain span.
    Arm("window_distinct_offset_rule_sf10", 10,
      Some((df, _, _, _, maxUser) => df.filter(col("user_id") <= maxUser)),
      (s, dir, _) => {
        val ev = graft.queries.QueryUtil.events(s, dir)
          .select(col("user_id"), col("event_id"),
            expr("ts div 86400000000000").as("day"),
            col("event_type"))
        val out = ev.select(col("user_id"), col("event_id"),
          expr("""count(DISTINCT event_type) OVER
                   (PARTITION BY user_id ORDER BY day
                    RANGE BETWEEN 6 PRECEDING AND 2 PRECEDING)""")
            .as("types_w"))
        val survivors = out.queryExecution.optimizedPlan.collect {
          case wn: org.apache.spark.sql.catalyst.plans.logical.Window
              if wn.windowExpressions.exists(_.exists {
                case ae: org.apache.spark.sql.catalyst.expressions
                    .aggregate.AggregateExpression => ae.isDistinct
                case _ => false
              }) => wn
        }
        require(survivors.isEmpty,
          "window_distinct_offset_rule_sf10: rewrite did not fire")
        out
      },
      work = Some { (s, dir, _) =>
        val ev = graft.queries.QueryUtil.events(s, dir)
          .select(col("user_id"),
            expr("ts div 86400000000000").as("day"),
            col("event_type"))
        val spine = ev.select("user_id", "day").distinct().count()
        val pairs = ev.distinct().count()
        Seq("spine_buckets" -> spine, "delta_pairs" -> 2 * pairs)
      }),
    // ---- round-17 second arm: the prefix-doubling suffix array at
    // 100× (6M docs is not built — the corpus is 10× sf1's 50k docs =
    // 500k docs / ~27M token positions). Copy tagging (`zz9dup{i}_`
    // token prefixes) changes copy 1-9 suffixes but leaves copy 0
    // byte-identical, and GLOBAL ranks of copy-0 suffixes keep their
    // RELATIVE order no matter what the other copies contribute — so
    // densely re-ranking the copy-0 slice must reproduce sf1's full
    // output bit-for-bit: an exact differential gate for the whole
    // iterative pipeline at 100× with no oracle. (The slice's
    // re-rank is a probe-side single-partition window over the
    // 2.7M-row slice — gate cost, not operator cost.) Work counters:
    // positions (the per-pass shuffle volume driver) and vocab (the
    // pre-pass key table; tagging makes it ~10×).
    Arm("text_suffix_ranks_sf10", 10,
      Some((df, maxDoc, _, _, _) => {
        val w = org.apache.spark.sql.expressions.Window.orderBy("sa_rank")
        df.filter(col("doc_id") <= maxDoc)
          .withColumn("sa_rank", row_number().over(w).cast("long"))
      }),
      (s, dir, _) => graft.operators.SuffixArray.suffixRanks(
        s.read.parquet(s"$dir/documents.parquet")),
      work = Some { (s, dir, _) =>
        val toks = s.read.parquet(s"$dir/documents.parquet")
          .select(explode(split(col("text"), " ")).as("tok"))
        val positions = toks.count()
        val vocab = toks.distinct().count()
        Seq("positions" -> positions, "vocab" -> vocab)
      }))

  /** the shared order-independent exact digest
    * ([[graft.functions.FrameDigest]]). */
  private def digest(df: DataFrame): (Long, Long, Long) =
    graft.functions.FrameDigest.of(df)

  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    val sf1 = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft_sf1")
    // dir is tag-suffixed so a stale fixture built with an older tag
    // (its _READY gate would skip the rebuild) can never be probed
    val sf10 = sys.env.getOrElse("SPARK_GRAFT_SF10_DIR",
      "/tmp/graft_sf10_zz9dup")
    System.err.println("[sf10probe] building sf1 (10x sf0.1) ...")
    Sf1Probe.buildSf1(spark, "/root/testdata/sf0.1", sf1)
    System.err.println("[sf10probe] building sf10 (10x sf1, tag zz9dup, " +
      "sign-flip embeddings) ...")
    Sf1Probe.buildScaled(spark, sf1, sf10, copies = 10, tag = "zz9dup",
      withEmbeddings = true, embedSignFlip = true)

    val maxDoc = spark.read.parquet(s"$sf1/documents.parquet")
      .agg(max(col("doc_id"))).head.getLong(0)
    val maxSupp = spark.read.parquet(s"$sf1/lineitem.parquet")
      .agg(max(col("l_suppkey"))).head.getLong(0)
    val maxVec = spark.read.parquet(s"$sf1/embeddings.parquet")
      .agg(max(col("vec_id"))).head.getLong(0)
    val maxUser = graft.queries.QueryUtil.events(spark, sf1)
      .agg(max(col("user_id"))).head.getLong(0)

    val only = LocalSession.onlyKeys("sf10probe", Arms.map(_.name))
    val probe = only.fold(Arms) { o => Arms.filter(a => o(a.name)) }

    // warmup (codegen/JIT) at the smallest sf, like Bench/Sf1Probe
    probe.foreach { arm =>
      try arm.fn(spark, "/root/testdata/sf0.001", false)
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    System.gc()

    def time(arm: Arm, dir: String, isSf10: Boolean): Double = {
      val t0 = System.nanoTime()
      arm.fn(spark, dir, isSf10)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def best(arm: Arm, dir: String, isSf10: Boolean): Double =
      math.min(time(arm, dir, isSf10), time(arm, dir, isSf10))
    def r3(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))

    var bad = List.empty[String]
    val rows = probe.map { arm =>
      val k = arm.name
      val t1 = best(arm, sf1, false)
      val t10 = best(arm, sf10, true)
      val r1 = arm.fn(spark, sf1, false).count()
      val r10 = arm.fn(spark, sf10, true).count()
      val rowsOk = r10 == arm.mult * r1
      val hashOk = arm.slice.map { sl =>
        val want = digest(sl(arm.fn(spark, sf1, false),
          maxDoc, maxSupp, maxVec, maxUser))
        val got = digest(sl(arm.fn(spark, sf10, true),
          maxDoc, maxSupp, maxVec, maxUser))
        want == got
      }
      if (!rowsOk || hashOk.contains(false)) bad ::= k
      // work counters at BOTH scales (r15 verdict item 6): the wall
      // ratio alone can't distinguish linear work from a degenerate
      // no-collision space — the counters prove the work scaled
      val workJson = arm.work.map { wf =>
        val w1 = wf(spark, sf1, false)
        val w10 = wf(spark, sf10, true)
        val pairs = w1.map { case (n, v1) =>
          val v10 = w10.find(_._1 == n).map(_._2).getOrElse(-1L)
          System.err.println(f"[sf10probe]   work $k%-22s $n%-16s " +
            f"$v1%12d -> $v10%14d (${v10.toDouble / math.max(1L, v1)}%6.2fx)")
          s""""$n":{"sf1":$v1,"sf10":$v10}"""
        }
        s""","work":{${pairs.mkString(",")}}"""
      }.getOrElse("")
      System.err.println(f"[sf10probe] $k%-28s sf1 ${t1}%7.2fs  " +
        f"sf10 ${t10}%8.2fs  ratio ${t10 / t1}%5.2fx  " +
        f"rows $r1%9d -> $r10%10d (x${arm.mult} ${rowsOk}%-5s)  " +
        s"slice_hash ${hashOk.map(_.toString).getOrElse("n/a")}")
      s""""$k":{"sf1":${r3(t1)},"sf10":${r3(t10)},""" +
        s""""ratio":${r3(t10 / t1)},"rows_sf1":$r1,"rows_sf10":$r10,""" +
        s""""rows_mult_want":${arm.mult},"rows_ok":$rowsOk,""" +
        s""""slice_hash_match":${hashOk.map(_.toString).getOrElse("null")}""" +
        workJson + "}"
    }
    val line = s"""{"metric":"sf10probe","unit":"sec","fixture":""" +
      s""""100x sf0.1 (10x sf1, tag zz9dup, sign-flip embeddings)",""" +
      s""""keys":{""" + rows.mkString(",") + "}}"
    println(line)
    if (only.isEmpty)
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("SF10PROBE.json"), line + "\n")
      catch { case _: Throwable => () }
    spark.stop()
    if (bad.nonEmpty) {
      System.err.println(s"[sf10probe] GATE FAIL: ${bad.reverse.mkString(",")}")
      sys.exit(1)
    }
  }
}
